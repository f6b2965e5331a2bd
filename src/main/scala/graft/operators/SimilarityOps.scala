package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (builder brief; no
  * reference analog). Two tiers:
  *
  *   - X1 brute-force top-k: the exact baseline. The query set is tiny
  *     and BROADCAST; the corpus scan stays partition-parallel with no
  *     shuffle until the per-query top-k (a window over ≤ |Q| key
  *     partitions carrying only (query, neighbor, cos) rows — at 100 TB
  *     you'd swap the window for a per-partition top-k + driver merge,
  *     i.e. the TakeOrderedAndProject shape, per query).
  *   - X2 LSH-bucketed ANN: the scale path. Corpus is pre-bucketed by
  *     sign-LSH; each query probes ONLY its own bucket, so compute and
  *     shuffle drop by the bucket fan-out (16× here; at 100 TB the bit
  *     count tunes bucket size and the corpus side would be WRITTEN
  *     bucket-partitioned so a probe is a partition-pruned scan, not a
  *     join at all). Same output shape as X1, so recall is directly
  *     measurable against the brute-force baseline.
  *
  * Cosine math follows the VectorFunctions left-fold contract: doubles
  * are bit-identical to the DuckDB oracle, so raw cosines appear in
  * hash-compared output.
  */
object SimilarityOps {

  val K = 5
  val NumQueries = 8
  val BucketBits = 4

  /** IVF coarse-quantizer size: corpus vectors [NumQueries,
    * NumQueries+NumCentroids) serve as the deterministic "centroids" (a
    * k-means fit would be nondeterministic across engines; the plan
    * shape — assign-by-argmax, probe-own-cell — is identical). */
  val NumCentroids = 8

  private[graft] def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("v"),
        signBucket(col("embedding"), BucketBits).as("bucket"))
      .withColumn("nrm", sqrt(dotD(col("v"), col("v"))))

  /** Query-side cosine against the joined corpus row. */
  private def qCos: Column =
    dotD(col("qv"), col("v")) / (col("qn") * col("nrm"))

  /** Shared X1-X4 tail: (query_id, neighbor_id, cos) pairs → dense-rank
    * top-[[K]] per query, cosine-desc with neighbor-id tie-break. Sort-free
    * (for composition — X5); the registered queries add the presentation
    * order via Common.presented. */
  private def topKCore(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** X1 — brute-force cosine top-k for queries vec_id < [[NumQueries]],
    * self-match excluded. */
  def knnBrute(s: SparkSession, dir: String): DataFrame =
    Common.presented(knnBruteCore(s, dir), col("query_id"), col("rank"))

  private def knnBruteCore(s: SparkSession, dir: String): DataFrame =
    knnBruteCore(corpus(s, dir))

  private[graft] def knnBruteCore(c: DataFrame): DataFrame = {
    val q = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    topKCore(
      c.join(broadcast(q), col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), qCos.as("cos")))
  }

  /** X2 — ANN: identical contract to X1 but each query probes only its
    * sign-LSH bucket. */
  def annLsh(s: SparkSession, dir: String): DataFrame =
    Common.presented(annLshCore(s, dir), col("query_id"), col("rank"))

  private def annLshCore(s: SparkSession, dir: String): DataFrame =
    annLshCore(corpus(s, dir))

  private def annLshCore(c: DataFrame): DataFrame = {
    val q = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qb"))
    topKCore(
      c.join(broadcast(q),
          col("qb") === col("bucket") && col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), qCos.as("cos")))
  }

  /** X3 — IVF-style ANN: every vector is assigned to its
    * nearest-centroid cell (argmax cosine over a broadcast centroid
    * set), queries probe ONLY their own cell. The other classic ANN
    * scale path next to sign-LSH (X2): cells adapt to the data
    * distribution instead of axis-sign geometry. At 100 TB: centroids
    * come from a sampled k-means fit, the corpus is WRITTEN
    * cell-partitioned so a probe is a partition-pruned scan, and
    * multi-probe (n nearest cells) buys recall — same plan shape, the
    * assignment join stays a broadcast (centroid set ≪ corpus). */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    Common.presented(annIvfCore(s, dir), col("query_id"), col("rank"))

  private def annIvfCore(s: SparkSession, dir: String): DataFrame =
    annIvfCore(corpus(s, dir))

  private def annIvfCore(c: DataFrame): DataFrame = {
    val cents = c
      .filter(col("vec_id") >= NumQueries &&
        col("vec_id") < NumQueries + NumCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("nrm").as("cn"))
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    val assigned = c.join(broadcast(cents))
      .withColumn("cent_cos",
        dotD(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("arn", row_number().over(aw))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"))
    val q = assigned.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cent_id").as("qc"))
    topKCore(
      assigned.join(broadcast(q),
          col("qc") === col("cent_id") && col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), qCos.as("cos")))
  }

  /** X4 — multi-probe LSH ANN: each query probes its own sign-LSH bucket
    * PLUS every bucket at hamming distance 1 (one flipped bit) —
    * [[BucketBits]]+1 probes covering vectors that landed just across a
    * hyperplane. The standard recall lever for bucketed ANN: ~5× the
    * candidates of X2, still a tiny fraction of brute force, and no
    * re-sharding of the corpus (the probe list is generated query-side).
    * Probe buckets are pairwise distinct, so no pair dedup is needed. */
  def annMultiProbe(s: SparkSession, dir: String): DataFrame =
    Common.presented(annMultiProbeCore(s, dir), col("query_id"), col("rank"))

  private def annMultiProbeCore(s: SparkSession, dir: String): DataFrame =
    annMultiProbeCore(corpus(s, dir))

  private def annMultiProbeCore(c: DataFrame): DataFrame = {
    val q = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qb"))
    val probes = q.select(col("query_id"), col("qv"), col("qn"),
        explode(array(
          col("qb") +: (0 until BucketBits).map(i =>
            expr(s"int(qb) ^ ${1 << i}")): _*)).as("pb"))
    topKCore(
      c.join(broadcast(probes),
          col("pb") === col("bucket") && col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), qCos.as("cos")))
  }

  /** X5 — recall@k of every ANN tier against the X1 exact baseline, the
    * quality metric that justifies the bucketed scale paths: each ANN
    * top-k joins the brute-force top-k on (query, neighbor); matches/K
    * is that query's recall. Each join side carries ≤ K rows per query
    * and at most one match per (query, neighbor), so the three left
    * joins stay 1:1 — at 100 TB this is the standard offline
    * recall-eval job run on a sampled query set, and it's how the
    * BucketBits / multi-probe / NumCentroids knobs get tuned. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus projection feeds all four pipelines: the signBucket +
    // norm compute and the parquet scan happen once instead of four
    // times (persist is re-applied if an external clearCache dropped
    // the registration — the x5 plan reads the corpus 5×: four
    // pipelines plus the IVF centroid leg).
    val c = corpus(s, dir)
    CacheScope.persist(c)
    val brute = knnBruteCore(c).select(col("query_id"), col("neighbor_id"))
    def hits(df: DataFrame, mark: String) =
      df.select(col("query_id"), col("neighbor_id"), lit(1).as(mark))
    val joined = brute
      .join(hits(annLshCore(c), "in_lsh"), Seq("query_id", "neighbor_id"), "left")
      .join(hits(annIvfCore(c), "in_ivf"), Seq("query_id", "neighbor_id"), "left")
      .join(hits(annMultiProbeCore(c), "in_mp"), Seq("query_id", "neighbor_id"), "left")
    def n(mark: String) = sum(coalesce(col(mark), lit(0))).cast("int")
    joined.groupBy(col("query_id"))
      .agg(n("in_lsh").as("n_lsh"), n("in_ivf").as("n_ivf"), n("in_mp").as("n_mp"))
      .select(col("query_id"), col("n_lsh"), col("n_ivf"), col("n_mp"),
        (col("n_lsh").cast("double") / K).as("recall_lsh"),
        (col("n_ivf").cast("double") / K).as("recall_ivf"),
        (col("n_mp").cast("double") / K).as("recall_mp"))
      .transform(Common.presented(_, col("query_id")))
  }

  /** X29 — recall@k of the COMPRESSED serving tiers against the x1
    * exact baseline — x5's eval discipline applied to the compression
    * ladder (x5 audits the candidate-pruning tiers; x29 audits the
    * tiers that change the DISTANCE itself): SQ8 symmetric code
    * distance (x22), 1-bit sign Hamming (x26), SQ8 shortlist + exact
    * re-rank (x25) and IVF-PQ + exact re-rank (x27). This is the
    * table that justifies each byte budget: it shows the re-rank
    * stages buying back what their quantized stage lost, per query —
    * the offline eval that tunes (bits, R, nProbe) before a tier
    * serves. Same 1:1 join algebra as x5: each side carries ≤ K rows
    * per query. */
  def quantRecall(s: SparkSession, dir: String): DataFrame = {
    val brute = knnBruteCore(corpus(s, dir))
      .select(col("query_id"), col("neighbor_id"))
    def hits(df: DataFrame, mark: String) =
      df.select(col("query_id"), col("neighbor_id"), lit(1).as(mark))
    val joined = brute
      .join(hits(sq8Sdc(s, dir), "in_sdc"),
        Seq("query_id", "neighbor_id"), "left")
      .join(hits(signHamming(s, dir), "in_ham"),
        Seq("query_id", "neighbor_id"), "left")
      .join(hits(sq8Rerank(s, dir), "in_sq8rr"),
        Seq("query_id", "neighbor_id"), "left")
      .join(hits(ivfPqRerank(s, dir), "in_ivfrr"),
        Seq("query_id", "neighbor_id"), "left")
      .join(hits(sq8IvfRerank(s, dir), "in_ivfsq"),
        Seq("query_id", "neighbor_id"), "left")
    def n(mark: String) = sum(coalesce(col(mark), lit(0))).cast("int")
    joined.groupBy(col("query_id"))
      .agg(n("in_sdc").as("n_sdc"), n("in_ham").as("n_ham"),
        n("in_sq8rr").as("n_sq8rr"), n("in_ivfrr").as("n_ivfrr"),
        n("in_ivfsq").as("n_ivfsq"))
      .select(col("query_id"),
        col("n_sdc"), col("n_ham"), col("n_sq8rr"), col("n_ivfrr"),
        col("n_ivfsq"),
        (col("n_sdc").cast("double") / K).as("recall_sdc"),
        (col("n_ham").cast("double") / K).as("recall_ham"),
        (col("n_sq8rr").cast("double") / K).as("recall_sq8rr"),
        (col("n_ivfrr").cast("double") / K).as("recall_ivfrr"),
        (col("n_ivfsq").cast("double") / K).as("recall_ivfsq"))
      .transform(Common.presented(_, col("query_id")))
  }

  /** X6 — per-bucket top-k through the custom [[graft.functions.TopKByAgg]]
    * aggregate (SURVEY §2.11 UDAF surface): the window-free top-k — a
    * bounded k-entry heap per group, merged map-side like any partial
    * agg, shipping k pairs per group per partition instead of sorting
    * each group's full row set. */
  def topkAgg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val e = corpus(s, dir)
    val agg = GraftSqlBridge.column(
      graft.functions.TopKByAgg(
        GraftSqlBridge.expression(col("nrm")),
        GraftSqlBridge.expression(col("vec_id")), K).toAggregateExpression())
    e.groupBy(col("bucket"))
      .agg(agg.as("top_ids"), count(lit(1)).as("n_vecs"))
  }

  /** X6 compare surface: `top_ids` serialized to JSON — the driver's
    * comparer pandas-sorts every column before hashing and array cells
    * are unhashable there. Long arrays serialize identically on both
    * engines (`[7,9]`, compact); TopKByAggSpec keeps the typed array
    * surface covered. */
  def topkAggJson(s: SparkSession, dir: String): DataFrame =
    topkAgg(s, dir)
      .select(col("bucket"), to_json(col("top_ids")).as("top_ids"),
        col("n_vecs"))
      .transform(Common.presented(_, col("bucket")))

  /** X7 — one Lloyd's refinement of the IVF coarse quantizer: assign to
    * the deterministic seed centroids (X3's), recompute each cell's
    * mean, re-assign — the codebook-training step X3's doc comment
    * defers to ("centroids come from a sampled k-means fit"). Output is
    * each vector's before/after cell and its cosine to the refined
    * centroid.
    *
    * Per iteration: ONE broadcast join (centroid set ≪ corpus) + one
    * argmax window keyed on vec_id + one (cell, dim) aggregate — no
    * all-pairs stage anywhere, and the centroid tables never leave the
    * executors (no driver collect; MLlib centralizes centroids on the
    * driver instead, which is also fine at k·d scale — this stays
    * pure-DataFrame to keep the lineage declarative). At 100 TB you run
    * the update on a SAMPLE (codebooks don't need the full corpus) and
    * only the final assign touches every row.
    *
    * Determinism: the mean is an exact DECIMAL sum divided as double,
    * then cast to float — elements reach decimal THROUGH double (see
    * the inline note: DuckDB's direct FLOAT→DECIMAL misrounds), a
    * double→decimal(20,9) rounding tie is impossible (a halfway point
    * at scale 9 has 5⁹ in its denominator; binary floats cannot
    * represent it), decimal→double is correctly rounded on both
    * engines, and the refined-centroid cosine then follows the
    * [[graft.functions.FloatVecDot]] fold contract like every other
    * compared double. */
  def kmeansRefine(s: SparkSession, dir: String): DataFrame =
    kmeansRefineCore(corpus(s, dir),
      col("vec_id") >= NumQueries && col("vec_id") < NumQueries + NumCentroids)

  /** [[kmeansRefine]] over any (vec_id, v, nrm) frame with an arbitrary
    * seed predicate — split out so the refinement contract is
    * unit-testable on crafted clusters (KMeansSpec). */
  def kmeansRefineCore(c: DataFrame, seedPred: Column): DataFrame = {
    val seeds = c
      .filter(seedPred)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("nrm").as("cn"))
    def assign(vecs: DataFrame, cents: DataFrame, tag: String): DataFrame = {
      val aw = Window.partitionBy(col("vec_id"))
        .orderBy(col("cent_cos").desc, col("cent_id"))
      vecs.join(broadcast(cents))
        .withColumn("cent_cos",
          dotD(col("v"), col("cv")) / (col("nrm") * col("cn")))
        .withColumn("arn", row_number().over(aw))
        .filter(col("arn") === 1)
        .drop("cv", "cn", "arn")
        .withColumnRenamed("cent_id", tag)
        .withColumnRenamed("cent_cos", s"cos_$tag")
    }
    val a1 = assign(c, seeds, "c1")
    val refined = meanCentroids(a1.select(col("c1").as("cent_id"), col("v")))
    assign(a1.select(col("vec_id"), col("v"), col("nrm"), col("c1")),
        refined, "c2")
      .select(col("vec_id"), col("c1"), col("c2"),
        when(col("c1") =!= col("c2"), 1).otherwise(0).as("moved"),
        col("cos_c2").as("cos2"))
      .transform(Common.presented(_, col("vec_id")))
  }

  /** Decimal-exact per-dim mean centroid per `keys` group over member
    * (keys..., v) rows — the shared Lloyd's-step update (x7/x16/x18).
    * float → DOUBLE (exact) → decimal: DuckDB's direct FLOAT→DECIMAL
    * computes f·10^scale in FLOAT arithmetic and misrounds (measured:
    * 0.054249506... → 0.054249508); via DOUBLE both engines round the
    * exact binary value HALF_UP identically. The centroid list is
    * rebuilt in dim order so the dot-product fold order matches. */
  private def meanCentroids(members: DataFrame,
      keys: Seq[String] = Seq("cent_id")): DataFrame =
    members.select(keys.map(col) :+ posexplode(col("v")): _*)
      .select(keys.map(col) ++ Seq((col("pos") + 1).as("dim"),
        col("col").cast("double").cast("decimal(20,9)").as("x")): _*)
      .groupBy((keys :+ "dim").map(col): _*)
      .agg((sum(col("x")).cast("double") / count(lit(1))).cast("float").as("cx"))
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cx")))),
        e => e.getField("cx")).as("cv"))
      .withColumn("cn", sqrt(dotD(col("cv"), col("cv"))))

  /** The coarse-quantizer centroid set shared by the whole IVF-PQ tier
    * (x10/x11/x13): the deterministic seed slice, like x3. */
  private[graft] def coarseCentroids(c: DataFrame): DataFrame =
    c.filter(col("vec_id") >= NumQueries &&
        col("vec_id") < NumQueries + NumCentroids)
      .select(col("vec_id").as("cell_id"), col("v").as("cv"),
        col("nrm").as("cn"))

  /** Top-`nProbe` nearest cells of `vecs` against a broadcast coarse
    * centroid set — per-vector independent (argmax over the
    * [[NumCentroids]]-sized coarse codebook, cosine-desc with cell-id
    * tie-break), so callers can rank cells for any subset (the full
    * corpus for an index build, just the queries for a probe) and get
    * identical cells. Input contract: `vecs` must carry (vec_id, v,
    * nrm); output is (vec_id, v, nrm, cell_id, probe_rank, cent_cos)
    * with one row per (vector, probed cell) — cent_cos rides along so
    * centrality-aware consumers (d16's keeper rule) need no re-derive;
    * Catalyst prunes it wherever unused. */
  private[graft] def coarseProbe(vecs: DataFrame, coarse: DataFrame,
      nProbe: Int): DataFrame = {
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("cent_cos").desc, col("cell_id"))
    vecs.join(broadcast(coarse))
      .withColumn("cent_cos",
        dotD(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("arn", row_number().over(aw))
      .filter(col("arn") <= nProbe)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell_id"),
        col("arn").as("probe_rank"), col("cent_cos"))
  }

  /** Nearest-cell (probe_rank 1) assignment — the index-build side of
    * [[coarseProbe]]. Same (vec_id, v, nrm) input contract. */
  private def coarseAssign(vecs: DataFrame, coarse: DataFrame): DataFrame =
    coarseProbe(vecs, coarse, 1).drop("probe_rank")

  /** (id, m, subvector) rows for PQ: the ×[[PqM]] slice-explode every
    * PQ stage starts from — shared so the subspace geometry can only
    * change in one place. `carry` columns ride along unexploded (the
    * append threads the target cell through here). */
  private def pqSubvectors(df: DataFrame, idAs: String, mAs: String,
      sAs: String, carry: Seq[Column] = Nil): DataFrame =
    df.select((col("vec_id").as(idAs) +: carry) :+
        posexplode(array((0 until PqM).map(m =>
          slice(col("v"), m * PqSubDim + 1, PqSubDim)): _*)): _*)
      .withColumnRenamed("pos", mAs).withColumnRenamed("col", sAs)

  /** The fixed-order [[PqM]]-term ADC fold (`max(when(m==i, pd))`
    * pivot summed in SUBSPACE order, never float-aggregation order) —
    * stated once so the bit-stability contract every compared double
    * rides on has a single source of truth. Input rows carry (m, pd). */
  private def adcSum: Column =
    (0 until PqM).map(m => max(when(col("m") === m, col("pd")))).reduce(_ + _)

  /** Squared L2 between subvector columns via three compiled dot
    * products — |x|² − 2x·c + |c|², the shared PQ distance. */
  private def pqD2(x: Column, c: Column): Column =
    dotD(x, x) - lit(2.0) * dotD(x, c) + dotD(c, c)

  /** PQ geometry: [[PqM]] subspaces of [[PqSubDim]] dims each (64-dim
    * embeddings → 4×16), [[NumCentroids]] codes per subspace — the
    * 8^4 = 4096-cell product grid an IVF-PQ index pairs with x3's
    * coarse quantizer. */
  val PqM = 4
  val PqSubDim = 16

  /** X8 — PRODUCT QUANTIZATION encode: compress every vector to
    * [[PqM]] codebook indices + its quantization error — the memory
    * layer of billion-scale ANN (IVF-PQ): 64 floats (256 B) become 4
    * codes (4 B here, ~1 B/code in production) and distance math
    * becomes per-subspace table lookups.
    *
    * Codebooks reuse the x3/x7 convention — the deterministic seed
    * slice plays the "trained" centroids (a production fit samples the
    * corpus, trains per-subspace k-means with x7's refinement, and
    * broadcasts the result; the encode plan below is IDENTICAL either
    * way). Distances are squared-L2 via three dot products
    * (|x|² − 2x·c + |c|², the compiled [[graft.functions.FloatVecDot]]),
    * nearest code per (vector, subspace) by a WindowGroupLimit-pruned
    * row_number, and the per-vector roll-up pivots the [[PqM]] rows
    * back to columns — qerr sums the four subspace distortions in
    * FIXED column order, not float-aggregation order, so the double is
    * bit-stable. Scale shape: one narrow explode (×[[PqM]]), one
    * broadcast of (M × K) sub-centroids, one hash shuffle on vec_id
    * for the pivot. The corpus never self-joins. */
  def pqEncode(s: SparkSession, dir: String): DataFrame =
    pqEncodeCore(corpus(s, dir))
      .transform(Common.presented(_, col("vec_id")))

  /** The seed-slice sub-codebooks x8/x9/x10 quantize against: subspace
    * `m`'s K centroids are the seed vectors' m-th slices. */
  private[graft] def pqSeedCents(c: DataFrame): DataFrame =
    pqSubvectors(c, "vec_id", "m", "s")
      .filter(col("vec_id") >= NumQueries &&
        col("vec_id") < NumQueries + NumCentroids)
      .select(col("m").as("cm"), col("vec_id").as("cent_id"),
        col("s").as("cs"))

  /** [[pqEncode]] without the presentation sort — X9 composes it. */
  def pqEncodeCore(c: DataFrame): DataFrame =
    pqEncodeWith(c, pqSeedCents(c))

  /** The x8 encode against an ARBITRARY sub-codebook set (cm, cent_id,
    * cs) — the plan is identical whether the codebooks are the seed
    * slice or trained (x12): the centroid side always broadcasts, so
    * swapping codebooks never touches the corpus-side plan
    * (PlanContractSpec pins both). */
  def pqEncodeWith(c: DataFrame, cents: DataFrame): DataFrame =
    pqEncodeSub(pqSubvectors(c, "vec_id", "m", "s"), cents)

  /** The encode tail over an ARBITRARY (vec_id, m, s) subvector frame —
    * x8/x12 feed the natural slices, x28 feeds spread-balanced
    * permuted gathers; the argmin/pivot plan is identical. */
  private[graft] def pqEncodeSub(sub: DataFrame, cents: DataFrame): DataFrame = {
    val d2 = pqD2(col("s"), col("cs"))
    // nearest code per subspace as a min over (d2, cent_id) STRUCTS —
    // lexicographic struct ordering IS the (distance, id-tiebreak)
    // argmin, and stating all four subspaces as aggregates of one
    // groupBy(vec_id) folds the whole encode into a SINGLE hash
    // shuffle with map-side partials (a row_number window would
    // partition by (vec_id, m) and force a second exchange for this
    // pivot — measured and removed; PlanContractSpec pins it)
    def bestAt(m: Int) =
      min(when(col("m") === m, struct(col("d2"), col("cent_id"))))
    val best = sub.join(broadcast(cents), col("m") === col("cm"))
      .select(col("vec_id"), col("m"), col("cent_id"), d2.as("d2"))
      .groupBy(col("vec_id"))
      .agg(bestAt(0).as("b0"), bestAt(1).as("b1"),
        bestAt(2).as("b2"), bestAt(3).as("b3"))
    best.select(col("vec_id"),
        col("b0.cent_id").as("code0"), col("b1.cent_id").as("code1"),
        col("b2.cent_id").as("code2"), col("b3.cent_id").as("code3"),
        (col("b0.d2") + col("b1.d2") + col("b2.d2") + col("b3.d2")).as("qerr"))
  }

  /** X28 — SPREAD-BALANCED PQ (OPQ-lite, the "allocate dimensions to
    * subspaces by balancing their energy" half of Ge et al.'s
    * Optimized Product Quantization, with the per-dim SPREAD
    * (mx − mn — x21's SQ8 statistic, exact on both engines with no
    * accumulation) standing in for variance and a deterministic
    * round-robin permutation standing in for the learned rotation):
    * dims rank by descending spread and deal out round-robin, so each
    * subspace receives an equal share of high- and low-energy
    * dimensions instead of whatever the natural column order packed
    * together. The audit encodes every vector BOTH ways against the
    * correspondingly-permuted seed codebooks and reports per-vector
    * natural vs balanced quantization error + the improved flag —
    * the measurable claim OPQ makes, stated as an oracle-checkable
    * per-vector comparison (PqSpec asserts the corpus-total
    * improvement on the fixture).
    *
    * 100 TB plan: the mapping is 64 rows from one per-dim stats
    * aggregate (a sample fits it at extreme scale — the x21 note);
    * the permuted gather is one explode + broadcast-join + per-(vec,
    * m) collect, the same ×[[PqM]] narrow shape as the natural slice,
    * and the encode tail is x8's single-shuffle argmin/pivot
    * verbatim. A production OPQ replaces the permutation with a
    * learned rotation matrix — one broadcast matmul per row, same
    * plan. */
  def pqBalanced(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    CacheScope.persist(c) // natural encode + the exploded stats/gather side
    val x = c.select(col("vec_id"), posexplode(col("v")).as(Seq("d", "xf")))
      .select(col("vec_id"), col("d").cast("int").as("d"), col("xf"))
    CacheScope.persist(x) // two consumers: the spread stats and the gather
    val st = x.groupBy(col("d"))
      .agg(min(col("xf").cast("double")).as("mn"),
        max(col("xf").cast("double")).as("mx"))
    val wR = Window.orderBy((col("mx") - col("mn")).desc, col("d"))
    val mapping = st.select(col("d"), (row_number().over(wR) - 1).as("r"))
      .select(col("d"), pmod(col("r"), lit(PqM)).cast("int").as("m"),
        expr(s"r div $PqM").cast("int").as("slot"))
    val pv = x.join(broadcast(mapping), Seq("d"))
      .groupBy(col("vec_id"), col("m"))
      .agg(transform(
        array_sort(collect_list(struct(col("slot"), col("xf")))),
        e => e.getField("xf")).as("s"))
    val centsB = pv
      .filter(col("vec_id") >= NumQueries &&
        col("vec_id") < NumQueries + NumCentroids)
      .select(col("m").as("cm"), col("vec_id").as("cent_id"),
        col("s").as("cs"))
    val bal = pqEncodeSub(pv, centsB)
      .select(col("vec_id"), col("qerr").as("qerr_bal"))
    val nat = pqEncodeCore(c)
      .select(col("vec_id"), col("qerr").as("qerr_nat"))
    nat.join(bal, Seq("vec_id"))
      .select(col("vec_id"), col("qerr_nat"), col("qerr_bal"),
        when(col("qerr_bal") < col("qerr_nat"), 1).otherwise(0)
          .as("improved"))
      .transform(Common.presented(_, col("vec_id")))
  }

  /** X9 — ADC search over the PQ codes (the query path x8's encode
    * exists for): each query precomputes a distance TABLE to every
    * sub-centroid ([[PqM]]×[[NumCentroids]] doubles — that's the
    * "asymmetric" part: the query stays full-precision, the corpus is
    * 4 codes), and a corpus vector's approximate distance is the sum
    * of 4 table lookups by its codes. At 10¹⁰ vectors this is why
    * IVF-PQ wins: the scan reads 4 ints per vector instead of 64
    * floats (16× less IO), distances cost 4 additions instead of a
    * 64-dim dot product, and the table build is O(Q·M·K) — independent
    * of corpus size.
    *
    * Shape: codes melt to (vec_id, m, code) rows (narrow ×[[PqM]]
    * explode); the Q×M×K distance table BROADCASTS onto the (m, code)
    * equi-join; the per-(query, vector) sum pivots the 4 subspace
    * rows back in FIXED order (bit-stable doubles, as x8); top-k per
    * query is the WindowGroupLimit shape. One hash shuffle on
    * (query_id, vec_id) + the top-k's query_id exchange. */
  def pqAdcSearch(s: SparkSession, dir: String): DataFrame = {
    val adc = pqAdcDistances(s, dir)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("adc"))
      .transform(Common.presented(_, col("query_id"), col("rank")))
  }

  /** The full (query × corpus) ADC distance frame, pre-top-k — PqSpec
    * pins the ADC identity on it. */
  private[graft] def pqAdcDistances(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val codes = pqEncodeCore(c)
      .select(col("vec_id"),
        posexplode(array(col("code0"), col("code1"), col("code2"), col("code3"))))
      .withColumnRenamed("pos", "m").withColumnRenamed("col", "code")
    val qsub = pqSubvectors(c.filter(col("vec_id") < NumQueries),
      "query_id", "qm", "qs")
    val cents = pqSubvectors(c.filter(col("vec_id") >= NumQueries &&
        col("vec_id") < NumQueries + NumCentroids), "cent_id", "cm", "cs")
    // Q × M × K distance table — tiny and corpus-size-independent
    val dt = qsub.join(cents, col("qm") === col("cm"))
      .select(col("query_id"), col("qm").as("m"), col("cent_id"),
        pqD2(col("qs"), col("cs")).as("pd"))
    codes.join(broadcast(dt),
        codes("m") === dt("m") && col("code") === col("cent_id") &&
          col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), codes("m"), col("pd"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(adcSum.as("adc"))
  }

  /** X10 — IVF-PQ: the production composition of the whole x-family.
    * x3's coarse quantizer prunes the corpus to the query's cell
    * (partition-pruned scan at 100 TB: the codes table is written
    * cell-partitioned), x8's codes replace the vectors inside the cell,
    * x9's ADC tables score them — so a query reads codes from ONE cell
    * instead of the whole corpus, and scores them with 4 lookups each.
    * This is the billion-scale ANN index (Johnson/Douze/Jégou's FAISS
    * IVFADC) as three declarative stages; both quantizers share the
    * deterministic seed-slice convention (a production fit trains each
    * separately — the plan is unchanged). */
  def ivfPqSearch(s: SparkSession, dir: String): DataFrame =
    Common.presented(ivfPqProbeCore(corpus(s, dir), 1),
      col("query_id"), col("rank"))

  /** How many coarse cells x13 probes per query. */
  val ProbeCells = 2

  /** X13 — IVF-PQ MULTI-PROBE: x10 with each query probing its
    * [[ProbeCells]] nearest coarse cells instead of one — the standard
    * IVF recall lever (x4's flipped-bucket idea transplanted to the
    * learned quantizer): a query sitting near a cell boundary recovers
    * the neighbors that landed just across it. Cost scales linearly in
    * the probed-cell count and stays a tiny fraction of the corpus;
    * the candidate pair space is exactly (query × vectors of its P
    * cells), each corpus vector still lives in ONE cell, and probe
    * cells are pairwise distinct — so no pair dedup is needed and the
    * plan shape (broadcast ADC tables onto the cell-pruned codes join)
    * is unchanged from x10. */
  def ivfPqMultiProbe(s: SparkSession, dir: String): DataFrame =
    Common.presented(ivfPqProbeCore(corpus(s, dir), ProbeCells),
      col("query_id"), col("rank"))

  /** The x10/x13 probe pipeline with the seed sub-codebooks. */
  private[graft] def ivfPqProbeCore(c: DataFrame, nProbe: Int): DataFrame =
    ivfPqProbeCoreWith(c, nProbe, pqSeedCents(c))

  /** The x10/x13/x14 probe pipeline over any (vec_id, v, nrm[, bucket])
    * corpus frame and any sub-codebook set (cm, cent_id, cs) —
    * build-side coarse assign + PQ encode against `cents`, query-side
    * top-`nProbe` cells, ADC tables (also against `cents`) broadcast
    * onto the cell-restricted codes join, per-query top-[[K]]. The
    * codebook frame is evaluated twice (encode + table build) — at
    * scale a trained codebook is a persisted few-KB table, so that's
    * two broadcast reads, not two fits. */
  private[graft] def ivfPqProbeCoreWith(c: DataFrame, nProbe: Int,
      cents: DataFrame): DataFrame =
    ivfPqProbeCoreWith(c, nProbe, cents, coarseCentroids(c))

  /** [[ivfPqProbeCoreWith]] with the COARSE quantizer parameterized too
    * (x18): both quantizer tables broadcast, so swapping either never
    * touches the corpus-side plan. `topN` widens the per-query cut
    * (x27 keeps a [[RerankR]] shortlist instead of the final K). */
  private[graft] def ivfPqProbeCoreWith(c: DataFrame, nProbe: Int,
      cents: DataFrame, coarse: DataFrame, topN: Int = K): DataFrame = {
    val assigned = coarseAssign(c, coarse).drop("nrm")
    val codes = pqEncodeWith(c, cents)
      .select(col("vec_id"),
        posexplode(array(col("code0"), col("code1"), col("code2"), col("code3"))))
      .withColumnRenamed("pos", "m").withColumnRenamed("col", "code")
      .join(assigned.select(col("vec_id"), col("cell_id")), Seq("vec_id"))
    val queries = c.filter(col("vec_id") < NumQueries)
    val probes = coarseProbe(queries, coarse, nProbe)
      .select(col("vec_id").as("query_id"), col("cell_id").as("q_cell"))
    val qsub = pqSubvectors(queries, "query_id", "qm", "qs")
    val dt = qsub.join(probes, Seq("query_id"))
      .join(cents, col("qm") === col("cm"))
      .select(col("query_id"), col("q_cell"), col("qm").as("m"), col("cent_id"),
        pqD2(col("qs"), col("cs")).as("pd"))
    val adc = codes.join(broadcast(dt),
        codes("m") === dt("m") && col("code") === col("cent_id") &&
          col("cell_id") === col("q_cell") && // probe ONLY the query's cells
          col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cell_id"), codes("m"), col("pd"))
      .groupBy(col("query_id"), col("vec_id"), col("cell_id"))
      .agg(adcSum.as("adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("cell_id").as("cell"), col("adc"))
  }

  /** X27 — IVF-PQ + EXACT RE-RANK: the COMPLETE Faiss production
    * serving stack (`IndexIVFPQ` wrapped in `IndexRefineFlat`): x13's
    * multi-probe ADC pipeline keeps a top-[[RerankR]] shortlist per
    * query, and the final top-[[K]] comes from exact float cosine over
    * the shortlist only — x25's refine stage on the LEARNED index
    * instead of the scalar quantizer. ADC error (two quantizers deep)
    * is exactly what the refine step exists to absorb: the
    * coarse+PQ index buys the scan reduction, the R-row exact pass
    * buys back the ranking fidelity, and the recall/cost dial is
    * (nProbe, R) with no index rebuild.
    *
    * 100 TB plan: stage 1 is x13's shape verbatim — cell-partitioned
    * codes scan (DPP at rest), broadcast ADC tables, 4 lookups per
    * candidate; stage 2 touches the 4-byte/dim float column for
    * exactly Q×[[RerankR]] ids via the broadcast-shortlist fetch —
    * x30 materializes that fetch's id-bucketed at-rest float table
    * and DPP-prunes it; this form keeps the in-memory corpus so the
    * two fetch shapes stay contrasted. Every stage deterministic
    * (double folds + id tie-breaks), so the whole composition
    * restates in SQL. */
  def ivfPqRerank(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    CacheScope.persist(c) // the probe pipeline + both re-rank sides read it
    val shortlist = ivfPqProbeCoreWith(c, ProbeCells, pqSeedCents(c),
        coarseCentroids(c), topN = RerankR)
      .select(col("query_id"), col("neighbor_id").as("vec_id"),
        col("cell"), col("adc"))
    val base = c.select(col("vec_id"), col("v"), col("nrm"))
    val qv = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    refineExactTopK(corpusFetch(base, shortlist), qv,
      Seq("cell", "cos", "adc"))
  }

  // one cleanup hook PER application root — a JVM that creates several
  // SparkSessions over its lifetime (sbt without fork, notebooks) gets
  // a hook for each appId's scratch dir, not only the first one's
  private val indexCleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Where the index-lifecycle queries (x11/x15/x17/x19/x20) persist
    * their at-rest state: under ./target (sbt cwd) keyed by the Spark
    * APPLICATION id plus the source dir — concurrent SFs never collide,
    * reruns within a session overwrite deterministically, and two
    * concurrent sessions on the same dir each get their own root (a
    * shared dir-only key would let one session's rebuild clobber the
    * index another is serving from). The per-application dir is
    * scratch: a best-effort JVM shutdown hook removes it so repeated
    * bench/verify runs don't accumulate dead index copies on disk. */
  private[graft] def indexRoot(s: SparkSession, dir: String): String = {
    val appRoot = "target/graft-index/" + s.sparkContext.applicationId
    if (indexCleanupRegistered.add(appRoot)) {
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(appRoot))
      }
      ()
    }
    appRoot + "/" + dir.replaceAll("[^A-Za-z0-9.]+", "_")
  }

  /** BUILD phase shared by the index-lifecycle queries: writes the
    * at-rest IVF-PQ index for `vecs` under `root` —
    *
    *   - `codes`: (vec_id, code0..3, qerr) parquet-PARTITIONED BY the
    *     coarse cell. cell_id is written as int (values <
    *     NumQueries+NumCentroids) so the read-back partition-inferred
    *     type matches probe-side join keys with no cast on the fact
    *     side (a cast there would block partition pruning).
    *   - `occupancy`: one (cell_id, n) row per cell — the stats table
    *     an append consults instead of re-counting index members.
    *   - `coarse` / `pq`: both quantizers, frozen beside the codes they
    *     encoded (an index must score with the codebooks it encoded
    *     with).
    *
    * NOTE this runs EAGERLY at DataFrame-construction time (parquet
    * writes are actions): merely building a lifecycle query's plan
    * materializes its index under [[indexRoot]]. That is deliberate —
    * the build half IS part of what x11/x15/x17 measure — but callers
    * composing plans without executing them still pay it. */
  private[graft] def buildIndex(s: SparkSession, root: String, vecs: DataFrame,
      coarse: DataFrame, cents: DataFrame): Unit = {
    AtRest.land(s, s"$root/codes", "cell_id",
      pqEncodeWith(vecs, cents)
        .join(coarseAssign(vecs, coarse).select(col("vec_id"),
          col("cell_id").cast("int").as("cell_id")), Seq("vec_id")),
      "overwrite")
    // occupancy from the just-written codes: a count per cell over the
    // 4-int-per-vector codes table, not the raw vectors
    refreshOccupancy(s, root)
    coarse.write.mode("overwrite").parquet(s"$root/coarse")
    cents.write.mode("overwrite").parquet(s"$root/pq")
  }

  /** Recount occupancy from the at-rest codes (the cheap 4-int scan,
    * never the raw vectors) and overwrite the stats table. This full
    * recount is the BUILD and restart-HEAL path; steady-state appends
    * and compactions maintain the stats from bounded per-cell work
    * instead. */
  private def refreshOccupancy(s: SparkSession, root: String): Unit =
    AtRest.healDerived(s, s"$root/occupancy",
      AtRest.read(s, s"$root/codes")
        .groupBy(col("cell_id").cast("long").as("cell_id"))
        .agg(count(lit(1)).as("n_cell_existing")))

  /** SERVE phase shared by x11/x17: answers `queries` from the at-rest
    * index under `root` alone — the probe joins the cell-partitioned
    * codes on cell_id against the broadcast ADC tables, and dynamic
    * partition pruning turns that join into a pruned scan (only the
    * probed cells' files are read; PlanContractSpec asserts the
    * dynamicpruning filter). Sort-free; callers add presentation. */
  /** The at-rest codes table unpivoted to (vec_id, cell_id, m, code) —
    * ONE reader shared by the serve and append paths, so the two can
    * never drift on the code layout (e.g. a [[PqM]] change). */
  private def readCodes(s: SparkSession, root: String): DataFrame =
    AtRest.read(s, s"$root/codes")
      .select(col("vec_id"), col("cell_id"),
        posexplode(array(col("code0"), col("code1"), col("code2"), col("code3"))))
      .withColumnRenamed("pos", "m").withColumnRenamed("col", "code")

  private[graft] def serveFrom(s: SparkSession, root: String, queries: DataFrame,
      nProbe: Int): DataFrame = {
    val codes = readCodes(s, root)
    val probes = coarseProbe(queries, AtRest.read(s, s"$root/coarse"), nProbe)
      .select(col("vec_id").as("query_id"),
        col("cell_id").cast("int").as("q_cell"))
    val qsub = pqSubvectors(queries, "query_id", "qm", "qs")
    val dt = qsub.join(probes, Seq("query_id"))
      .join(AtRest.read(s, s"$root/pq"), col("qm") === col("cm"))
      .select(col("query_id"), col("q_cell"), col("qm").as("m"), col("cent_id"),
        pqD2(col("qs"), col("cs")).as("pd"))
    val adc = codes.join(broadcast(dt),
        codes("m") === dt("m") && col("code") === col("cent_id") &&
          col("cell_id") === col("q_cell") && // → dynamic partition pruning
          col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cell_id"), codes("m"), col("pd"))
      .groupBy(col("query_id"), col("vec_id"), col("cell_id"))
      .agg(adcSum.as("adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"),
        col("cell_id").cast("long").as("cell"), col("adc"))
  }

  /** X11 — PERSISTED IVF-PQ INDEX SERVING: x10 split into its two real
    * lifecycle phases. BUILD writes the codes table to parquet
    * PARTITIONED BY cell_id (plus both codebooks beside it) — the
    * at-rest layout of a billion-scale ANN index: 4 small ints per
    * vector, physically clustered by coarse cell. SERVE then answers
    * queries from the index alone: the probe joins the cell-partitioned
    * codes on cell_id against the broadcast ADC tables, and Spark's
    * dynamic partition pruning turns that join into a pruned scan —
    * only the probed cells' files are read (PlanContractSpec asserts
    * the dynamicpruning filter on the codes scan; PLANS.md documents
    * it). At 100 TB this is the difference between a query reading a
    * few hundred MB (its cells) and re-scanning the whole codes table;
    * the build cost amortizes over every query served. Results are
    * identical to x10 by construction — same oracle SQL. */
  def ivfPqServe(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val root = indexRoot(s, dir)
    // BUILD (eager — see buildIndex's scaladoc), then SERVE: the probe
    // path reads ONLY the index + the query vectors; the corpus never
    // rescans. The output re-widens cell to long to match x10's schema.
    buildIndex(s, root, c, coarseCentroids(c), pqSeedCents(c))
    serveFrom(s, root, c.filter(col("vec_id") < NumQueries), 1)
      .transform(Common.presented(_, col("query_id"), col("rank")))
  }

  /** X12 fit — one Lloyd's step per SUBSPACE on the seed sub-codebooks
    * (x7's refinement transplanted to PQ): assign every subvector to
    * its nearest seed sub-centroid, recompute each (subspace, code)
    * centroid as the decimal-exact per-dim mean of its members. The
    * fit's (vec_id, m)-keyed argmin window is a second exchange x8's
    * encode deliberately avoids — acceptable HERE because codebook
    * training runs on a SAMPLE at scale (codebooks don't need the full
    * corpus; x7's doc makes the same argument), and only the final
    * encode touches every row. Determinism follows x7's contract:
    * float → double (exact) → decimal(20,9) sums, mean as double, cast
    * float — bit-identical on both engines. A code with no members in
    * some subspace drops out of that subspace's codebook (both engines
    * agree; the seed slice never produces this on the harness data). */
  private[graft] def pqTrainedCents(c: DataFrame): DataFrame = {
    val sub = pqSubvectors(c, "vec_id", "m", "s")
    val aw = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("d2"), col("cent_id"))
    val a1 = sub.join(broadcast(pqSeedCents(c)), col("m") === col("cm"))
      .select(col("vec_id"), col("m"), col("cent_id"), col("s"),
        pqD2(col("s"), col("cs")).as("d2"))
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1)
    a1.select(col("m"), col("cent_id"), posexplode(col("s")))
      .select(col("m"), col("cent_id"), (col("pos") + 1).as("dim"),
        col("col").cast("double").cast("decimal(20,9)").as("x"))
      .groupBy(col("m"), col("cent_id"), col("dim"))
      .agg((sum(col("x")).cast("double") / count(lit(1))).cast("float").as("cx"))
      .groupBy(col("m"), col("cent_id"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cx")))),
        e => e.getField("cx")).as("cs"))
      .select(col("m").as("cm"), col("cent_id"), col("cs"))
  }

  /** X12 — the x8 encode against TRAINED codebooks through
    * [[pqEncodeWith]]: proof the encode plan is codebook-agnostic
    * (PlanContractSpec pins it — broadcast codebooks, no corpus
    * self-join, regardless of where the centroids came from), and the
    * quality payoff of training: PqSpec measures total quantization
    * error strictly improving over the seed codebooks (a Lloyd's step
    * never increases member distortion) plus ADC recall@[[K]] under
    * both codebook sets. */
  def pqEncodeTrained(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    pqEncodeWith(c, pqTrainedCents(c))
      .transform(Common.presented(_, col("vec_id")))
  }

  /** X14 — IVF-PQ with TRAINED product codebooks: x12's per-subspace
    * Lloyd's fit composed into x13's multi-probe index — the full
    * production shape every x-family scaladoc defers to ("a production
    * fit trains each quantizer separately; the plan is unchanged").
    * Encode AND the query-side ADC tables both quantize against the
    * trained codebooks (an index must score with the codebooks it
    * encoded with, or distances are meaningless); the probe plan is
    * x13's byte-for-byte — only the broadcast codebook rows differ. */
  def ivfPqTrained(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    // the trained codebook is consumed twice (encode + ADC tables);
    // persisting its 32 rows stands in for the persisted codebook
    // table a production index ships — without it the whole fit chain
    // (3 exchanges) runs twice (re-applied if an external clearCache
    // dropped the registration, as x5's corpus persist). Lifecycle:
    // both harness entry points drop this cache after every query
    // (Verify.scala / Bench.scala call cacheManager.clearCache()), so
    // the registration never outlives one query there; only an
    // interactive session that skips the hook keeps it until its own
    // clearCache.
    val cents = pqTrainedCents(c)
    CacheScope.persist(cents)
    Common.presented(ivfPqProbeCoreWith(c, ProbeCells, cents),
      col("query_id"), col("rank"))
  }

  /** X15 — INCREMENTAL index maintenance (the d7/d15 convention on the
    * vector index): vectors `vec_id % 5 == 0` play the day's new
    * batch, the rest the standing index — which the append READS from
    * its at-rest x11 layout (cell-partitioned codes + occupancy stats
    * + frozen quantizers, built here so the query is self-contained;
    * in production it already exists from the last build/append). The
    * batch encodes and cell-routes against the FROZEN quantizers read
    * back from the index (a production index never refits codebooks
    * per append — that would re-encode the corpus), and each new
    * vector ships with its append manifest: the target cell, its
    * codes + quantization error, the cell's current occupancy (the
    * skew/split signal x16 acts on, read from the index's stats
    * table), and its nearest EXISTING neighbor by ADC within that
    * cell (the near-dup admission check). Only the batch shuffles:
    * the standing index contributes the broadcast occupancy stats and
    * the cell-restricted ADC join against a DYNAMICALLY
    * PARTITION-PRUNED codes scan (PlanContractSpec asserts the
    * dynamicpruning filter) — at 100 TB the daily append reads the
    * target cells' codes files plus a KB-sized stats table, never the
    * standing corpus. */
  def ivfPqAppend(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val isNew = col("vec_id") % DedupOps.IncomingMod === 0
    val root = indexRoot(s, dir) + "-standing"
    buildIndex(s, root, c.filter(!isNew), coarseCentroids(c), pqSeedCents(c))
    appendManifest(s, root, c.filter(isNew))
      .transform(Common.presented(_, col("vec_id")))
  }

  /** The x15 append core over any `incoming` (vec_id, v, nrm) frame
    * against the at-rest index under `root` — shared by the registered
    * batch query and the streaming maintenance monitor
    * (StreamingIndexSpec binds it per micro-batch via foreachBatch, the
    * StreamingCdf convention), so the streamed and batch manifests
    * cannot drift. Per-vector rows depend only on that vector and the
    * FROZEN index, so manifests are invariant to micro-batch cuts. */
  private[graft] def appendManifest(s: SparkSession, root: String,
      incoming: DataFrame, cacheBatch: Boolean = true): DataFrame = {
    val coarse = AtRest.read(s, s"$root/coarse")
    val cents = AtRest.read(s, s"$root/pq")
    val occupancy = AtRest.read(s, s"$root/occupancy")
    val exCodes = readCodes(s, root)
    // one batch pass carries cell + subvectors together: the ADC table,
    // the encode, and the manifest row all derive from the assigned
    // batch (which still has v), so the batch parquet is scanned once
    // and no join-back on query_id is ever needed. The assigned batch
    // CACHES by default: four consumers read it (ADC tables, encode,
    // manifest row, DPP pruning subquery) and divergent column pruning
    // would otherwise re-run the assignment window per consumer; the
    // batch harness drops the cache per query (Verify/Bench clearCache
    // hook). A LONG-RUNNING foreachBatch monitor must pass
    // cacheBatch = false instead — each micro-batch is a fresh plan,
    // so per-batch persists would accumulate for the stream's lifetime
    // (micro-batches are small; the recompute is the cheaper leak-free
    // trade there).
    val inAssigned = coarseAssign(incoming, coarse).drop("nrm")
    if (cacheBatch) { CacheScope.persist(inAssigned); () }
    val qsub = pqSubvectors(inAssigned, "query_id", "qm", "qs",
      carry = Seq(col("cell_id").cast("int").as("q_cell")))
    val dt = qsub.join(cents, col("qm") === col("cm"))
      .select(col("query_id"), col("q_cell"), col("qm").as("m"), col("cent_id"),
        pqD2(col("qs"), col("cs")).as("pd"))
    val nearest = exCodes.join(broadcast(dt),
        exCodes("m") === dt("m") && col("code") === col("cent_id") &&
          col("cell_id") === col("q_cell")) // → dynamic partition pruning
      .select(col("query_id"), col("vec_id"), exCodes("m"), col("pd"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(adcSum.as("adc"))
      .groupBy(col("query_id"))
      .agg(min(struct(col("adc"), col("vec_id"))).as("nn"))
      .select(col("query_id").as("vec_id"),
        col("nn.vec_id").as("nn_id"), col("nn.adc").as("nn_adc"))
    // the encode deliberately reads the RAW batch slice, not the
    // cached assignment: routing every consumer through the cache
    // measurably drops the dynamicpruning filter off the standing
    // codes scan (the planner stops seeing a selective predicate on
    // the probe side), and the pruned index read is worth far more at
    // scale than saving this one batch-slice scan — PlanContractSpec
    // fails if this regresses
    inAssigned.select(col("vec_id"), col("cell_id"))
      .join(pqEncodeWith(incoming, cents), Seq("vec_id"))
      .join(broadcast(occupancy), Seq("cell_id"), "left")
      .join(nearest, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id").as("cell"),
        col("code0"), col("code1"), col("code2"), col("code3"), col("qerr"),
        coalesce(col("n_cell_existing"), lit(0L)).as("n_cell_existing"),
        col("nn_id"), col("nn_adc"))
  }

  /** X18's trained coarse quantizer: one Lloyd's refinement of the
    * seed coarse centroids — x7's step emitted as a quantizer table
    * (cell_id, cv, cn) instead of assignments. At scale the update
    * runs on a sample, like x12's sub-codebook fit; only the final
    * assign touches every row. */
  private[graft] def refinedCoarse(c: DataFrame): DataFrame =
    meanCentroids(coarseAssign(c, coarseCentroids(c))
        .select(col("cell_id").as("cent_id"), col("v")))
      .select(col("cent_id").as("cell_id"), col("cv"), col("cn"))

  /** X18 — FULLY trained IVF-PQ: x14 with the COARSE quantizer trained
    * too (the half x14 left as the seed slice). Both quantizers now
    * come from one-Lloyd's-step fits — coarse from [[refinedCoarse]],
    * sub-codebooks from [[pqTrainedCents]] — and the probe plan is
    * x13/x14's byte-for-byte: only the broadcast quantizer rows
    * differ. Both fit outputs persist (few-KB tables standing in for
    * the persisted quantizers a production index ships; dropped by the
    * harness clearCache hook like x14's). PqSpec measures what the
    * training buys: coarse distortion never worsens and the cell
    * histogram rebalances toward the data. */
  def ivfPqTrainedFull(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val coarse = refinedCoarse(c)
    CacheScope.persist(coarse)
    val cents = pqTrainedCents(c)
    CacheScope.persist(cents)
    Common.presented(ivfPqProbeCoreWith(c, ProbeCells, cents, coarse),
      col("query_id"), col("rank"))
  }

  /** APPLY the day's append to the at-rest index: the batch's manifest
    * rows land as a parquet APPEND into their cell partitions — new
    * files inside existing partition dirs, no standing file touched
    * (PqSpec asserts it) — and the occupancy stats refresh. This is
    * the write half x15's manifest plans for: manifest columns are
    * exactly the codes-table schema plus the admission-check fields,
    * so application is a projection, not a recompute. */
  private[graft] def applyAppend(s: SparkSession, root: String,
      incoming: DataFrame): Unit = {
    // localCheckpoint: the manifest is both written and folded into
    // the stats refresh — without it the whole append plan runs twice
    val manifest = appendManifest(s, root, incoming)
      .select(col("vec_id"), col("code0"), col("code1"), col("code2"),
        col("code3"), col("qerr"), col("cell").cast("int").as("cell_id"))
      .localCheckpoint()
    val targetCells = manifest.select(col("cell_id")).distinct()
    // IDEMPOTENT: a rerun of a crashed or operator-retried append job
    // must not land the same vector twice — rows already present in
    // their target cells drop out via a DPP-pruned standing read (the
    // admission check's shape: only the target cells' files scan)
    val standing = AtRest.read(s, s"$root/codes")
      .join(broadcast(targetCells), Seq("cell_id"))
      .select(col("vec_id"))
    AtRest.land(s, s"$root/codes", "cell_id",
      manifest.join(standing, Seq("vec_id"), "left_anti"), "append")
    // stats: RECOUNT the touched cells from the now-current codes
    // (bounded by the batch's cells via the same pruning) and keep
    // every other cell's row as-is. Recount-not-increment makes this
    // second write SELF-HEALING: a rerun after a crash between the
    // codes append and the stats write finds `fresh` empty yet still
    // repairs the touched cells' counts.
    val touched = AtRest.read(s, s"$root/codes")
      .join(broadcast(targetCells), Seq("cell_id"))
      .groupBy(col("cell_id").cast("long").as("cell_id"))
      .agg(count(lit(1)).as("n_cell_existing"))
    AtRest.read(s, s"$root/occupancy").localCheckpoint()
      .join(targetCells.select(col("cell_id").cast("long").as("cell_id")),
        Seq("cell_id"), "left_anti")
      .unionByName(touched)
      .write.mode("overwrite").parquet(s"$root/occupancy")
  }

  /** X19 — APPLIED APPEND: x15 closed through the at-rest layout. The
    * standing index is built from the non-batch rows, the batch's
    * manifests are APPLIED (parquet append into their cell
    * partitions), and the query serves from the updated index — by
    * construction the result equals a fresh x10 build over the whole
    * corpus, which is exactly the oracle (x10's SQL verbatim, like
    * x11). This is the associativity proof a production index relies
    * on: build(standing) ∘ append(batch) == build(standing ∪ batch),
    * without re-encoding a single standing vector. */
  def ivfPqApplied(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val isNew = col("vec_id") % DedupOps.IncomingMod === 0
    val root = indexRoot(s, dir) + "-x19"
    buildIndex(s, root, c.filter(!isNew), coarseCentroids(c), pqSeedCents(c))
    applyAppend(s, root, c.filter(isNew))
    serveFrom(s, root, c.filter(col("vec_id") < NumQueries), 1)
      .transform(Common.presented(_, col("query_id"), col("rank")))
  }

  /** X20 — the FULL maintenance cycle in one query: build the standing
    * index, apply the day's append (x19's write), tombstone + compact
    * the delete batch (x17's rewrite), serve. The result must equal a
    * fresh build over (corpus minus deletes) — x17's oracle — proving
    * the lifecycle operations COMPOSE through the at-rest layout:
    * append then delete then compact converges to the same index a
    * from-scratch build would produce, the invariant that lets a
    * production index run maintenance forever instead of periodic full
    * rebuilds. */
  def ivfPqLifecycle(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val isNew = col("vec_id") % DedupOps.IncomingMod === 0
    val root = indexRoot(s, dir) + "-x20"
    buildIndex(s, root, c.filter(!isNew), coarseCentroids(c), pqSeedCents(c))
    applyAppend(s, root, c.filter(isNew))
    compactIndex(s, root)
    serveFrom(s, root, c.filter(col("vec_id") < NumQueries), 1)
      .transform(Common.presented(_, col("query_id"), col("rank")))
  }

  /** Which vectors play x17's delete batch: `vec_id % 7 == 3`. */
  val DeleteMod = 7
  val DeleteRem = 3

  /** Tombstone the x17 delete batch against the index at `root`: the
    * deletes RESOLVE to (vec_id, cell_id) pairs by a codes-only scan —
    * the raw vectors are never read — and land as the `tombstones`
    * table beside the codes (s8's keep-the-tombstone discipline: the
    * mark and the rewrite are separate, restartable steps). */
  private[graft] def markTombstones(s: SparkSession, root: String,
      deletePred: Column = col("vec_id") % DeleteMod === DeleteRem): Unit =
    AtRest.read(s, s"$root/codes")
      .filter(deletePred)
      .select(col("vec_id"), col("cell_id"))
      .write.mode("overwrite").parquet(s"$root/tombstones")

  /** The compaction's staged frame: survivors of the AFFECTED cells
    * only — the codes scan is joined on the bare cell_id partition
    * attribute against the broadcast distinct tombstone cells, so
    * dynamic partition pruning reads only the affected cells' files
    * (PlanContractSpec asserts it), then the tombstoned vec_ids drop
    * out by anti-join. */
  private[graft] def compactionStage(s: SparkSession, root: String): DataFrame = {
    val tombs = AtRest.read(s, s"$root/tombstones")
    // the cell_id >= 0 domain constraint (cells are coarse-centroid
    // ids) is load-bearing: Spark's PartitionPruning rule only inserts
    // the pruning subquery when the build side carries a selective
    // predicate — without one the codes scan silently reads every cell
    val affected = tombs.filter(col("cell_id") >= 0)
      .select(col("cell_id")).distinct()
    AtRest.read(s, s"$root/codes")
      .join(broadcast(affected), Seq("cell_id"))
      .join(tombs.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("code0"), col("code1"), col("code2"),
        col("code3"), col("qerr"), col("cell_id"))
  }

  /** Tombstone + compact the index at `root`: stage the affected
    * cells' survivors, then write them back with DYNAMIC partition
    * overwrite — only the affected cell partitions are replaced;
    * untouched cells' files are never rewritten (PqSpec asserts their
    * files survive byte-identical). A cell whose members are ALL
    * deleted stages zero rows — dynamic overwrite would leave its
    * stale partition in place, so the drop set (tombstoned cells −
    * staged cells, both O(#cells) driver metadata) is deleted
    * explicitly, the shared verb's empty-partition discipline kept
    * beside this family's own on-disk staging crash point (the r17
    * verdict's owed edge, executed — PqSpec plants a cell-emptying
    * delete). Occupancy RECOUNTS bucket-scoped from the compacted
    * codes over the affected cells (tombstoned ∪ any cells a crashed
    * prior run left in `staging` — reading the leftover staging's
    * cell list is what lets a rerun heal cells whose tombstones
    * already resolved), untouched cells' rows carry verbatim; a
    * zero-member cell keeps no stats row. */
  private[graft] def compactIndex(s: SparkSession, root: String,
      deletePred: Column = col("vec_id") % DeleteMod === DeleteRem,
      crashAfterOverwrite: Boolean = false): Unit = {
    markTombstones(s, root, deletePred)
    val tombs = AtRest.read(s, s"$root/tombstones").localCheckpoint()
    // restart-safe: a re-run after a completed OR crashed compaction
    // resolves an EMPTY delete set (the tombstoned ids are already
    // gone from the codes), so there is nothing to stage — but the
    // crash may have died between the codes overwrite and the stats
    // write below, leaving occupancy counting deleted rows forever.
    // The rerun can't know which cells were affected (the tombstones
    // resolved empty), so it HEALS by full recount from the codes —
    // the cheap 4-int scan, paid only on this recovery path.
    if (tombs.isEmpty) { refreshOccupancy(s, root); return }
    // a crashed prior run's staging table records ITS affected cells —
    // pin the list BEFORE the re-stage overwrites it (O(#cells) FS
    // metadata), so the scoped stats recount below covers them too
    val priorCells = AtRest.bucketFiles(s, s"$root/staging", "cell_id")
      .filter(_._2.nonEmpty).keySet
    // deliberately NOT AtRest.overwriteBuckets: this family's stage is
    // a WRITTEN staging table (its own crash point, PqSpec-exercised),
    // not a pinned in-memory frame — the on-disk handoff is the verb
    AtRest.land(s, s"$root/staging", "cell_id", compactionStage(s, root),
      "overwrite")
    val stagedCells = AtRest.bucketFiles(s, s"$root/staging", "cell_id")
      .filter(_._2.nonEmpty).keySet
    // an every-affected-cell-emptied stage holds NO data files (only
    // _SUCCESS) — nothing to overwrite, and no schema to read
    if (stagedCells.nonEmpty)
      AtRest.land(s, s"$root/codes", "cell_id",
        AtRest.read(s, s"$root/staging"), "dynamic")
    if (crashAfterOverwrite) return // spec-planted crash point
    // the empty-partition drop: tombstoned cells that staged ZERO
    // survivors keep their stale directory under dynamic overwrite —
    // delete them explicitly (affected − staged, the shared verb's
    // rule)
    val tombCells = tombs.select(col("cell_id")).distinct()
      .collect().map(_.getInt(0)).toSet
    val fs = AtRest.fsOf(s, root)
    (tombCells -- stagedCells).foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/codes/cell_id=$c"),
        true)
      ()
    }
    // stats RECOUNT scoped to the affected cells (idempotent where a
    // -= decrement would double-subtract on retry and could not heal
    // the crash window between the codes overwrite and this write);
    // a dropped cell recounts to zero rows and loses its stats row
    val affected = (tombCells ++ priorCells).toSeq.sorted
    // an all-cells-deleted compaction leaves codes with no files at
    // all — nothing to recount (the emptied-table guard class)
    val recounted =
      if (AtRest.firstDataFile(s, s"$root/codes").isEmpty)
        AtRest.read(s, s"$root/occupancy")
          .filter(lit(false))
          .select(col("cell_id"), col("n_cell_existing"))
      else
        AtRest.read(s, s"$root/codes")
          .filter(col("cell_id").isin(affected.map(_.toInt): _*))
          .groupBy(col("cell_id").cast("long").as("cell_id"))
          .agg(count(lit(1)).as("n_cell_existing"))
    AtRest.read(s, s"$root/occupancy").localCheckpoint()
      .filter(!col("cell_id").isin(affected.map(_.toLong): _*))
      .unionByName(recounted.localCheckpoint())
      .write.mode("overwrite").parquet(s"$root/occupancy")
    // a completed compaction clears its staging table (a crash before
    // this delete leaves it — the next run pins its cell list above,
    // then overwrites it wholesale)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/staging"), true)
    ()
  }

  /** X17 — INDEX DELETES + COMPACTION: the missing half of the index
    * lifecycle (x15 grows it, nothing shrank it — the same
    * unbounded-growth leak SURVEY §2.10 flags in the reference's G3
    * dedup state, at the index layer). A delete batch marks
    * tombstones, compaction rewrites ONLY the affected cell partitions
    * dropping tombstoned codes, and the query then SERVES from the
    * compacted index — by construction the results equal x10 over the
    * corpus minus the deleted vectors, which is exactly what the
    * oracle states. Quantizers stay frozen (deletes no more refit
    * codebooks than appends do). */
  def ivfPqCompact(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val root = indexRoot(s, dir) + "-x17"
    buildIndex(s, root, c, coarseCentroids(c), pqSeedCents(c))
    compactIndex(s, root)
    serveFrom(s, root, c.filter(col("vec_id") < NumQueries), 1)
      .transform(Common.presented(_, col("query_id"), col("rank")))
  }

  /** X16 — CELL SPLIT / RE-BALANCE: acts on the occupancy signal x15's
    * manifest carries (and SURVEY G1's ≤6-key skew discipline, applied
    * at the index layer). Cells strictly above the balanced share
    * (total / [[NumCentroids]]) are split by one LOCAL Lloyd's step —
    * x7's refinement restricted to one cell with k=2: seeds are the
    * cell's two lowest-vec_id members, members assign to the nearer
    * seed (cosine, child-id tie-break), and the two decimal-exact mean
    * sub-centroids re-assign them. Output is one row per member of
    * each split cell: (cell, vec_id, c1 first-pass child, c2 refined
    * child, moved, cos2) — the new cell map a rebalance job would
    * write back as partitions {cell→cell·2+child}.
    *
    * Scale shape: occupancy is one count-per-cell aggregate; the
    * oversized set (≤ [[NumCentroids]] rows), the per-cell seed pairs
    * and the refined sub-centroids all BROADCAST, so members never
    * self-join and every window is (cell, vec_id)-local. Serve
    * invariance is structural — the children PARTITION the parent's
    * members, so a probe reading both children sees exactly the
    * parent's candidates (PqSpec proves it, plus the balance gain). */
  def cellSplit(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val assigned = coarseAssign(c, coarseCentroids(c))
    // the 8-row occupancy CACHES so the corpus-wide assignment runs
    // once for the whole signal side (total derives from occ, not from
    // a second corpus pass); members and a1 cache because four
    // downstream branches (seeds, first assign, mean update, final
    // re-assign) would otherwise each re-run the assignment window —
    // measured: 25 exchanges uncached, 9 cached. All three drop with
    // the harness clearCache hook; at 100 TB the assignment side comes
    // off the at-rest index (x11 stores vec_id→cell) instead.
    val occ = assigned.groupBy(col("cell_id")).agg(count(lit(1)).as("n_cell"))
    CacheScope.persist(occ)
    val tot = occ.agg(sum(col("n_cell")).as("n_total"))
    val oversized = occ.crossJoin(broadcast(tot))
      .filter(col("n_cell") > col("n_total") / lit(NumCentroids.toDouble))
      .select(col("cell_id"))
    val members = assigned.join(broadcast(oversized), Seq("cell_id"))
    CacheScope.persist(members)
    val sw = Window.partitionBy(col("cell_id")).orderBy(col("vec_id"))
    val seeds = members.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= 2)
      .select(col("cell_id"), (col("srn") - 1).as("child"),
        col("v").as("sv"), col("nrm").as("sn"))
    val aw = Window.partitionBy(col("cell_id"), col("vec_id"))
      .orderBy(col("scos").desc, col("child"))
    val a1 = members.join(broadcast(seeds), Seq("cell_id"))
      .withColumn("scos", dotD(col("v"), col("sv")) / (col("nrm") * col("sn")))
      .withColumn("arn", row_number().over(aw))
      .filter(col("arn") === 1)
      .select(col("cell_id"), col("vec_id"), col("v"), col("nrm"),
        col("child").as("c1"))
    CacheScope.persist(a1)
    val refined =
      meanCentroids(a1.select(col("cell_id"), col("c1"), col("v")),
          keys = Seq("cell_id", "c1"))
        .withColumnRenamed("c1", "child")
    val rw = Window.partitionBy(col("cell_id"), col("vec_id"))
      .orderBy(col("rcos").desc, col("child"))
    a1.join(broadcast(refined), Seq("cell_id"))
      .withColumn("rcos", dotD(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("rrn", row_number().over(rw))
      .filter(col("rrn") === 1)
      .select(col("cell_id").as("cell"), col("vec_id"), col("c1"),
        col("child").as("c2"),
        when(col("c1") =!= col("child"), 1).otherwise(0).as("moved"),
        col("rcos").as("cos2"))
      .transform(Common.presented(_, col("cell"), col("vec_id")))
  }

  /** X9's ADC top-[[K]] against an arbitrary sub-codebook set — the
    * measurement arm for trained-vs-seed recall (PqSpec); the x9
    * registered query stays on the seed path. */
  private[graft] def adcTopKWith(c: DataFrame, cents: DataFrame): DataFrame = {
    val codes = pqEncodeWith(c, cents)
      .select(col("vec_id"),
        posexplode(array(col("code0"), col("code1"), col("code2"), col("code3"))))
      .withColumnRenamed("pos", "m").withColumnRenamed("col", "code")
    val qsub = pqSubvectors(c.filter(col("vec_id") < NumQueries),
      "query_id", "qm", "qs")
    val dt = qsub.join(cents, col("qm") === col("cm"))
      .select(col("query_id"), col("qm").as("m"), col("cent_id"),
        pqD2(col("qs"), col("cs")).as("pd"))
    val adc = codes.join(broadcast(dt),
        codes("m") === dt("m") && col("code") === col("cent_id") &&
          col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), codes("m"), col("pd"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(adcSum.as("adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("adc"))
  }

  /** X21 — SCALAR quantization (SQ8), the other standard vector
    * compression next to PQ (x8): every dimension maps independently
    * to an 8-bit code on the corpus's per-dim [min, max] range —
    * 4 bytes/float → 1 byte/dim, the Faiss `SQ8` / Milvus `SQ8` index
    * storage format. Per (vector, dim): the code and the mid-rise
    * reconstruction `mn + (code + 0.5)·(mx − mn)/255` an ADC serve
    * dequantizes against. Where PQ quantizes 16-dim SUBSPACES against
    * learned centroids (better ratio, needs training), SQ8 is
    * training-light and exact-per-dim — the standard first step down
    * from float32.
    *
    * Every arithmetic step is IEEE double with identical operand order
    * in the DuckDB twin, so codes AND reconstructions hash-match
    * bit-for-bit; degenerate dims (mx == mn) code to 0 by definition.
    *
    * 100 TB plan: the per-dim stats collapse to DIM rows through one
    * map-side-partial exchange (at extreme scale a sample fits the
    * range — the x7/x12 sampling note applies) and broadcast back; the
    * encode itself is scan-bound arithmetic on the exploded frame, and
    * at rest the codes table replaces the float column at 1/4 the
    * bytes. */
  def sq8Encode(s: SparkSession, dir: String): DataFrame =
    sq8Codes(s, dir)
      .select(col("vec_id"), col("d"), col("code"),
        (col("mn") + ((col("code").cast("double") + lit(0.5d)) *
          (col("mx") - col("mn"))) / lit(255.0d)).as("dq"))
      .transform(Common.presented(_, col("vec_id"), col("d")))

  /** The SQ8 code frame (vec_id, d, mn, mx, code) x21 and x22 share —
    * one exploded pass, per-dim stats broadcast back. `cacheExploded`
    * persists the exploded-doubles frame for its two consumers (stats
    * + encode); a caller that persists the RESULT instead (x22) turns
    * it off so the largest intermediate is not held as dead weight
    * once the codes materialize. */
  private def sq8Codes(s: SparkSession, dir: String,
      cacheExploded: Boolean = true): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "xf")))
      .select(col("vec_id"), col("d").cast("int").as("d"),
        col("xf").cast("double").as("x"))
    if (cacheExploded) { // read twice: the stats aggregate and the encode
      CacheScope.persist(e); ()
    }
    val st = e.groupBy(col("d"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    e.join(broadcast(st), Seq("d"))
      .select(col("vec_id"), col("d"), col("mn"), col("mx"),
        when(col("mx") > col("mn"),
          least(lit(255L), greatest(lit(0L),
            floor((col("x") - col("mn")) * lit(255.0d) /
              (col("mx") - col("mn"))))))
          .otherwise(lit(0L)).cast("int").as("code"))
  }

  /** X22 — SQ8 SYMMETRIC serve (Faiss's SDC mode): queries are encoded
    * with the SAME per-dim quantizer as the corpus and ranked by the
    * squared distance IN CODE SPACE, `Σ_d (qcode_d − code_d)²` — every
    * compared value is exact integer arithmetic, so the ranking is
    * bit-stable under any partitioning or engine (no float enters the
    * pipeline after the one-time encode). The asymmetric (ADC) mode
    * dequantizes the corpus side instead and is x9's shape against
    * x21's `dq` reconstructions; SDC is what serves when BOTH sides
    * live compressed at rest.
    *
    * 100 TB plan: the corpus codes are the at-rest 1-byte/dim table;
    * the Q query code rows broadcast (Q × dims rows), the pair space
    * streams through the codes scan keyed by dim, and the per-pair
    * integer sum is a map-side-partial aggregate. At serving scale the
    * same distance computes as a fold over PACKED code arrays (or a
    * 256×256 LUT per dim pair — the published SDC trick); the grouped
    * form here keeps the oracle twin exact row-for-row. */
  def sq8Sdc(s: SparkSession, dir: String): DataFrame = {
    // cacheExploded = false: x22 persists the 3-column codes frame for
    // its two consumers; holding the exploded-doubles frame too would
    // keep the largest intermediate resident as dead weight
    val codes = sq8Codes(s, dir, cacheExploded = false)
      .select(col("vec_id"), col("d"), col("code"))
    CacheScope.persist(codes) // both the query and corpus sides read it
    val q = codes.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("d"), col("code").as("qcode"))
    val diff = col("qcode") - col("code")
    val pairs = codes.join(broadcast(q), Seq("d"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum((diff * diff).cast("long")).as("code_d2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("code_d2"), col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("code_d2"))
      .transform(Common.presented(_, col("query_id"), col("rank")))
  }

  /** Pack the exploded SQ8 code frame to ONE row per vector with a
    * BinaryType codes column (1 byte/dim, dim-ordered) — the at-rest
    * Faiss-SQ8 storage shape. The groupBy is the pack's one exchange;
    * at 100 TB the encode emits this form directly in-scan and the
    * exchange disappears (the exploded frame exists here only because
    * the per-dim stats do). */
  private def sq8Packed(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(graft.functions.Sq8Expressions.packCodes(transform(
        array_sort(collect_list(struct(col("d"), col("code")))),
        x => x.getField("code"))).as("codes"))

  /** X23 — PACKED SQ8 SDC serve: x22's exact ranking served from the
    * at-rest code layout instead of the exploded relational form. The
    * BUILD writes (vec_id, codes binary) parquet — 1 byte/dim, the
    * shape that replaces the float column at 1/4 the bytes — and the
    * SERVE is one scan of that table with the Q query code rows
    * broadcast and the distance computed by a compiled integer fold
    * over the packed arrays ([[graft.functions.Sq8SdcDist]], the
    * FloatVecDot pattern): no posexplode, no per-dim join key, no
    * dims× row inflation (PlanContractSpec pins the generator-free
    * serve plan). Distance values are the same exact integers as
    * x22's grouped form, so the oracle is x22's SQL verbatim and the
    * output is bit-identical (PqSpec pins equality).
    *
    * 100 TB plan: the serve scans N packed rows once per query batch
    * (Q·dims byte ops per row, whole-stage codegen) — the brute-SDC
    * baseline at its minimal IO shape; x24 composes the IVF cell
    * restriction on top so the scan prunes to probed cells. */
  def sq8PackedServe(s: SparkSession, dir: String): DataFrame = {
    val root = indexRoot(s, dir) + "/sq8"
    sq8Packed(sq8Codes(s, dir).select(col("vec_id"), col("d"), col("code")))
      .write.mode("overwrite").parquet(root)
    val t = AtRest.read(s, root)
    val q = t.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("codes").as("qcodes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("code_d2"), col("vec_id"))
    t.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.Sq8Expressions.sq8SdcDist(col("qcodes"), col("codes"))
          .as("code_d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("code_d2"))
      .transform(Common.presented(_, col("query_id"), col("rank")))
  }

  /** X24 — IVF-CELL-RESTRICTED SQ8 SDC: x23's packed serve composed
    * with x3/x11's coarse quantizer, the full production serving shape
    * x22's scaladoc names. BUILD assigns every vector its nearest
    * coarse cell ([[coarseAssign]] over the deterministic seed
    * centroids — x3's convention; a trained quantizer drops in
    * unchanged) and writes the packed codes PARTITIONED BY cell, plus
    * the pre-encoded query rows beside it (a production query arrives
    * already encoded by the frozen quantizer). SERVE probes each
    * query's own cell only: the broadcast query rows join the codes
    * scan on the bare `cell_id` partition attribute, so dynamic
    * partition pruning reads ONLY probed cells' files
    * (PlanContractSpec pins the dynamicpruning filter — x11's
    * discipline), and the distance is the same compiled packed fold.
    * At 100 TB this is the difference between a query batch touching
    * nProbe cells' bytes and re-scanning the whole codes table.
    * Integer distances make the restriction exactly reproducible in
    * SQL — the oracle restates assignment + in-cell SDC verbatim. */
  /** x24/x30's shared BUILD: packed SQ8 codes PARTITIONED BY coarse
    * cell + the pre-encoded query rows beside them, written under
    * `root` — ONE definition so the two serving compositions (and the
    * streaming binding's frozen index) cannot drift. */
  private[graft] def buildSq8CellIndex(s: SparkSession, dir: String,
      root: String): Unit = {
    val c = corpus(s, dir)
    val packed = sq8Packed(
      sq8Codes(s, dir).select(col("vec_id"), col("d"), col("code")))
    val indexed = packed.join(
      coarseAssign(c, coarseCentroids(c))
        .select(col("vec_id"), col("cell_id").cast("int").as("cell_id")),
      Seq("vec_id"))
    AtRest.land(s, s"$root/codes", "cell_id", indexed, "overwrite")
    indexed.filter(col("vec_id") < NumQueries)
      .write.mode("overwrite").parquet(s"$root/queries")
  }

  /** The pre-encoded query rows of a [[buildSq8CellIndex]] layout.
    * The redundant vec_id filter keeps DPP live: the pruning subquery
    * only builds off a selective predicate on the filtering side —
    * without it the planner (correctly, in general) declines and the
    * codes scan reads every cell. */
  private def sq8IndexQueries(s: SparkSession, root: String): DataFrame =
    AtRest.read(s, s"$root/queries")
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("codes").as("qcodes"),
        col("cell_id").as("q_cell"))

  /** x24's SERVE over an explicit pre-encoded query batch (query_id,
    * qcodes, q_cell) against the frozen cell-partitioned index — the
    * unit the STREAMING binding drives per micro-batch
    * (StreamingSq8Spec: per-query independence + a frozen index make
    * the accumulated streamed top-k equal the batch serve regardless
    * of arrival order or batch cuts). The broadcast join on the bare
    * cell_id partition attribute is what fires DPP on a parquet-backed
    * `index`. */
  private[graft] def sq8CellServeAgainst(index: DataFrame,
      q: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("code_d2"), col("vec_id"))
    index.join(broadcast(q),
        col("cell_id") === col("q_cell") && // → dynamic partition pruning
          col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cell_id"),
        graft.functions.Sq8Expressions.sq8SdcDist(col("qcodes"), col("codes"))
          .as("code_d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"),
        col("cell_id").cast("long").as("cell"), col("code_d2"))
  }

  def sq8CellServe(s: SparkSession, dir: String): DataFrame = {
    val root = indexRoot(s, dir) + "/sq8cells"
    buildSq8CellIndex(s, dir, root)
    sq8CellServeAgainst(AtRest.read(s, s"$root/codes"),
        sq8IndexQueries(s, root))
      .transform(Common.presented(_, col("query_id"), col("rank")))
  }

  // ---------------------------------------------------------------
  // x33 — the SQ8 packed-cell family's full lifecycle (the verb
  // matrix's last three-dash row): the per-dim quantizer grid and the
  // coarse codebook FREEZE at build as KB-scale artifacts, which is
  // what makes the other verbs cheap — an append re-encodes ONLY its
  // batch against the stored grid (standing codes untouched; a
  // recomputed grid would silently shift every standing code's
  // meaning), the shared bin-pack compacts the cell dirs, and a
  // forget's targets derive from the REQUEST's own vectors re-assigned
  // through the stored codebook (ir22's request-content shape on the
  // vector tier — the corpus is never re-read for targeting).
  // ---------------------------------------------------------------

  /** Encode (vec_id, embedding) rows against a STORED quantizer frame
    * (d, mn, mx) — x21's encode tree with the stats joined from the
    * frozen artifact instead of recomputed. Out-of-grid batch values
    * clamp to [0, 255], the standard SQ8 saturation. */
  private def sq8EncodeWith(vecs: DataFrame, quant: DataFrame): DataFrame =
    vecs.select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "xf")))
      .select(col("vec_id"), col("d").cast("int").as("d"),
        col("xf").cast("double").as("x"))
      .join(broadcast(quant), Seq("d"))
      .select(col("vec_id"), col("d"),
        when(col("mx") > col("mn"),
          least(lit(255L), greatest(lit(0L),
            floor((col("x") - col("mn")) * lit(255.0d) /
              (col("mx") - col("mn"))))))
          .otherwise(lit(0L)).cast("int").as("code"))

  /** Packed + cell-assigned rows of `vecs` under the STORED quantizer
    * and codebook — the one derivation tree build, append and the
    * forget's targeting all share. */
  private def sq8RowsWith(s: SparkSession, root: String,
      vecs: DataFrame): DataFrame = {
    val withV = vecs.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(dotD(col("v"), col("v"))))
    sq8Packed(sq8EncodeWith(vecs, AtRest.read(s, s"$root/quant")))
      .join(coarseAssign(withV, AtRest.read(s, s"$root/cents"))
          .select(col("vec_id"), col("cell_id").cast("int").as("cell_id")),
        Seq("vec_id"))
      .select(col("vec_id"), col("codes"), col("cell_id"))
  }

  /** BUILD the maintainable SQ8 index: quantizer grid (64 rows) and
    * coarse codebook ([[NumCentroids]] rows) persist beside the
    * cell-partitioned packed codes, plus the pre-encoded query rows
    * (the x24 convention — production queries arrive encoded by the
    * frozen quantizer). */
  private[graft] def buildSq8Maintained(s: SparkSession, root: String,
      standing: DataFrame): Unit = {
    standing
      .select(posexplode(col("embedding")).as(Seq("d", "xf")))
      .select(col("d").cast("int").as("d"), col("xf").cast("double").as("x"))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .write.mode("overwrite").parquet(s"$root/quant")
    coarseCentroids(standing
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("nrm", sqrt(dotD(col("v"), col("v")))))
      .write.mode("overwrite").parquet(s"$root/cents")
    AtRest.land(s, s"$root/codes", "cell_id",
      sq8RowsWith(s, root, standing), "overwrite")
    AtRest.read(s, s"$root/codes").filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("codes"), col("cell_id"))
      .write.mode("overwrite").parquet(s"$root/queries")
  }

  /** APPEND: the batch re-encodes against the FROZEN grid and codebook
    * — batch-sized work, standing codes untouched — behind the ir16
    * exactly-once anti-join (slim id projection; land pins the
    * self-reading plan). */
  private[graft] def appendSq8Maintained(s: SparkSession, root: String,
      batch: DataFrame): Unit =
    AtRest.land(s, s"$root/codes", "cell_id",
      sq8RowsWith(s, root, batch)
        .join(AtRest.read(s, s"$root/codes").select(col("vec_id")),
          Seq("vec_id"), "left_anti"),
      "append")

  /** FORGET: the request's own vectors re-assign through the STORED
    * codebook — their cells are the only partitions touched (the c6
    * key-derived shape, with the key being the vector itself) — and
    * sweep by vec_id through the shared verb; the slim pre-encoded
    * query rows rewrite by anti-join (one KB-scale file). The frozen
    * quantizer artifacts stay: they are learned layout constants, not
    * per-row facts. Idempotent — a rerun re-derives the same cells
    * and re-stages the same survivors. */
  private[graft] def forgetSq8Maintained(s: SparkSession, root: String,
      delVecs: DataFrame): Unit = {
    val ids = delVecs.select(col("vec_id")).distinct().localCheckpoint()
    val withV = delVecs.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(dotD(col("v"), col("v"))))
    val cells = coarseAssign(withV, AtRest.read(s, s"$root/cents"))
      .select(col("cell_id").cast("int").as("c")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    AtRest.sweepBuckets(s, s"$root/codes", "cell_id", cells,
      ids, Seq("vec_id"))
    AtRest.read(s, s"$root/queries")
      .join(broadcast(ids), Seq("vec_id"), "left_anti")
      .localCheckpoint()
      .write.mode("overwrite").parquet(s"$root/queries")
  }

  /** X33 — SQ8 LIFECYCLE: build the frozen-quantizer cell index over
    * the standing corpus, APPEND the incoming batch (re-encoded
    * batch-only against the stored grid), FORGET the delete cohort
    * (request-derived cells, id sweep), and serve x24's
    * cell-restricted SDC from what remains. The oracle restates the
    * whole policy: the quantizer grid over the STANDING corpus only
    * (frozen — a fresh x24 over the survivors would re-learn it and
    * diverge, which is exactly the property this query pins), codes
    * over the survivors, assignment against the standing centroid
    * rows, in-cell integer SDC.
    *
    * 100 TB plan: append cost is the batch's rows (KB-scale artifact
    * reads, standing cells untouched — x19's associativity on the
    * packed tier); forget IO is the request's cells; the serve stays
    * x24's DPP-pruned probe; the shared bin-pack covers the accreted
    * cell dirs (CompactionSpec). */
  def sq8Lifecycle(s: SparkSession, dir: String): DataFrame = {
    val root = indexRoot(s, dir) + "/sq8idx33"
    val emb = Tables.embeddings(s, dir)
    val isBatch = col("vec_id") % DedupOps.IncomingMod === 0 &&
      col("vec_id") >= NumQueries + NumCentroids
    buildSq8Maintained(s, root, emb.filter(!isBatch))
    appendSq8Maintained(s, root, emb.filter(isBatch))
    forgetSq8Maintained(s, root,
      emb.filter(col("vec_id") % DeleteMod === DeleteRem))
    sq8CellServeAgainst(AtRest.read(s, s"$root/codes"),
        sq8IndexQueries(s, root))
      .transform(Common.presented(_, col("query_id"), col("rank")))
  }

  /** x25's shortlist size: the quantized stage keeps `4·K` candidates
    * per query for the exact stage to re-rank — the standard refine
    * multiplier (Faiss `RefineFlat` defaults to small multiples of k;
    * recall lost to quantization decays geometrically in R/K). */
  val RerankR = 4 * K

  /** X25 — QUANTIZED-SHORTLIST + EXACT RE-RANK (the Faiss
    * `IndexRefineFlat` serving pattern, the production two-stage ANN
    * shape): stage 1 ranks the corpus by x23's compiled packed-SQ8
    * SDC fold and keeps the top-[[RerankR]] per query; stage 2
    * re-ranks ONLY that shortlist by exact float cosine and emits the
    * top-[[K]]. Both stages are individually deterministic (integer
    * distances + id tie-break; left-fold doubles), so the composition
    * is restated verbatim by the DuckDB twin.
    *
    * 100 TB plan: the float vectors — 4 bytes/dim × corpus, the
    * column quantization exists to avoid scanning — are touched for
    * exactly Q×[[RerankR]] rows: the shortlist BROADCASTS into the
    * float table's scan (a broadcast-semi-join shape; at rest the
    * float table is id-bucketed so the fetch prunes to matching
    * buckets instead of scanning — x30 materializes exactly that
    * layout and DPP-prunes the fetch). Stage 1 is x23's serve: one scan
    * of the 1-byte/dim codes at whole-stage-codegen speed. The
    * recall/cost dial is [[RerankR]] alone — no index rebuild. */
  /** The exact-refine TAIL shared by x25/x27/x30 (the round-14 review's
    * near-triplicate): attach the broadcast query floats, rank the
    * fetched shortlist by exact cosine (id tie-break), keep top-[[K]].
    * `fetched` carries (query_id, neighbor_id, v, nrm) plus the
    * stage-1 columns `out` names; the FETCH itself stays
    * parameterized — [[corpusFetch]] for the in-memory shape
    * (x25/x27), x30's at-rest DPP join for the id-bucketed table — so
    * the two fetch shapes stay contrasted while the refine tree
    * cannot drift. */
  private def refineExactTopK(fetched: DataFrame, qv: DataFrame,
      out: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    fetched.join(broadcast(qv), Seq("query_id"))
      .withColumn("cos", qCos)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select((Seq("query_id", "rank", "neighbor_id") ++ out).map(col): _*)
      .transform(Common.presented(_, col("query_id"), col("rank")))
  }

  /** The in-memory float fetch (x25/x27): floats touched for exactly
    * the broadcast shortlist's Q·R ids via the semi-join shape. */
  private def corpusFetch(base: DataFrame, shortlist: DataFrame): DataFrame =
    base.join(broadcast(shortlist), Seq("vec_id"))
      .withColumnRenamed("vec_id", "neighbor_id")

  def sq8Rerank(s: SparkSession, dir: String): DataFrame = {
    // cacheExploded = false (x22's discipline): the persisted packed
    // frame covers both downstream consumers — holding the exploded
    // doubles too would keep the largest intermediate resident as
    // dead weight after packed materializes
    val packed = sq8Packed(
      sq8Codes(s, dir, cacheExploded = false)
        .select(col("vec_id"), col("d"), col("code")))
    CacheScope.persist(packed) // two consumers: the query side and the corpus scan
    val q = packed.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("codes").as("qcodes"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("code_d2"), col("vec_id"))
    val shortlist = packed.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.Sq8Expressions.sq8SdcDist(col("qcodes"), col("codes"))
          .as("code_d2"))
      .withColumn("srank", row_number().over(ws))
      .filter(col("srank") <= RerankR)
      .select(col("query_id"), col("vec_id"), col("code_d2"))
    val c = corpus(s, dir).select(col("vec_id"), col("v"), col("nrm"))
    val qv = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    refineExactTopK(corpusFetch(c, shortlist), qv, Seq("cos", "code_d2"))
  }

  /** One 32-bit word of the sign signature: bit `i−lo` set iff
    * `v[i] > 0`, for `i ∈ [lo, lo+32)` — [[VectorFunctions.signBucket]]
    * widened to long words. Pure codegen'd column arithmetic. */
  private def signWord(v: Column, lo: Int): Column =
    (lo until lo + 32)
      .map(i => when(element_at(v, i + 1) > 0f,
        lit(1L << (i - lo))).otherwise(lit(0L)))
      .reduce(_ + _)

  /** X26 — BINARY sign-code serve (1 bit/dim — the binary-hashing
    * tier below SQ8's byte/dim and PQ's sub-byte/dim; Charikar 2002
    * sign-random-projection, stored as the packed "binary embedding"
    * Faiss serves with `IndexBinaryFlat`): each vector compresses to
    * its 64 per-dim sign bits in two 32-bit words, and ranking is
    * Hamming distance — `bit_count(xor)` per word, exact integer
    * arithmetic end-to-end, so the ranking is bit-stable across
    * engines and partitionings. x2's sign-LSH uses 4 of these bits as
    * a BUCKET key for candidate pruning; x26 ranks by the FULL 64-bit
    * distance — the coarse-but-complete serve when even 1 byte/dim is
    * too much (32× smaller than the float column).
    *
    * 100 TB plan: the signature build is scan-bound column arithmetic
    * (no explode, no shuffle — two long words per row); at rest two
    * BIGINTs replace 256 float bytes — x31/[[signHammingAtRest]]
    * WRITES that table id-bucketed and serves from the files. The serve is ONE scan of the
    * signature table with the Q query words broadcast; xor+popcount
    * sits inside whole-stage codegen. Dims beyond 64 add words, not
    * plan shape; production composes this as stage 1 of x25's refine
    * (Hamming shortlist → exact re-rank). */
  def signHamming(s: SparkSession, dir: String): DataFrame = {
    val sig = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        signWord(col("embedding"), 0).as("w0"),
        signWord(col("embedding"), 32).as("w1"))
    val q = sig.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        col("w0").as("qw0"), col("w1").as("qw1"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("vec_id"))
    sig.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (bit_count(col("w0").bitwiseXOR(col("qw0"))) +
          bit_count(col("w1").bitwiseXOR(col("qw1")))).cast("int")
          .as("hamming"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("hamming"))
      .transform(Common.presented(_, col("query_id"), col("rank")))
  }

  /** X30 — IVF-CELL-RESTRICTED SQ8 + EXACT REFINE: x24's
    * dynamic-partition-pruned cell probe as stage 1 of x25's exact
    * re-rank — the Faiss `IndexIVFScalarQuantizer` + `RefineFlat`
    * production stack (the SQ8 symmetric of x27's IVF-PQ + re-rank).
    * BUILD is x24's verbatim: packed codes PARTITIONED BY coarse cell
    * plus the pre-encoded query rows beside them. STAGE 1 probes each
    * query's own cell only (broadcast queries join the codes scan on
    * the bare `cell_id` partition attribute → DPP reads only probed
    * cells' files — PlanContractSpec pins the dynamicpruning filter)
    * and keeps the top-[[RerankR]] by the compiled packed-SDC fold.
    * STAGE 2 fetches floats for exactly Q×[[RerankR]] ids via the
    * broadcast shortlist and re-ranks by exact cosine. Both stages
    * deterministic (integer distances + id tie-break; left-fold
    * doubles), so the DuckDB twin restates the composition verbatim.
    *
    * 100 TB plan: the full production cost model — stage 1 touches
    * nProbe cells' 1-byte/dim codes (not the corpus), stage 2 touches
    * Q·R float rows (not the codes), and the recall/cost dials are
    * (nProbe, R) with no index rebuild; x29's recall table carries
    * this tier's row so the dials are tuned on evidence. */
  /** id-bucket count of the at-rest float table x30's refine stage
    * fetches from — the "id-bucketed at rest" layout x25/x27's
    * docstrings name, materialized: the 4-byte/dim column lives
    * PARTITIONED BY `vec_id % FloatBuckets`, so a shortlist fetch
    * dynamic-partition-prunes to the buckets holding its Q·R ids
    * instead of scanning the float table. */
  val FloatBuckets = 16

  def sq8IvfRerank(s: SparkSession, dir: String): DataFrame = {
    val root = indexRoot(s, dir) + "/sq8ivfrr"
    buildSq8CellIndex(s, dir, root) // x24's layout at x30's own root
    // the refine stage's at-rest float table, id-bucketed (norms are
    // NOT stored — they recompute on exactly the fetched rows, the
    // same `sqrt(dot(v,v))` tree as corpus(), so the values are
    // bit-identical and the table stays a pure column store)
    AtRest.land(s, s"$root/floats", "id_bucket",
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          pmod(col("vec_id"), lit(FloatBuckets.toLong)).cast("int")
            .as("id_bucket")),
      "overwrite")
    val t = AtRest.read(s, s"$root/codes")
    val q = sq8IndexQueries(s, root)
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("code_d2"), col("vec_id"))
    val shortlist = t.join(broadcast(q),
        col("cell_id") === col("q_cell") && // → dynamic partition pruning
          col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cell_id"),
        graft.functions.Sq8Expressions.sq8SdcDist(col("qcodes"), col("codes"))
          .as("code_d2"))
      .withColumn("srank", row_number().over(ws))
      .filter(col("srank") <= RerankR)
      .select(col("query_id"), col("vec_id"), col("cell_id"), col("code_d2"))
    // exact refine: floats fetched for the Q·R shortlist ids ONLY,
    // through the id-bucketed at-rest table — the broadcast shortlist
    // joins the bare id_bucket partition attribute, so DPP reads only
    // the buckets holding shortlist ids (PlanContractSpec pins it)
    val fl = AtRest.read(s, s"$root/floats")
    val slb = shortlist.select(col("query_id"), col("vec_id").as("n_id"),
      col("cell_id"), col("code_d2"),
      pmod(col("vec_id"), lit(FloatBuckets.toLong)).cast("int")
        .as("sl_bucket"))
    val fetched = fl.join(broadcast(slb),
        col("id_bucket") === col("sl_bucket") && // → DPP
          col("vec_id") === col("n_id"))
      .select(col("query_id"), col("n_id").as("neighbor_id"),
        col("cell_id").cast("long").as("cell"), col("code_d2"),
        col("embedding").as("v"))
      .withColumn("nrm", sqrt(dotD(col("v"), col("v"))))
    // query floats: a STATIC bucket predicate (query ids are known)
    val qBuckets = (0 until NumQueries).map(_ % FloatBuckets).distinct
    val qv = AtRest.read(s, s"$root/floats")
      .filter(col("id_bucket").isin(qBuckets: _*) &&
        col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("qn", sqrt(dotD(col("qv"), col("qv"))))
    refineExactTopK(fetched, qv, Seq("cell", "cos", "code_d2"))
  }

  /** X31 — BINARY SIGN-CODE SERVE FROM THE AT-REST SIGNATURE TABLE:
    * x26's "two BIGINTs replace 256 float bytes at rest" claim made
    * physical. BUILD packs every vector's 64 sign bits into two long
    * words (one scan-bound pass) and WRITES the signature table
    * PARTITIONED BY `vec_id % FloatBuckets` — the same id-bucketed
    * layout x30's float table uses, so the binary tier composes as
    * stage 1 of a refine whose exact fetch prunes by id. SERVE reads
    * the table back: the query words come from the static id-bucket
    * predicate (query ids are known — x30's qv discipline), the
    * corpus side is ONE scan of the written signatures with
    * `bit_count(xor)` inside codegen, and the floats are never
    * touched. Output BIT-IDENTICAL to x26 (oracle verbatim).
    *
    * 100 TB plan: the recurring serve cost drops to a scan of
    * 16 bytes/vector (ScaleSpec measures the at-rest parquet ratio
    * against the float column); signature rows are per-vector facts,
    * so the ir21/x19 append discipline maintains the table without
    * touching standing files. */
  /** The sign-signature rows of any embeddings frame — ONE derivation
    * tree for the x31 build, the x32 append and the forget's rebuild
    * comparison. */
  private def signRows(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
      signWord(col("embedding"), 0).as("w0"),
      signWord(col("embedding"), 32).as("w1"),
      pmod(col("vec_id"), lit(FloatBuckets.toLong)).cast("int")
        .as("id_bucket"))

  private[graft] def writeSignIndex(s: SparkSession, root: String,
      vecs: DataFrame): Unit =
    AtRest.land(s, s"$root/signatures", "id_bucket", signRows(vecs),
      "overwrite")

  /** x32's APPEND: per-vector facts (a standing vector's signature
    * never changes), exactly-once behind the ir16 anti-join (land pins
    * the self-reading plan) — standing files untouched. */
  private[graft] def appendSignIndex(s: SparkSession, root: String,
      batch: DataFrame): Unit =
    AtRest.land(s, s"$root/signatures", "id_bucket",
      signRows(batch)
        .join(AtRest.read(s, s"$root/signatures").select(col("vec_id")),
          Seq("vec_id"), "left_anti"),
      "append")

  /** x32's FORGET: the simplest sweep in the forget family — the
    * layout is id-bucketed, so a delete request's target partitions
    * are a pure function of its ids (c6's rule on the vector tier):
    * survivors anti-join the broadcast request and replace exactly
    * their buckets; an all-deleted bucket's directory drops.
    * Idempotent — a rerun re-stages the same survivors. */
  private[graft] def forgetSignIndex(s: SparkSession, root: String,
      delIds: DataFrame): Unit = {
    val ids = delIds.select(col("vec_id")).distinct().localCheckpoint()
    val dBuckets = ids
      .select(pmod(col("vec_id"), lit(FloatBuckets.toLong)).cast("int")
        .as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    AtRest.sweepBuckets(s, s"$root/signatures", "id_bucket", dBuckets,
      ids, Seq("vec_id"))
    ()
  }

  /** x31's serve body over any written signature root — shared by the
    * build-only serve (x31) and the maintained lifecycle (x32), so
    * the two paths cannot drift. */
  private[graft] def signServeFrom(s: SparkSession, root: String): DataFrame = {
    val sig = AtRest.read(s, s"$root/signatures")
    val qBuckets = (0 until NumQueries).map(_ % FloatBuckets).distinct
    val q = sig
      .filter(col("id_bucket").isin(qBuckets: _*) &&
        col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        col("w0").as("qw0"), col("w1").as("qw1"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("vec_id"))
    sig.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (bit_count(col("w0").bitwiseXOR(col("qw0"))) +
          bit_count(col("w1").bitwiseXOR(col("qw1")))).cast("int")
          .as("hamming"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("hamming"))
      .transform(Common.presented(_, col("query_id"), col("rank")))
  }

  def signHammingAtRest(s: SparkSession, dir: String): DataFrame = {
    val root = indexRoot(s, dir) + "/signidx"
    writeSignIndex(s, root, Tables.embeddings(s, dir))
    signServeFrom(s, root)
  }

  /** X32 — THE SIGN INDEX'S MAINTAINED LIFECYCLE: build the standing
    * signatures, fold the incoming cohort in exactly-once
    * ([[appendSignIndex]]), EXECUTE the x17 delete cohort
    * ([[forgetSignIndex]] — the id-bucketed sweep, targets from the
    * request alone), and serve x26's Hamming top-k from what remains.
    * One query proves build∘append∘forget∘serve == a fresh build over
    * the survivors (the x20 convergence invariant on the binary
    * tier): the oracle is x26's SQL over embeddings MINUS the delete
    * cohort — note query id 3 is IN the cohort, so its query rows
    * vanish too, which the serve reproduces because queries read from
    * the maintained table itself.
    *
    * 100 TB plan: signatures are per-vector facts — append IO is the
    * batch plus an id-column membership read, forget IO is the
    * request's buckets of a 17-bytes/vector table, and the serve
    * scan shrinks with deletions immediately (no tombstone debt). */
  def signMaintained(s: SparkSession, dir: String): DataFrame = {
    val root = indexRoot(s, dir) + "/signidx32"
    val vecs = Tables.embeddings(s, dir)
    writeSignIndex(s, root,
      vecs.filter(col("vec_id") % DedupOps.IncomingMod =!= 0))
    appendSignIndex(s, root,
      vecs.filter(col("vec_id") % DedupOps.IncomingMod === 0))
    forgetSignIndex(s, root,
      vecs.filter(col("vec_id") % DeleteMod === DeleteRem)
        .select(col("vec_id")))
    signServeFrom(s, root)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x32_sign_maintained" -> (signMaintained _),
    "x31_sign_atrest" -> (signHammingAtRest _),
    "x30_sq8_ivf_rerank" -> (sq8IvfRerank _),
    "x25_sq8_rerank" -> (sq8Rerank _),
    "x27_ivfpq_rerank" -> (ivfPqRerank _),
    "x28_pq_balanced" -> (pqBalanced _),
    "x29_quant_recall" -> (quantRecall _),
    "x26_sign_hamming" -> (signHamming _),
    "x21_sq8_encode" -> (sq8Encode _),
    "x22_sq8_sdc" -> (sq8Sdc _),
    "x23_sq8_packed" -> (sq8PackedServe _),
    "x24_sq8_ivf" -> (sq8CellServe _),
    "x33_sq8_lifecycle" -> (sq8Lifecycle _),
    "x20_ivfpq_lifecycle" -> (ivfPqLifecycle _),
    "x19_ivfpq_applied" -> (ivfPqApplied _),
    "x18_ivfpq_trained_full" -> (ivfPqTrainedFull _),
    "x17_index_compact" -> (ivfPqCompact _),
    "x16_cell_split" -> (cellSplit _),
    "x15_ivfpq_append" -> (ivfPqAppend _),
    "x14_ivfpq_trained" -> (ivfPqTrained _),
    "x13_ivfpq_multiprobe" -> (ivfPqMultiProbe _),
    "x12_pq_train" -> (pqEncodeTrained _),
    "x11_ivfpq_serve" -> (ivfPqServe _),
    "x10_ivfpq" -> (ivfPqSearch _),
    "x9_pq_adc" -> (pqAdcSearch _),
    "x8_pq_encode" -> (pqEncode _),
    "x7_kmeans" -> (kmeansRefine _),
    "x6_topk_agg" -> (topkAggJson _),
    "x1_knn_brute" -> (knnBrute _),
    "x2_ann_lsh" -> (annLsh _),
    "x3_ann_ivf" -> (annIvf _),
    "x4_ann_multiprobe" -> (annMultiProbe _),
    "x5_ann_recall" -> (annRecall _))

  private def corpusSql =
    s"""SELECT vec_id, embedding AS v,
       |       ${signBucketSql("embedding", BucketBits)} AS bucket,
       |       sqrt(${dotDSql("embedding", "embedding")}) AS nrm
       |FROM embeddings""".stripMargin

  /** x21/x22's shared DuckDB CTEs: the exploded double frame, per-dim
    * stats and the SQ8 code assignment — ONE definition so the encode
    * and the SDC serve cannot drift. */
  private lazy val sq8CtesSql: String =
    s"""x AS (SELECT vec_id, CAST(u.d AS INT) - 1 AS d,
       |             CAST(embedding[u.d] AS DOUBLE) AS x
       |      FROM embeddings,
       |           unnest(generate_series(1, len(embedding))) AS u(d)),
       |st AS (SELECT d, min(x) AS mn, max(x) AS mx FROM x GROUP BY d),
       |c AS (SELECT vec_id, x.d, st.mn, st.mx,
       |             CASE WHEN st.mx > st.mn
       |                  THEN CAST(least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
       |                         CAST(floor((x.x - st.mn) * CAST(255 AS DOUBLE)
       |                                    / (st.mx - st.mn)) AS BIGINT))) AS INT)
       |                  ELSE 0 END AS code
       |      FROM x JOIN st USING (d))""".stripMargin

  /** x25's twin: x22's shared code CTEs → top-[[RerankR]] shortlist by
    * integer SDC distance → exact float cosine ([[dotDSql]]'s fold
    * order) over the shortlist only → top-[[K]]. */
  private lazy val sq8RerankSql: String =
    s"""WITH $sq8CtesSql,
       |q AS (SELECT vec_id AS query_id, d, code AS qcode
       |      FROM c WHERE vec_id < $NumQueries),
       |p AS (SELECT q.query_id, c.vec_id,
       |             CAST(sum(CAST((q.qcode - c.code) * (q.qcode - c.code) AS BIGINT)) AS BIGINT) AS code_d2
       |      FROM c JOIN q USING (d)
       |      WHERE q.query_id <> c.vec_id
       |      GROUP BY 1, 2),
       |sl AS (SELECT query_id, vec_id, code_d2 FROM p
       |       QUALIFY row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY code_d2, vec_id) <= $RerankR),
       |e AS (SELECT vec_id, embedding AS v,
       |             sqrt(${dotDSql("embedding", "embedding")}) AS nrm
       |      FROM embeddings),
       |r AS (SELECT sl.query_id, sl.vec_id AS neighbor_id, sl.code_d2,
       |             ${dotDSql("qe.v", "e.v")} / (qe.nrm * e.nrm) AS cos
       |      FROM sl JOIN e ON sl.vec_id = e.vec_id
       |               JOIN e qe ON sl.query_id = qe.vec_id)
       |SELECT query_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
       |       neighbor_id, cos, code_d2
       |FROM r
       |QUALIFY rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** DuckDB twin of [[signWord]] — identical sign rule and bit
    * weights, BIGINT terms so the 32-term sum never leaves int64. */
  private def signWordSql(v: String, lo: Int): String =
    (lo until lo + 32)
      .map(i => s"CASE WHEN $v[${i + 1}] > 0 THEN CAST(${1L << (i - lo)} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString("(", " + ", ")")

  private lazy val signHammingSql: String = signHammingSqlOver("")

  /** x26's twin over a filtered vector universe — x32 passes the
    * delete cohort's complement; query rows in the cohort vanish on
    * both sides (the serve reads queries from the maintained table). */
  private def signHammingSqlOver(where: String): String =
    s"""WITH sig AS (SELECT vec_id,
       |                    ${signWordSql("embedding", 0)} AS w0,
       |                    ${signWordSql("embedding", 32)} AS w1
       |             FROM embeddings$where),
       |q AS (SELECT vec_id AS query_id, w0 AS qw0, w1 AS qw1
       |      FROM sig WHERE vec_id < $NumQueries),
       |p AS (SELECT query_id, s.vec_id,
       |             CAST(bit_count(xor(s.w0, q.qw0)) +
       |                  bit_count(xor(s.w1, q.qw1)) AS INT) AS hamming
       |      FROM sig s CROSS JOIN q
       |      WHERE query_id <> s.vec_id)
       |SELECT query_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY hamming, vec_id) AS INT) AS rank,
       |       vec_id AS neighbor_id, hamming
       |FROM p
       |QUALIFY rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** x28's twin: spread-ranked round-robin mapping → permuted gathers
    * (list ordered by slot — the collect_list/array_sort twin) →
    * the x8 argmin/pivot restated per subspace, joined against the
    * natural encode's qerr ([[pqSql]] as a subquery). */
  private lazy val pqBalancedSql: String =
    s"""WITH c AS ($corpusSql),
       |xx AS (SELECT vec_id, CAST(u.d AS INT) - 1 AS d, v[u.d] AS xf
       |       FROM c, unnest(generate_series(1, len(v))) AS u(d)),
       |stm AS (SELECT d, min(CAST(xf AS DOUBLE)) AS mn,
       |               max(CAST(xf AS DOUBLE)) AS mx
       |        FROM xx GROUP BY d),
       |mp AS (SELECT d, CAST((r - 1) % $PqM AS INT) AS m,
       |              CAST((r - 1) // $PqM AS INT) AS slot
       |       FROM (SELECT d, row_number() OVER (ORDER BY mx - mn DESC, d) AS r
       |             FROM stm)),
       |pv AS (SELECT vec_id, m, list(xf ORDER BY slot) AS s
       |       FROM xx JOIN mp USING (d) GROUP BY vec_id, m),
       |centb AS (SELECT m, vec_id AS cent_id, s AS cs FROM pv
       |          WHERE vec_id >= $NumQueries
       |            AND vec_id < ${NumQueries + NumCentroids}),
       |db AS (SELECT pv.vec_id, pv.m, centb.cent_id,
       |              ${dotDSql("s", "s")} - 2 * ${dotDSql("s", "cs")}
       |                + ${dotDSql("cs", "cs")} AS d2
       |       FROM pv JOIN centb USING (m)),
       |bb AS (SELECT vec_id, m, d2 FROM db
       |       QUALIFY row_number() OVER (PARTITION BY vec_id, m
       |                                  ORDER BY d2, cent_id) = 1),
       |qb AS (SELECT vec_id,
       |              max(CASE WHEN m = 0 THEN d2 END) + max(CASE WHEN m = 1 THEN d2 END)
       |                + max(CASE WHEN m = 2 THEN d2 END) + max(CASE WHEN m = 3 THEN d2 END) AS qerr_bal
       |       FROM bb GROUP BY vec_id),
       |qn AS (SELECT vec_id, qerr AS qerr_nat FROM ($pqSql) nat)
       |SELECT vec_id, qerr_nat, qerr_bal,
       |       CASE WHEN qerr_bal < qerr_nat THEN 1 ELSE 0 END AS improved
       |FROM qn JOIN qb USING (vec_id)
       |ORDER BY vec_id""".stripMargin

  private val oraclesBase: Map[String, String] = Map(
    // all-double arithmetic with operand order matching the Spark
    // expressions exactly; constants written as double casts (a bare
    // 255.0 is DECIMAL in DuckDB)
    "x21_sq8_encode" ->
      s"""WITH $sq8CtesSql
         |SELECT vec_id, d, code,
         |       mn + ((CAST(code AS DOUBLE) + CAST(0.5 AS DOUBLE)) * (mx - mn))
         |              / CAST(255 AS DOUBLE) AS dq
         |FROM c ORDER BY vec_id, d""".stripMargin,
    // x21's shared code CTEs; the SDC distance is pure integer
    // arithmetic (sum widens to HUGEINT -> cast back)
    "x22_sq8_sdc" ->
      s"""WITH $sq8CtesSql,
         |q AS (SELECT vec_id AS query_id, d, code AS qcode
         |      FROM c WHERE vec_id < $NumQueries),
         |p AS (SELECT q.query_id, c.vec_id,
         |             CAST(sum(CAST((q.qcode - c.code) * (q.qcode - c.code) AS BIGINT)) AS BIGINT) AS code_d2
         |      FROM c JOIN q USING (d)
         |      WHERE q.query_id <> c.vec_id
         |      GROUP BY 1, 2)
         |SELECT query_id,
         |       CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY code_d2, vec_id) AS INT) AS rank,
         |       vec_id AS neighbor_id, code_d2
         |FROM p
         |QUALIFY rank <= $K
         |ORDER BY query_id, rank""".stripMargin,
    "x1_knn_brute" ->
      s"""WITH c AS ($corpusSql),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM c WHERE vec_id < $NumQueries),
         |p AS (SELECT query_id, c.vec_id AS neighbor_id,
         |             ${dotDSql("qv", "v")} / (qn * nrm) AS cos
         |      FROM c CROSS JOIN q WHERE query_id <> c.vec_id)
         |SELECT query_id,
         |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
         |       neighbor_id, cos
         |FROM p
         |QUALIFY rank <= $K
         |ORDER BY query_id, rank""".stripMargin,
    "x2_ann_lsh" ->
      s"""WITH c AS ($corpusSql),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qb
         |      FROM c WHERE vec_id < $NumQueries),
         |p AS (SELECT query_id, c.vec_id AS neighbor_id,
         |             ${dotDSql("qv", "v")} / (qn * nrm) AS cos
         |      FROM c JOIN q ON qb = c.bucket WHERE query_id <> c.vec_id)
         |SELECT query_id,
         |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
         |       neighbor_id, cos
         |FROM p
         |QUALIFY rank <= $K
         |ORDER BY query_id, rank""".stripMargin,
    "x3_ann_ivf" ->
      s"""WITH c AS ($corpusSql),
         |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM c
         |          WHERE vec_id >= $NumQueries AND vec_id < ${NumQueries + NumCentroids}),
         |assigned AS (
         |  SELECT vec_id, v, nrm, cent_id
         |  FROM (SELECT c.vec_id, c.v, c.nrm, cents.cent_id,
         |               ${dotDSql("c.v", "cents.cv")} / (c.nrm * cents.cn) AS cent_cos
         |        FROM c CROSS JOIN cents)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY cent_cos DESC, cent_id) = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, cent_id AS qc
         |      FROM assigned WHERE vec_id < $NumQueries),
         |p AS (SELECT query_id, a.vec_id AS neighbor_id,
         |             ${dotDSql("qv", "a.v")} / (qn * a.nrm) AS cos
         |      FROM assigned a JOIN q ON qc = a.cent_id
         |      WHERE query_id <> a.vec_id)
         |SELECT query_id,
         |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
         |       neighbor_id, cos
         |FROM p
         |QUALIFY rank <= $K
         |ORDER BY query_id, rank""".stripMargin,
    "x4_ann_multiprobe" -> {
      val flips = (0 until BucketBits).map(i => s"xor(qb, ${1 << i})")
      s"""WITH c AS ($corpusSql),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qb
         |      FROM c WHERE vec_id < $NumQueries),
         |probes AS (SELECT query_id, qv, qn, u.pb
         |           FROM q, unnest([qb, ${flips.mkString(", ")}]) AS u(pb)),
         |p AS (SELECT query_id, c.vec_id AS neighbor_id,
         |             ${dotDSql("qv", "c.v")} / (qn * c.nrm) AS cos
         |      FROM c JOIN probes ON pb = c.bucket
         |      WHERE query_id <> c.vec_id)
         |SELECT query_id,
         |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
         |       neighbor_id, cos
         |FROM p
         |QUALIFY rank <= $K
         |ORDER BY query_id, rank""".stripMargin
    })

  /** The x5 oracle reuses the x1-x4 oracle SQL verbatim as CTE bodies —
    * any drift between a variant's Spark program and its oracle shows up
    * in that variant's own row, and x5 stays consistent by construction. */
  private def recallSql: String =
    s"""WITH brute AS (${oracleBase("x1_knn_brute")}),
       |lsh AS (${oracleBase("x2_ann_lsh")}),
       |ivf AS (${oracleBase("x3_ann_ivf")}),
       |mp AS (${oracleBase("x4_ann_multiprobe")}),
       |joined AS (
       |  SELECT b.query_id,
       |         CASE WHEN l.neighbor_id IS NULL THEN 0 ELSE 1 END AS in_lsh,
       |         CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END AS in_ivf,
       |         CASE WHEN m.neighbor_id IS NULL THEN 0 ELSE 1 END AS in_mp
       |  FROM brute b
       |  LEFT JOIN lsh l ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
       |  LEFT JOIN ivf i ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
       |  LEFT JOIN mp m ON b.query_id = m.query_id AND b.neighbor_id = m.neighbor_id)
       |SELECT query_id,
       |       CAST(SUM(in_lsh) AS INT) AS n_lsh,
       |       CAST(SUM(in_ivf) AS INT) AS n_ivf,
       |       CAST(SUM(in_mp) AS INT) AS n_mp,
       |       CAST(SUM(in_lsh) AS DOUBLE) / $K AS recall_lsh,
       |       CAST(SUM(in_ivf) AS DOUBLE) / $K AS recall_ivf,
       |       CAST(SUM(in_mp) AS DOUBLE) / $K AS recall_mp
       |FROM joined GROUP BY query_id ORDER BY query_id""".stripMargin

  private def oracleBase(name: String): String = oraclesBase(name)

  /** The x29 oracle composes the tier oracles verbatim as CTE bodies —
    * x5's convention: drift between any tier's Spark program and its
    * oracle surfaces in that tier's own row, and x29 stays consistent
    * by construction. */
  private lazy val quantRecallSql: String =
    s"""WITH brute AS (${oracleBase("x1_knn_brute")}),
       |sdc AS (${oracleBase("x22_sq8_sdc")}),
       |ham AS ($signHammingSql),
       |sq8rr AS ($sq8RerankSql),
       |ivfrr AS ($ivfPqRerankSql),
       |ivfsq AS ($sq8IvfRerankSql),
       |joined AS (
       |  SELECT b.query_id,
       |         CASE WHEN s.neighbor_id IS NULL THEN 0 ELSE 1 END AS in_sdc,
       |         CASE WHEN h.neighbor_id IS NULL THEN 0 ELSE 1 END AS in_ham,
       |         CASE WHEN r1.neighbor_id IS NULL THEN 0 ELSE 1 END AS in_sq8rr,
       |         CASE WHEN r2.neighbor_id IS NULL THEN 0 ELSE 1 END AS in_ivfrr,
       |         CASE WHEN r3.neighbor_id IS NULL THEN 0 ELSE 1 END AS in_ivfsq
       |  FROM brute b
       |  LEFT JOIN sdc s ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id
       |  LEFT JOIN ham h ON b.query_id = h.query_id AND b.neighbor_id = h.neighbor_id
       |  LEFT JOIN sq8rr r1 ON b.query_id = r1.query_id AND b.neighbor_id = r1.neighbor_id
       |  LEFT JOIN ivfrr r2 ON b.query_id = r2.query_id AND b.neighbor_id = r2.neighbor_id
       |  LEFT JOIN ivfsq r3 ON b.query_id = r3.query_id AND b.neighbor_id = r3.neighbor_id)
       |SELECT query_id,
       |       CAST(SUM(in_sdc) AS INT) AS n_sdc,
       |       CAST(SUM(in_ham) AS INT) AS n_ham,
       |       CAST(SUM(in_sq8rr) AS INT) AS n_sq8rr,
       |       CAST(SUM(in_ivfrr) AS INT) AS n_ivfrr,
       |       CAST(SUM(in_ivfsq) AS INT) AS n_ivfsq,
       |       CAST(SUM(in_sdc) AS DOUBLE) / $K AS recall_sdc,
       |       CAST(SUM(in_ham) AS DOUBLE) / $K AS recall_ham,
       |       CAST(SUM(in_sq8rr) AS DOUBLE) / $K AS recall_sq8rr,
       |       CAST(SUM(in_ivfrr) AS DOUBLE) / $K AS recall_ivfrr,
       |       CAST(SUM(in_ivfsq) AS DOUBLE) / $K AS recall_ivfsq
       |FROM joined GROUP BY query_id ORDER BY query_id""".stripMargin

  /** x7: the same unrolled assign → decimal-exact mean → re-assign as
    * [[kmeansRefine]]; the refined centroid list is rebuilt in dim
    * order so the dot-product fold order matches the Spark side. */
  private def kmeansSql: String =
    s"""WITH c AS ($corpusSql),
       |seeds AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM c
       |          WHERE vec_id >= $NumQueries AND vec_id < ${NumQueries + NumCentroids}),
       |a1 AS (SELECT vec_id, v, nrm, cent_id AS c1 FROM (
       |         SELECT c.vec_id, c.v, c.nrm, s.cent_id,
       |                ${dotDSql("c.v", "s.cv")} / (c.nrm * s.cn) AS cent_cos
       |         FROM c CROSS JOIN seeds s)
       |       QUALIFY row_number() OVER (PARTITION BY vec_id
       |                                  ORDER BY cent_cos DESC, cent_id) = 1),
       |ex AS (SELECT c1 AS cent_id, u.dim,
       |              CAST(CAST(v[u.dim] AS DOUBLE) AS DECIMAL(20,9)) AS x
       |       FROM a1, unnest(generate_series(1, len(v))) AS u(dim)),
       |m AS (SELECT cent_id, dim,
       |             CAST(CAST(sum(x) AS DOUBLE) / count(*) AS FLOAT) AS cx
       |      FROM ex GROUP BY cent_id, dim),
       |nc AS (SELECT cent_id, list(cx ORDER BY dim) AS cv FROM m GROUP BY cent_id),
       |nc2 AS (SELECT cent_id, cv, sqrt(${dotDSql("cv", "cv")}) AS cn FROM nc),
       |a2 AS (SELECT vec_id, c1, cent_id AS c2, cent_cos AS cos2 FROM (
       |         SELECT a1.vec_id, a1.c1, n.cent_id,
       |                ${dotDSql("a1.v", "n.cv")} / (a1.nrm * n.cn) AS cent_cos
       |         FROM a1 CROSS JOIN nc2 n)
       |       QUALIFY row_number() OVER (PARTITION BY vec_id
       |                                  ORDER BY cent_cos DESC, cent_id) = 1)
       |SELECT vec_id, c1, c2,
       |       CASE WHEN c1 <> c2 THEN 1 ELSE 0 END AS moved, cos2
       |FROM a2 ORDER BY vec_id""".stripMargin

  /** X8 oracle: list slices are 1-based inclusive in DuckDB
    * (`v[a:b]`); qerr adds the four subspace distortions in the same
    * fixed order as the Spark pivot. */
  private def pqSql =
    s"""WITH e AS ($corpusSql),
       |sub AS (SELECT vec_id, u.m,
       |               v[(u.m * $PqSubDim + 1):((u.m + 1) * $PqSubDim)] AS s
       |        FROM e, unnest([0, 1, 2, 3]) AS u(m)),
       |cent AS (SELECT m, vec_id AS cent_id, s AS cs FROM sub
       |         WHERE vec_id >= $NumQueries
       |           AND vec_id < ${NumQueries + NumCentroids}),
       |d AS (SELECT sub.vec_id, sub.m, cent.cent_id,
       |             ${dotDSql("s", "s")} - 2 * ${dotDSql("s", "cs")}
       |               + ${dotDSql("cs", "cs")} AS d2
       |      FROM sub JOIN cent USING (m)),
       |best AS (SELECT vec_id, m, cent_id, d2,
       |                row_number() OVER (PARTITION BY vec_id, m
       |                  ORDER BY d2, cent_id) AS rn
       |         FROM d)
       |SELECT vec_id,
       |       max(CASE WHEN m = 0 THEN cent_id END) AS code0,
       |       max(CASE WHEN m = 1 THEN cent_id END) AS code1,
       |       max(CASE WHEN m = 2 THEN cent_id END) AS code2,
       |       max(CASE WHEN m = 3 THEN cent_id END) AS code3,
       |       max(CASE WHEN m = 0 THEN d2 END) + max(CASE WHEN m = 1 THEN d2 END)
       |         + max(CASE WHEN m = 2 THEN d2 END) + max(CASE WHEN m = 3 THEN d2 END) AS qerr
       |FROM best WHERE rn = 1
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** X9 oracle: the same ADC pipeline — codes from [[pqSql]] (nested
    * as a subquery), per-query distance table, fixed-order 4-term sum,
    * rank by (adc, vec_id). */
  private def pqAdcSql =
    s"""WITH e AS ($corpusSql),
       |codes0 AS (SELECT * FROM ($pqSql) pq),
       |codes AS (SELECT vec_id, u.m,
       |                 CASE u.m WHEN 0 THEN code0 WHEN 1 THEN code1
       |                          WHEN 2 THEN code2 ELSE code3 END AS code
       |          FROM codes0, unnest([0, 1, 2, 3]) AS u(m)),
       |qsub AS (SELECT vec_id AS query_id, u.m,
       |                v[(u.m * $PqSubDim + 1):((u.m + 1) * $PqSubDim)] AS qs
       |         FROM e, unnest([0, 1, 2, 3]) AS u(m)
       |         WHERE vec_id < $NumQueries),
       |cent AS (SELECT vec_id AS cent_id, u.m,
       |                v[(u.m * $PqSubDim + 1):((u.m + 1) * $PqSubDim)] AS cs
       |         FROM e, unnest([0, 1, 2, 3]) AS u(m)
       |         WHERE vec_id >= $NumQueries
       |           AND vec_id < ${NumQueries + NumCentroids}),
       |dt AS (SELECT query_id, qsub.m, cent_id,
       |              ${dotDSql("qs", "qs")} - 2 * ${dotDSql("qs", "cs")}
       |                + ${dotDSql("cs", "cs")} AS pd
       |       FROM qsub JOIN cent USING (m)),
       |j AS (SELECT dt.query_id, codes.vec_id, codes.m, dt.pd
       |      FROM codes JOIN dt ON codes.m = dt.m AND codes.code = dt.cent_id
       |      WHERE dt.query_id <> codes.vec_id),
       |adc AS (SELECT query_id, vec_id,
       |               max(CASE WHEN m = 0 THEN pd END) + max(CASE WHEN m = 1 THEN pd END)
       |                 + max(CASE WHEN m = 2 THEN pd END) + max(CASE WHEN m = 3 THEN pd END) AS adc
       |        FROM j GROUP BY query_id, vec_id)
       |SELECT query_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY adc, vec_id) AS INT) AS rank,
       |       vec_id AS neighbor_id, adc
       |FROM adc
       |QUALIFY rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** X10 oracle: x3's assignment CTE + x8's codes + x9's tables, with
    * the probe restricted to the query's cell. */
  private def ivfPqSql: String = ivfPqSqlPred("1 = 1")

  /** [[ivfPqSql]] with the index CONTENT restricted by `codesPred` —
    * x17's oracle is the same serve with the deleted vectors absent
    * from the candidate set (queries and quantizers untouched). */
  private def ivfPqSqlPred(codesPred: String) =
    s"""WITH c AS ($corpusSql),
       |coarse AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM c
       |           WHERE vec_id >= $NumQueries
       |             AND vec_id < ${NumQueries + NumCentroids}),
       |assigned AS (
       |  SELECT vec_id, v, cell_id
       |  FROM (SELECT c.vec_id, c.v, coarse.cell_id,
       |               ${dotDSql("c.v", "coarse.cv")} / (c.nrm * coarse.cn) AS cent_cos
       |        FROM c CROSS JOIN coarse)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cent_cos DESC, cell_id) = 1),
       |codes0 AS (SELECT * FROM ($pqSql) pq),
       |codes AS (SELECT codes0.vec_id, u.m,
       |                 CASE u.m WHEN 0 THEN code0 WHEN 1 THEN code1
       |                          WHEN 2 THEN code2 ELSE code3 END AS code,
       |                 assigned.cell_id
       |          FROM codes0, unnest([0, 1, 2, 3]) AS u(m)
       |          JOIN assigned ON codes0.vec_id = assigned.vec_id
       |          WHERE $codesPred),
       |qsub AS (SELECT vec_id AS query_id, cell_id AS q_cell, u.m,
       |                v[(u.m * $PqSubDim + 1):((u.m + 1) * $PqSubDim)] AS qs
       |         FROM assigned, unnest([0, 1, 2, 3]) AS u(m)
       |         WHERE vec_id < $NumQueries),
       |cent AS (SELECT vec_id AS cent_id, u.m,
       |                v[(u.m * $PqSubDim + 1):((u.m + 1) * $PqSubDim)] AS cs
       |         FROM c, unnest([0, 1, 2, 3]) AS u(m)
       |         WHERE vec_id >= $NumQueries
       |           AND vec_id < ${NumQueries + NumCentroids}),
       |dt AS (SELECT query_id, q_cell, qsub.m, cent_id,
       |              ${dotDSql("qs", "qs")} - 2 * ${dotDSql("qs", "cs")}
       |                + ${dotDSql("cs", "cs")} AS pd
       |       FROM qsub JOIN cent USING (m)),
       |j AS (SELECT dt.query_id, codes.vec_id, codes.cell_id, codes.m, dt.pd
       |      FROM codes JOIN dt ON codes.m = dt.m AND codes.code = dt.cent_id
       |                        AND codes.cell_id = dt.q_cell
       |      WHERE dt.query_id <> codes.vec_id),
       |adc AS (SELECT query_id, vec_id, cell_id,
       |               max(CASE WHEN m = 0 THEN pd END) + max(CASE WHEN m = 1 THEN pd END)
       |                 + max(CASE WHEN m = 2 THEN pd END) + max(CASE WHEN m = 3 THEN pd END) AS adc
       |        FROM j GROUP BY query_id, vec_id, cell_id)
       |SELECT query_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY adc, vec_id) AS INT) AS rank,
       |       vec_id AS neighbor_id, cell_id AS cell, adc
       |FROM adc
       |QUALIFY rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** The x13/x27 shared CTE body: [[ivfPqSql]] with the query-side
    * cell assignment widened to the top-`nProbe` cells (rank ≤ P
    * instead of = 1), ending at the per-candidate `adc` CTE; the
    * corpus side and the ADC math are unchanged. */
  private def ivfPqMultiBodySql(nProbe: Int) =
    s"""WITH c AS ($corpusSql),
       |coarse AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM c
       |           WHERE vec_id >= $NumQueries
       |             AND vec_id < ${NumQueries + NumCentroids}),
       |assigned AS (
       |  SELECT vec_id, cell_id
       |  FROM (SELECT c.vec_id, coarse.cell_id,
       |               ${dotDSql("c.v", "coarse.cv")} / (c.nrm * coarse.cn) AS cent_cos
       |        FROM c CROSS JOIN coarse)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cent_cos DESC, cell_id) = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cell_id AS q_cell
       |  FROM (SELECT c.vec_id, coarse.cell_id,
       |               ${dotDSql("c.v", "coarse.cv")} / (c.nrm * coarse.cn) AS cent_cos
       |        FROM c CROSS JOIN coarse WHERE c.vec_id < $NumQueries)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cent_cos DESC, cell_id) <= $nProbe),
       |codes0 AS (SELECT * FROM ($pqSql) pq),
       |codes AS (SELECT codes0.vec_id, u.m,
       |                 CASE u.m WHEN 0 THEN code0 WHEN 1 THEN code1
       |                          WHEN 2 THEN code2 ELSE code3 END AS code,
       |                 assigned.cell_id
       |          FROM codes0, unnest([0, 1, 2, 3]) AS u(m)
       |          JOIN assigned ON codes0.vec_id = assigned.vec_id),
       |qsub AS (SELECT vec_id AS query_id, u.m,
       |                v[(u.m * $PqSubDim + 1):((u.m + 1) * $PqSubDim)] AS qs
       |         FROM c, unnest([0, 1, 2, 3]) AS u(m)
       |         WHERE vec_id < $NumQueries),
       |cent AS (SELECT vec_id AS cent_id, u.m,
       |                v[(u.m * $PqSubDim + 1):((u.m + 1) * $PqSubDim)] AS cs
       |         FROM c, unnest([0, 1, 2, 3]) AS u(m)
       |         WHERE vec_id >= $NumQueries
       |           AND vec_id < ${NumQueries + NumCentroids}),
       |dt AS (SELECT qsub.query_id, probes.q_cell, qsub.m, cent.cent_id,
       |              ${dotDSql("qs", "qs")} - 2 * ${dotDSql("qs", "cs")}
       |                + ${dotDSql("cs", "cs")} AS pd
       |       FROM qsub JOIN probes ON qsub.query_id = probes.query_id
       |                 JOIN cent ON qsub.m = cent.m),
       |j AS (SELECT dt.query_id, codes.vec_id, codes.cell_id, codes.m, dt.pd
       |      FROM codes JOIN dt ON codes.m = dt.m AND codes.code = dt.cent_id
       |                        AND codes.cell_id = dt.q_cell
       |      WHERE dt.query_id <> codes.vec_id),
       |adc AS (SELECT query_id, vec_id, cell_id,
       |               max(CASE WHEN m = 0 THEN pd END) + max(CASE WHEN m = 1 THEN pd END)
       |                 + max(CASE WHEN m = 2 THEN pd END) + max(CASE WHEN m = 3 THEN pd END) AS adc
       |        FROM j GROUP BY query_id, vec_id, cell_id)""".stripMargin

  /** X13 oracle: [[ivfPqMultiBodySql]] + the plain top-K tail. */
  private def ivfPqMultiSql(nProbe: Int) =
    s"""${ivfPqMultiBodySql(nProbe)}
       |SELECT query_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY adc, vec_id) AS INT) AS rank,
       |       vec_id AS neighbor_id, cell_id AS cell, adc
       |FROM adc
       |QUALIFY rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** x27's twin: the multi-probe ADC body -> top-[[RerankR]] shortlist
    * -> exact cosine over the shortlist only (the `c` CTE already
    * carries v and nrm), top-[[K]]. */
  private lazy val ivfPqRerankSql: String =
    s"""${ivfPqMultiBodySql(ProbeCells)},
       |sl AS (SELECT query_id, vec_id, cell_id, adc FROM adc
       |       QUALIFY row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY adc, vec_id) <= $RerankR),
       |rr AS (SELECT sl.query_id, sl.vec_id AS neighbor_id,
       |              sl.cell_id AS cell, sl.adc,
       |              ${dotDSql("qe.v", "cn.v")} / (qe.nrm * cn.nrm) AS cos
       |       FROM sl JOIN c cn ON sl.vec_id = cn.vec_id
       |                JOIN c qe ON sl.query_id = qe.vec_id)
       |SELECT query_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
       |       neighbor_id, cell, cos, adc
       |FROM rr
       |QUALIFY rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** The trained-codebook fit as reusable CTE text (expects an `e` CTE
    * carrying the corpus projection): ends at `tc(m, cent_id, cs)`,
    * the per-subspace Lloyd's-step codebooks (assign to seed
    * sub-centroids → decimal-exact per-dim means, x7's float→double→
    * decimal convention), plus the `d`/`best` encode of the corpus
    * against them. Shared by the x12 and x14 oracles. */
  private def pqFitCtes =
    s"""sub AS (SELECT vec_id, u.m,
       |               v[(u.m * $PqSubDim + 1):((u.m + 1) * $PqSubDim)] AS s
       |        FROM e, unnest([0, 1, 2, 3]) AS u(m)),
       |seed AS (SELECT m, vec_id AS cent_id, s AS cs FROM sub
       |         WHERE vec_id >= $NumQueries
       |           AND vec_id < ${NumQueries + NumCentroids}),
       |a1 AS (SELECT vec_id, m, s, cent_id FROM (
       |         SELECT sub.vec_id, sub.m, sub.s, seed.cent_id,
       |                ${dotDSql("s", "s")} - 2 * ${dotDSql("s", "cs")}
       |                  + ${dotDSql("cs", "cs")} AS d2
       |         FROM sub JOIN seed USING (m))
       |       QUALIFY row_number() OVER (PARTITION BY vec_id, m
       |                                  ORDER BY d2, cent_id) = 1),
       |ex AS (SELECT m, cent_id, u.dim,
       |              CAST(CAST(s[u.dim] AS DOUBLE) AS DECIMAL(20,9)) AS x
       |       FROM a1, unnest(generate_series(1, len(s))) AS u(dim)),
       |mn AS (SELECT m, cent_id, dim,
       |              CAST(CAST(sum(x) AS DOUBLE) / count(*) AS FLOAT) AS cx
       |       FROM ex GROUP BY m, cent_id, dim),
       |tc AS (SELECT m, cent_id, list(cx ORDER BY dim) AS cs FROM mn
       |       GROUP BY m, cent_id),
       |d AS (SELECT sub.vec_id, sub.m, tc.cent_id,
       |             ${dotDSql("s", "s")} - 2 * ${dotDSql("s", "cs")}
       |               + ${dotDSql("cs", "cs")} AS d2
       |      FROM sub JOIN tc USING (m)),
       |best AS (SELECT vec_id, m, cent_id, d2,
       |                row_number() OVER (PARTITION BY vec_id, m
       |                  ORDER BY d2, cent_id) AS rn
       |         FROM d)""".stripMargin

  /** X12 oracle: the fit + encode pivot. */
  private def pqTrainSql =
    s"""WITH e AS ($corpusSql),
       |$pqFitCtes
       |SELECT vec_id,
       |       max(CASE WHEN m = 0 THEN cent_id END) AS code0,
       |       max(CASE WHEN m = 1 THEN cent_id END) AS code1,
       |       max(CASE WHEN m = 2 THEN cent_id END) AS code2,
       |       max(CASE WHEN m = 3 THEN cent_id END) AS code3,
       |       max(CASE WHEN m = 0 THEN d2 END) + max(CASE WHEN m = 1 THEN d2 END)
       |         + max(CASE WHEN m = 2 THEN d2 END) + max(CASE WHEN m = 3 THEN d2 END) AS qerr
       |FROM best WHERE rn = 1
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** X14 oracle: [[ivfPqMultiSql]]'s probe with both the corpus codes
    * and the query-side ADC tables quantized against the TRAINED
    * codebooks (`tc` from [[pqFitCtes]]). */
  private def ivfPqTrainedSql: String = ivfPqTrainedSqlWith(
    s"""coarse AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM c
       |           WHERE vec_id >= $NumQueries
       |             AND vec_id < ${NumQueries + NumCentroids})""".stripMargin)

  /** X18 oracle: the same trained probe with the COARSE quantizer also
    * refined — the x7/kmeansSql Lloyd's chain emitted as the `coarse`
    * CTE. */
  private def ivfPqTrainedFullSql: String = ivfPqTrainedSqlWith(
    s"""seedc AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM c
       |          WHERE vec_id >= $NumQueries
       |            AND vec_id < ${NumQueries + NumCentroids}),
       |ca1 AS (SELECT vec_id, v, cell_id FROM (
       |          SELECT c.vec_id, c.v, seedc.cell_id,
       |                 ${dotDSql("c.v", "seedc.cv")} / (c.nrm * seedc.cn) AS cent_cos
       |          FROM c CROSS JOIN seedc)
       |        QUALIFY row_number() OVER (PARTITION BY vec_id
       |                                   ORDER BY cent_cos DESC, cell_id) = 1),
       |cex AS (SELECT cell_id, u.dim,
       |               CAST(CAST(v[u.dim] AS DOUBLE) AS DECIMAL(20,9)) AS x
       |        FROM ca1, unnest(generate_series(1, len(v))) AS u(dim)),
       |cmn AS (SELECT cell_id, dim,
       |               CAST(CAST(sum(x) AS DOUBLE) / count(*) AS FLOAT) AS cx
       |        FROM cex GROUP BY cell_id, dim),
       |cnc AS (SELECT cell_id, list(cx ORDER BY dim) AS cv FROM cmn
       |        GROUP BY cell_id),
       |coarse AS (SELECT cell_id, cv, sqrt(${dotDSql("cv", "cv")}) AS cn
       |           FROM cnc)""".stripMargin)

  /** The shared x14/x18 trained-probe SQL over any `coarse` CTE chain. */
  private def ivfPqTrainedSqlWith(coarseCtes: String) =
    s"""WITH c AS ($corpusSql),
       |e AS (SELECT * FROM c),
       |$pqFitCtes,
       |$coarseCtes,
       |assigned AS (
       |  SELECT vec_id, cell_id
       |  FROM (SELECT c.vec_id, coarse.cell_id,
       |               ${dotDSql("c.v", "coarse.cv")} / (c.nrm * coarse.cn) AS cent_cos
       |        FROM c CROSS JOIN coarse)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cent_cos DESC, cell_id) = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cell_id AS q_cell
       |  FROM (SELECT c.vec_id, coarse.cell_id,
       |               ${dotDSql("c.v", "coarse.cv")} / (c.nrm * coarse.cn) AS cent_cos
       |        FROM c CROSS JOIN coarse WHERE c.vec_id < $NumQueries)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cent_cos DESC, cell_id) <= $ProbeCells),
       |codes AS (SELECT best.vec_id, best.m, best.cent_id AS code,
       |                 assigned.cell_id
       |          FROM best JOIN assigned ON best.vec_id = assigned.vec_id
       |          WHERE best.rn = 1),
       |qsub AS (SELECT vec_id AS query_id, u.m,
       |                v[(u.m * $PqSubDim + 1):((u.m + 1) * $PqSubDim)] AS qs
       |         FROM c, unnest([0, 1, 2, 3]) AS u(m)
       |         WHERE vec_id < $NumQueries),
       |dt AS (SELECT qsub.query_id, probes.q_cell, qsub.m, tc.cent_id,
       |              ${dotDSql("qs", "qs")} - 2 * ${dotDSql("qs", "cs")}
       |                + ${dotDSql("cs", "cs")} AS pd
       |       FROM qsub JOIN probes ON qsub.query_id = probes.query_id
       |                 JOIN tc ON qsub.m = tc.m),
       |j AS (SELECT dt.query_id, codes.vec_id, codes.cell_id, codes.m, dt.pd
       |      FROM codes JOIN dt ON codes.m = dt.m AND codes.code = dt.cent_id
       |                        AND codes.cell_id = dt.q_cell
       |      WHERE dt.query_id <> codes.vec_id),
       |adc AS (SELECT query_id, vec_id, cell_id,
       |               max(CASE WHEN m = 0 THEN pd END) + max(CASE WHEN m = 1 THEN pd END)
       |                 + max(CASE WHEN m = 2 THEN pd END) + max(CASE WHEN m = 3 THEN pd END) AS adc
       |        FROM j GROUP BY query_id, vec_id, cell_id)
       |SELECT query_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY adc, vec_id) AS INT) AS rank,
       |       vec_id AS neighbor_id, cell_id AS cell, adc
       |FROM adc
       |QUALIFY rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** X15 oracle: codes for every vector from [[pqSql]] (per-vector, so
    * restricting to either side of the `% 5` split matches encoding
    * that side alone), the standing index as the non-batch rows, and
    * the batch manifest re-derived: cell route, occupancy, nearest
    * existing neighbor by cell-restricted ADC. */
  private def ivfPqAppendSql =
    s"""WITH c AS ($corpusSql),
       |coarse AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM c
       |           WHERE vec_id >= $NumQueries
       |             AND vec_id < ${NumQueries + NumCentroids}),
       |assigned AS (
       |  SELECT vec_id, cell_id
       |  FROM (SELECT c.vec_id, coarse.cell_id,
       |               ${dotDSql("c.v", "coarse.cv")} / (c.nrm * coarse.cn) AS cent_cos
       |        FROM c CROSS JOIN coarse)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cent_cos DESC, cell_id) = 1),
       |codes0 AS (SELECT * FROM ($pqSql) pq),
       |exmelt AS (SELECT codes0.vec_id, u.m,
       |                  CASE u.m WHEN 0 THEN code0 WHEN 1 THEN code1
       |                           WHEN 2 THEN code2 ELSE code3 END AS code,
       |                  assigned.cell_id
       |           FROM codes0, unnest([0, 1, 2, 3]) AS u(m)
       |           JOIN assigned ON codes0.vec_id = assigned.vec_id
       |           WHERE codes0.vec_id % ${DedupOps.IncomingMod} <> 0),
       |occ AS (SELECT cell_id, CAST(count(*) AS BIGINT) AS n_cell_existing
       |        FROM assigned WHERE vec_id % ${DedupOps.IncomingMod} <> 0
       |        GROUP BY cell_id),
       |qsub AS (SELECT vec_id AS query_id, u.m,
       |                v[(u.m * $PqSubDim + 1):((u.m + 1) * $PqSubDim)] AS qs
       |         FROM c, unnest([0, 1, 2, 3]) AS u(m)
       |         WHERE vec_id % ${DedupOps.IncomingMod} = 0),
       |qcells AS (SELECT vec_id AS query_id, cell_id AS q_cell FROM assigned
       |           WHERE vec_id % ${DedupOps.IncomingMod} = 0),
       |cent AS (SELECT vec_id AS cent_id, u.m,
       |                v[(u.m * $PqSubDim + 1):((u.m + 1) * $PqSubDim)] AS cs
       |         FROM c, unnest([0, 1, 2, 3]) AS u(m)
       |         WHERE vec_id >= $NumQueries
       |           AND vec_id < ${NumQueries + NumCentroids}),
       |dt AS (SELECT qsub.query_id, qcells.q_cell, qsub.m, cent.cent_id,
       |              ${dotDSql("qs", "qs")} - 2 * ${dotDSql("qs", "cs")}
       |                + ${dotDSql("cs", "cs")} AS pd
       |       FROM qsub JOIN qcells ON qsub.query_id = qcells.query_id
       |                 JOIN cent ON qsub.m = cent.m),
       |adc AS (SELECT dt.query_id, exmelt.vec_id,
       |               max(CASE WHEN dt.m = 0 THEN pd END) + max(CASE WHEN dt.m = 1 THEN pd END)
       |                 + max(CASE WHEN dt.m = 2 THEN pd END) + max(CASE WHEN dt.m = 3 THEN pd END) AS adc
       |        FROM exmelt JOIN dt ON exmelt.m = dt.m AND exmelt.code = dt.cent_id
       |                           AND exmelt.cell_id = dt.q_cell
       |        GROUP BY dt.query_id, exmelt.vec_id),
       |nn AS (SELECT query_id, vec_id AS nn_id, adc AS nn_adc
       |       FROM adc
       |       QUALIFY row_number() OVER (PARTITION BY query_id
       |         ORDER BY adc, vec_id) = 1)
       |SELECT a.vec_id, a.cell_id AS cell,
       |       codes0.code0, codes0.code1, codes0.code2, codes0.code3,
       |       codes0.qerr,
       |       CAST(COALESCE(occ.n_cell_existing, 0) AS BIGINT) AS n_cell_existing,
       |       nn.nn_id, nn.nn_adc
       |FROM assigned a
       |JOIN codes0 ON a.vec_id = codes0.vec_id
       |LEFT JOIN occ ON a.cell_id = occ.cell_id
       |LEFT JOIN nn ON a.vec_id = nn.query_id
       |WHERE a.vec_id % ${DedupOps.IncomingMod} = 0
       |ORDER BY a.vec_id""".stripMargin

  /** X16 oracle: the x7/kmeansSql refinement chain restricted per
    * oversized cell with k=2 and seeds = the cell's two lowest
    * vec_ids. */
  private def cellSplitSql =
    s"""WITH c AS ($corpusSql),
       |coarse AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM c
       |           WHERE vec_id >= $NumQueries
       |             AND vec_id < ${NumQueries + NumCentroids}),
       |assigned AS (
       |  SELECT vec_id, v, nrm, cell_id
       |  FROM (SELECT c.vec_id, c.v, c.nrm, coarse.cell_id,
       |               ${dotDSql("c.v", "coarse.cv")} / (c.nrm * coarse.cn) AS cent_cos
       |        FROM c CROSS JOIN coarse)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cent_cos DESC, cell_id) = 1),
       |occ AS (SELECT cell_id, count(*) AS n_cell FROM assigned GROUP BY cell_id),
       |tot AS (SELECT count(*) AS n_total FROM assigned),
       |oversized AS (SELECT cell_id FROM occ, tot
       |              WHERE n_cell > n_total / ${NumCentroids.toDouble}),
       |mem AS (SELECT a.* FROM assigned a JOIN oversized USING (cell_id)),
       |seeds AS (SELECT cell_id,
       |                 CAST(row_number() OVER (PARTITION BY cell_id
       |                   ORDER BY vec_id) - 1 AS INT) AS child,
       |                 v AS sv, nrm AS sn
       |          FROM mem
       |          QUALIFY row_number() OVER (PARTITION BY cell_id
       |            ORDER BY vec_id) <= 2),
       |a1 AS (SELECT cell_id, vec_id, v, nrm, child AS c1 FROM (
       |         SELECT m.cell_id, m.vec_id, m.v, m.nrm, s.child,
       |                ${dotDSql("m.v", "s.sv")} / (m.nrm * s.sn) AS scos
       |         FROM mem m JOIN seeds s USING (cell_id))
       |       QUALIFY row_number() OVER (PARTITION BY cell_id, vec_id
       |                                  ORDER BY scos DESC, child) = 1),
       |ex AS (SELECT cell_id, c1, u.dim,
       |              CAST(CAST(v[u.dim] AS DOUBLE) AS DECIMAL(20,9)) AS x
       |       FROM a1, unnest(generate_series(1, len(v))) AS u(dim)),
       |mn AS (SELECT cell_id, c1, dim,
       |              CAST(CAST(sum(x) AS DOUBLE) / count(*) AS FLOAT) AS cx
       |       FROM ex GROUP BY cell_id, c1, dim),
       |nc AS (SELECT cell_id, c1 AS child, list(cx ORDER BY dim) AS cv
       |       FROM mn GROUP BY cell_id, c1),
       |nc2 AS (SELECT cell_id, child, cv, sqrt(${dotDSql("cv", "cv")}) AS cn
       |        FROM nc),
       |a2 AS (SELECT cell_id, vec_id, c1, child AS c2, rcos AS cos2 FROM (
       |         SELECT a1.cell_id, a1.vec_id, a1.c1, n.child,
       |                ${dotDSql("a1.v", "n.cv")} / (a1.nrm * n.cn) AS rcos
       |         FROM a1 JOIN nc2 n ON a1.cell_id = n.cell_id)
       |       QUALIFY row_number() OVER (PARTITION BY cell_id, vec_id
       |                                  ORDER BY rcos DESC, child) = 1)
       |SELECT cell_id AS cell, vec_id, c1, c2,
       |       CASE WHEN c1 <> c2 THEN 1 ELSE 0 END AS moved, cos2
       |FROM a2 ORDER BY cell, vec_id""".stripMargin

  /** x24: x3's cell-assignment CTE + the shared SQ8 code CTEs + the
    * in-cell integer SDC — every piece restated from the sibling
    * oracles so none of the three trees can drift independently. */
  /** x33's twin: x24's serve restated with the LIFECYCLE's frozen
    * artifacts — the quantizer grid learns from the STANDING corpus
    * only (a grid re-learned over the survivors would shift every
    * code — the exact drift the frozen artifact exists to prevent),
    * codes and candidates from the SURVIVORS, the codebook from the
    * centroid seed rows verbatim. */
  private lazy val sq8LifecycleSql: String = {
    val standingPred =
      s"NOT (vec_id % ${DedupOps.IncomingMod} = 0 AND vec_id >= ${NumQueries + NumCentroids})"
    val survivorPred = s"vec_id % $DeleteMod <> $DeleteRem"
    s"""WITH xs AS (SELECT vec_id, CAST(u.d AS INT) - 1 AS d,
       |             CAST(embedding[u.d] AS DOUBLE) AS x
       |      FROM embeddings,
       |           unnest(generate_series(1, len(embedding))) AS u(d)
       |      WHERE $standingPred),
       |st AS (SELECT d, min(x) AS mn, max(x) AS mx FROM xs GROUP BY d),
       |xv AS (SELECT vec_id, CAST(u.d AS INT) - 1 AS d,
       |             CAST(embedding[u.d] AS DOUBLE) AS x
       |      FROM embeddings,
       |           unnest(generate_series(1, len(embedding))) AS u(d)
       |      WHERE $survivorPred),
       |c AS (SELECT vec_id, xv.d,
       |             CASE WHEN st.mx > st.mn
       |                  THEN CAST(least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
       |                         CAST(floor((xv.x - st.mn) * CAST(255 AS DOUBLE)
       |                                    / (st.mx - st.mn)) AS BIGINT))) AS INT)
       |                  ELSE 0 END AS code
       |      FROM xv JOIN st USING (d)),
       |e AS (SELECT vec_id, embedding AS v,
       |             sqrt(${dotDSql("embedding", "embedding")}) AS nrm
       |      FROM embeddings WHERE $survivorPred),
       |cents AS (SELECT vec_id AS cent_id, embedding AS cv,
       |                 sqrt(${dotDSql("embedding", "embedding")}) AS cn
       |          FROM embeddings
       |          WHERE vec_id >= $NumQueries AND vec_id < ${NumQueries + NumCentroids}),
       |assigned AS (
       |  SELECT vec_id, cent_id
       |  FROM (SELECT e.vec_id, cents.cent_id,
       |               ${dotDSql("e.v", "cents.cv")} / (e.nrm * cents.cn) AS cent_cos
       |        FROM e CROSS JOIN cents)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cent_cos DESC, cent_id) = 1),
       |q AS (SELECT vec_id AS query_id, cent_id AS qc
       |      FROM assigned WHERE vec_id < $NumQueries),
       |cand AS (SELECT q.query_id, a.vec_id, a.cent_id AS cell
       |         FROM assigned a JOIN q ON a.cent_id = q.qc
       |         WHERE a.vec_id <> q.query_id),
       |p AS (SELECT cand.query_id, cand.vec_id, cand.cell,
       |             CAST(sum(CAST((qc.code - cc.code) * (qc.code - cc.code) AS BIGINT)) AS BIGINT) AS code_d2
       |      FROM cand
       |      JOIN c qc ON qc.vec_id = cand.query_id
       |      JOIN c cc ON cc.vec_id = cand.vec_id AND cc.d = qc.d
       |      GROUP BY 1, 2, 3)
       |SELECT query_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY code_d2, vec_id) AS INT) AS rank,
       |       vec_id AS neighbor_id, cell, code_d2
       |FROM p
       |QUALIFY rank <= $K
       |ORDER BY query_id, rank""".stripMargin
  }

  private def sq8IvfSql: String =
    s"""WITH $sq8CtesSql,
       |e AS ($corpusSql),
       |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM e
       |          WHERE vec_id >= $NumQueries AND vec_id < ${NumQueries + NumCentroids}),
       |assigned AS (
       |  SELECT vec_id, cent_id
       |  FROM (SELECT e.vec_id, cents.cent_id,
       |               ${dotDSql("e.v", "cents.cv")} / (e.nrm * cents.cn) AS cent_cos
       |        FROM e CROSS JOIN cents)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cent_cos DESC, cent_id) = 1),
       |q AS (SELECT vec_id AS query_id, cent_id AS qc
       |      FROM assigned WHERE vec_id < $NumQueries),
       |cand AS (SELECT q.query_id, a.vec_id, a.cent_id AS cell
       |         FROM assigned a JOIN q ON a.cent_id = q.qc
       |         WHERE a.vec_id <> q.query_id),
       |p AS (SELECT cand.query_id, cand.vec_id, cand.cell,
       |             CAST(sum(CAST((qc.code - cc.code) * (qc.code - cc.code) AS BIGINT)) AS BIGINT) AS code_d2
       |      FROM cand
       |      JOIN c qc ON qc.vec_id = cand.query_id
       |      JOIN c cc ON cc.vec_id = cand.vec_id AND cc.d = qc.d
       |      GROUP BY 1, 2, 3)
       |SELECT query_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY code_d2, vec_id) AS INT) AS rank,
       |       vec_id AS neighbor_id, cell, code_d2
       |FROM p
       |QUALIFY rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** x30's twin: x24's cell-restricted SDC CTEs → top-[[RerankR]]
    * shortlist → x25's exact-cosine refine tail — every stage restated
    * from the sibling oracles so none of the trees can drift. */
  private lazy val sq8IvfRerankSql: String =
    s"""WITH $sq8CtesSql,
       |e AS ($corpusSql),
       |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM e
       |          WHERE vec_id >= $NumQueries AND vec_id < ${NumQueries + NumCentroids}),
       |assigned AS (
       |  SELECT vec_id, cent_id
       |  FROM (SELECT e.vec_id, cents.cent_id,
       |               ${dotDSql("e.v", "cents.cv")} / (e.nrm * cents.cn) AS cent_cos
       |        FROM e CROSS JOIN cents)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cent_cos DESC, cent_id) = 1),
       |q AS (SELECT vec_id AS query_id, cent_id AS qc
       |      FROM assigned WHERE vec_id < $NumQueries),
       |cand AS (SELECT q.query_id, a.vec_id, a.cent_id AS cell
       |         FROM assigned a JOIN q ON a.cent_id = q.qc
       |         WHERE a.vec_id <> q.query_id),
       |p AS (SELECT cand.query_id, cand.vec_id, cand.cell,
       |             CAST(sum(CAST((qc.code - cc.code) * (qc.code - cc.code) AS BIGINT)) AS BIGINT) AS code_d2
       |      FROM cand
       |      JOIN c qc ON qc.vec_id = cand.query_id
       |      JOIN c cc ON cc.vec_id = cand.vec_id AND cc.d = qc.d
       |      GROUP BY 1, 2, 3),
       |sl AS (SELECT query_id, vec_id, cell, code_d2 FROM p
       |       QUALIFY row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY code_d2, vec_id) <= $RerankR),
       |r AS (SELECT sl.query_id, sl.vec_id AS neighbor_id, sl.cell, sl.code_d2,
       |             ${dotDSql("qe.v", "e2.v")} / (qe.nrm * e2.nrm) AS cos
       |      FROM sl JOIN e e2 ON sl.vec_id = e2.vec_id
       |              JOIN e qe ON sl.query_id = qe.vec_id)
       |SELECT query_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
       |       neighbor_id, cell, cos, code_d2
       |FROM r
       |QUALIFY rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  val oracles: Map[String, String] =
    oraclesBase + ("x5_ann_recall" -> recallSql) +
      ("x30_sq8_ivf_rerank" -> sq8IvfRerankSql) +
      // x23 serves x22's exact result from the packed at-rest codes —
      // the oracle is x22's SQL verbatim (the x11 convention: the
      // pack/write/read is Spark plumbing the oracle has no analog for)
      ("x23_sq8_packed" -> oraclesBase("x22_sq8_sdc")) +
      ("x24_sq8_ivf" -> sq8IvfSql) +
      // x33: build∘append∘forget∘serve with the quantizer grid and
      // codebook FROZEN at build — the oracle learns the grid from the
      // standing corpus only and serves the survivors (x20's
      // convergence discipline with the x24 serve and an explicitly
      // NON-relearned quantizer)
      ("x33_sq8_lifecycle" -> sq8LifecycleSql) +
      ("x25_sq8_rerank" -> sq8RerankSql) +
      ("x26_sign_hamming" -> signHammingSql) +
      // x31 serves x26's exact result from the written signature
      // table — oracle verbatim (the x23 convention)
      ("x31_sign_atrest" -> signHammingSql) +
      // x32: build∘append∘forget∘serve == x26 over the survivors —
      // the x20 convergence invariant on the binary tier (query id 3
      // is in the delete cohort, so its rows vanish on both sides)
      ("x32_sign_maintained" -> signHammingSqlOver(
        s" WHERE vec_id % $DeleteMod <> $DeleteRem")) +
      ("x27_ivfpq_rerank" -> ivfPqRerankSql) +
      ("x28_pq_balanced" -> pqBalancedSql) +
      ("x29_quant_recall" -> quantRecallSql) +
      ("x16_cell_split" -> cellSplitSql) +
      // x17 serves x10's result over the corpus MINUS the deleted
      // vectors — the tombstone/rewrite mechanics are Spark plumbing
      // the oracle has no analog for, exactly like x11's build
      ("x17_index_compact" ->
        ivfPqSqlPred(s"codes0.vec_id % $DeleteMod <> $DeleteRem")) +
      // x19 proves build∘append == build-over-union: its oracle is a
      // fresh x10 over the full corpus, verbatim (like x11)
      ("x19_ivfpq_applied" -> ivfPqSql) +
      // x20 proves the full cycle converges: append∘delete∘compact ==
      // fresh build minus deletes — x17's oracle, verbatim
      ("x20_ivfpq_lifecycle" ->
        ivfPqSqlPred(s"codes0.vec_id % $DeleteMod <> $DeleteRem")) +
      ("x8_pq_encode" -> pqSql) +
      ("x9_pq_adc" -> pqAdcSql) +
      ("x10_ivfpq" -> ivfPqSql) +
      // x11 serves x10's exact result from the persisted index — the
      // oracle is x10's SQL verbatim (the index write/read is Spark
      // plumbing the oracle has no analog for)
      ("x11_ivfpq_serve" -> ivfPqSql) +
      ("x12_pq_train" -> pqTrainSql) +
      ("x13_ivfpq_multiprobe" -> ivfPqMultiSql(ProbeCells)) +
      ("x14_ivfpq_trained" -> ivfPqTrainedSql) +
      ("x18_ivfpq_trained_full" -> ivfPqTrainedFullSql) +
      ("x15_ivfpq_append" -> ivfPqAppendSql) +
      ("x7_kmeans" -> kmeansSql) +
      ("x6_topk_agg" ->
        s"""WITH e AS ($corpusSql)
           |SELECT bucket,
           |       CAST(to_json((list(vec_id ORDER BY nrm DESC, vec_id ASC))[1:$K])
           |         AS VARCHAR) AS top_ids,
           |       count(*) AS n_vecs
           |FROM e GROUP BY bucket ORDER BY bucket""".stripMargin)
}
