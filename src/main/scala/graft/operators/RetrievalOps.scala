package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** IR / retrieval tier over the `documents` + `embeddings` tables —
  * sparse (BM25) ranking, an inverted-index serving path, and hybrid
  * sparse+dense rank fusion (builder brief; no reference analog — the
  * closest reference shape is its keyed capability lookup,
  * `/root/reference/src/main/java/com/thaihoc/process/response/InvoiceResponseTransformer.java`,
  * which joins a request to per-key metadata the way a query term joins
  * its postings list).
  *
  * Why these four: a training-data pipeline at 100 TB needs
  * relevance-ranked retrieval for data curation (targeted subset mining,
  * contamination forensics, "find documents about X" audits) and RAG
  * evaluation; hybrid BM25+vector with reciprocal-rank fusion is the
  * published standard (Cormack et al. 2009 for RRF; Robertson/Zaragoza
  * 2009 for BM25).
  *
  * Determinism contract: the score is RATIONAL-ARITHMETIC BM25 — the
  * classic tf saturation term (k1 = 1.2, b = 0.75) times the
  * odds-ratio idf `(N − df + 0.5)/(df + 0.5)` WITHOUT the log. Every
  * factor is integer math until a division, so the whole score tree is
  * IEEE +,×,/ over exact operands, replicated node-for-node in the
  * oracle SQL — bit-identical doubles with no libm call (the tx12
  * precedent: JVM and C libm differ in ulps, so `log` never appears in
  * compared output; the log is monotone in the odds ratio, and the raw
  * (tf, df, dl) columns ship alongside the score so a consumer can
  * apply any idf transform downstream). Constants fold to integer
  * ratios: tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) ≡
  * 22·tf / (10·tf + 3 + 9·dl/avgdl), and the ±0.5 idf terms clear to
  * `(2(N−df)+1)/(2df+1)`.
  *
  * Scale design (100 TB):
  *   - ir2 (scan-and-score) is ONE corpus pass: per-doc tf/dl are a
  *     fused projection, the corpus stats a one-row aggregate broadcast
  *     back, and the top-k is `TakeOrderedAndProject` (per-partition
  *     heap, driver merges K·P candidate rows) — no full-width shuffle
  *     anywhere. Non-matching docs are pruned by an integer filter
  *     before the heap.
  *   - ir4 (inverted-index serve) is the production path: postings
  *     `(term, doc_id, tf, dl)` are built once (explode → filter →
  *     groupBy; the term filter sits BELOW the aggregation shuffle, so
  *     only probed terms' postings ever leave the scan) and at rest
  *     would be WRITTEN partitioned by term bucket — a probe is then a
  *     partition-pruned read of exactly the query's postings lists,
  *     the x11 DPP discipline applied to sparse retrieval. ir4's
  *     output is bit-identical to ir2's (RetrievalOpsSpec pins it),
  *     so the index path can replace the scan path query-by-query.
  *   - ir3 (hybrid) fuses two already-bounded top-K lists — a join of
  *     ≤K-row frames, independent of corpus size.
  *   - the streaming twin (StreamingRetrievalSpec) serves micro-batches
  *     of queries against the frozen postings via per-ordinal broadcast
  *     joins — corpus untouched per batch, the index-serving shape of
  *     StreamingIndexSpec applied to text.
  */
object RetrievalOps {

  /** The fixed probe query, in score fold order. `dup` is the corpus's
    * one rare token (df ≈ 5% of docs — high idf); the others sit in the
    * uniform head (df ≈ 77–80%), so the idf spread exercises both ends. */
  val QueryTerms: Seq[String] = Seq("dup", "merge", "spark")

  val TopK = 20

  /** RRF smoothing constant — the k=60 of Cormack et al. 2009. */
  val RrfK = 60

  /** ir3's query document: its embedding is the dense query, [[QueryTerms]]
    * the sparse one (embeddings are 1:1 with documents — vec_id == doc_id). */
  val HybridQueryDoc = 0L

  private def toks: Column = tokens(col("text"))

  /** Per-doc term frequency of one literal term — a codegen'd
    * size∘filter over the token array, no explode and no shuffle. */
  private def tfCol(t: String): Column =
    size(filter(toks, x => x === lit(t)))

  /** One fused projection: doc_id, document length, tf per query term. */
  private[graft] def perDoc(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: size(toks).as("dl") +:
      QueryTerms.map(t => tfCol(t).as(s"tf_$t")): _*)

  /** The one-row corpus statistics aggregate: N, total tokens, per-term
    * df and cf, and avgdl (the single double division). Broadcast
    * wherever consumed — at 100 TB these are index metadata maintained
    * incrementally, not recomputed per query (the in-query build here
    * is the same build-vs-serve accounting as x11). */
  private[graft] def statsRow(pd: DataFrame): DataFrame = {
    val aggs =
      count(lit(1)).as("n_docs") +:
        sum(col("dl").cast("long")).as("total_tokens") +:
        QueryTerms.flatMap(t => Seq(
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"),
          sum(col(s"tf_$t").cast("long")).as(s"cf_$t")))
    pd.agg(aggs.head, aggs.tail: _*)
      .withColumn("avgdl", col("total_tokens").cast("double") / col("n_docs"))
  }

  /** Odds-ratio idf `(2(N−df)+1)/(2df+1)` — integer operands, one division. */
  private def idfCol(dfc: Column, n: Column): Column =
    ((n - dfc) * 2 + 1).cast("double") / (dfc * 2 + 1)

  /** Saturated tf term `22·tf / (10·tf + 3 + 9·dl/avgdl)` (k1=1.2, b=0.75
    * cleared to integers; `dlOverAvg` is the shared dl/avgdl double). */
  private def tfPart(tf: Column, dlOverAvg: Column): Column =
    (tf * 22).cast("double") /
      ((tf * 10 + 3).cast("double") + lit(9).cast("double") * dlOverAvg)

  /** The full score, summed in [[QueryTerms]] written order (left-assoc,
    * mirrored in the oracle — double addition is not associative). */
  private def scoreCol: Column =
    QueryTerms.map(t =>
      idfCol(col(s"df_$t"), col("n_docs")) *
        tfPart(col(s"tf_$t"), col("dl").cast("double") / col("avgdl")))
      .reduce(_ + _)

  private def anyMatch: Column =
    QueryTerms.map(t => col(s"tf_$t")).reduce(_ + _) > 0

  /** Scored candidates (doc_id, dl, tf_*, score) — the scan-and-score
    * path shared by ir2/ir3. Sort-free for composition. */
  private[graft] def bm25ScoredCore(docs: DataFrame): DataFrame = {
    val pd = perDoc(docs)
    pd.crossJoin(broadcast(statsRow(pd)))
      .filter(anyMatch)
      .withColumn("score", scoreCol)
  }

  private def outCols: Seq[Column] =
    Seq(col("rank"), col("doc_id"), col("score"), col("dl")) ++
      QueryTerms.map(t => col(s"tf_$t"))

  /** Top-[[TopK]] + rank over an already-scored frame: orderBy+limit is
    * `TakeOrderedAndProject` (scale-safe); the rank window then runs
    * over ≤K rows, not the corpus. */
  private[graft] def rankedTopK(scored: DataFrame): DataFrame =
    scored
      .orderBy(col("score").desc, col("doc_id")).limit(TopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(outCols: _*)
      .transform(Common.presented(_, col("rank")))

  /** IR1 — postings statistics: per query term df/cf plus the corpus
    * constants (N, total tokens, avgdl) and the rational idf — the
    * dictionary row an inverted index stores per term. One corpus scan,
    * one one-row aggregate; the per-term rows are an explode of a
    * 3-element literal-keyed array. */
  def termStats(s: SparkSession, dir: String): DataFrame = {
    val st = statsRow(perDoc(Tables.documents(s, dir)))
    st.select(
        explode(array(QueryTerms.map(t => struct(
          lit(t).as("term"),
          col(s"df_$t").as("df"),
          col(s"cf_$t").as("cf"))): _*)).as("ts"),
        col("n_docs"), col("total_tokens"), col("avgdl"))
      .select(col("ts.term").as("term"), col("ts.df").as("df"),
        col("ts.cf").as("cf"), col("n_docs"), col("total_tokens"),
        col("avgdl"), idfCol(col("ts.df"), col("n_docs")).as("idf"))
      .transform(Common.presented(_, col("term")))
  }

  /** IR2 — BM25 top-k, scan-and-score: one corpus pass, stats broadcast,
    * integer any-match prune, per-partition heap top-k. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame =
    rankedTopK(bm25ScoredCore(Tables.documents(s, dir)))

  /** The term-bucketed postings lists for the probed terms —
    * `(tok, doc_id, tf, dl)`, dl denormalized in so serving needs no
    * doc-metadata join. The `isin` filter sits below the groupBy
    * shuffle; at rest this frame is written `partitionBy(term_bucket)`
    * and a probe partition-prunes to the query's terms —
    * [[writePostingsIndex]]/[[indexServe]] (ir15) materialize exactly
    * that layout and serve from the files. */
  private[graft] def postings(docs: DataFrame): DataFrame =
    // one authoritative postings tree: the probe filter sits on the
    // grouping column, so Catalyst pushes it below the aggregation
    // shuffle (the ir4 plan contract pins that placement)
    allPostings(docs).filter(col("tok").isin(QueryTerms: _*))

  /** IR4 — the inverted-index serving path: pivot the probed postings
    * back to one row per candidate doc (tf defaults 0 for terms the doc
    * lacks), attach the broadcast stats row, score with the SAME
    * expression tree as ir2 — output bit-identical to ir2
    * (RetrievalOpsSpec pins equality), so the index path can replace
    * the scan path without a result change. */
  /** Probed postings rows (tok, doc_id, tf, dl) pivoted back to one
    * candidate row per doc — shared by the in-query probe (ir4) and
    * the at-rest index serves (ir15/ir16), so the candidate shape
    * cannot drift between the build path and the serve path. */
  private[graft] def pivotProbed(p: DataFrame): DataFrame =
    p.groupBy(col("doc_id"))
      .agg(max(col("dl")).as("dl"),
        QueryTerms.map(t =>
          coalesce(max(when(col("tok") === t, col("tf"))), lit(0))
            .cast("int").as(s"tf_$t")): _*)

  /** The probed postings pivoted back to one candidate row per doc. */
  private def matchedPivot(docs: DataFrame): DataFrame =
    pivotProbed(postings(docs))

  def invertedServe(s: SparkSession, dir: String): DataFrame =
    rankedTopK(
      matchedPivot(Tables.documents(s, dir))
        .crossJoin(broadcast(statsRow(perDoc(Tables.documents(s, dir)))))
        .withColumn("score", scoreCol))

  /** IR11 — MaxScore-PRUNED BM25 top-k (the Turtle & Flood upper-bound
    * pruning behind WAND-family serving): per query term, the maximum
    * per-term contribution U_t over the corpus is one tiny aggregate;
    * a threshold θ = the K-th best FULL score among docs matching the
    * highest-impact term; every candidate whose upper bound
    * `Σ_t (tf_t>0 ? U_t : 0)` falls strictly below θ is pruned BEFORE
    * the final ranking. Soundness is exact even in floating point:
    * score and bound fold per-term in the same written order with
    * elementwise domination (`c_t ≤ U_t`, and `c_t = 0` when
    * `tf_t = 0`), double addition is monotone under rounding, θ never
    * exceeds the global K-th best (its subset is a subset), and the
    * prune is strict — so every true top-K doc (ties included)
    * survives and the output is BIT-IDENTICAL to ir2's exhaustive
    * scoring. The oracle IS ir2's SQL verbatim (the ir7 convention:
    * the oracle states the invariant, the program takes the pruned
    * path).
    *
    * 100 TB plan: U_t lives in the dictionary next to df/cf (ir1's
    * metadata row, maintained incrementally by ir7's merge — max is
    * associative); θ comes from ONE term's postings; only surviving
    * candidates reach the ranking heap — the classic order-of-
    * magnitude postings-traffic cut for selective queries. Fewer than
    * K matches on the seed term degrades θ to −∞ (no pruning), never
    * to a wrong answer. */
  def maxscoreTopK(s: SparkSession, dir: String): DataFrame =
    rankedTopK(maxscoreSurvivors(Tables.documents(s, dir)))

  /** Per-candidate per-term contributions + score — the shared front of
    * the upper-bound-pruned rankers (ir11/ir12): one corpus pass,
    * stats broadcast, integer any-match prune, then `c_t` per term and
    * their written-order sum. Callers persist (multiple consumers). */
  private def scoredContrib(docs: DataFrame): DataFrame = {
    val pd = perDoc(docs)
    var cand = pd.crossJoin(broadcast(statsRow(pd))).filter(anyMatch)
    QueryTerms.foreach { t =>
      cand = cand.withColumn(s"c_$t",
        idfCol(col(s"df_$t"), col("n_docs")) *
          tfPart(col(s"tf_$t"), col("dl").cast("double") / col("avgdl")))
    }
    cand.withColumn("score",
      QueryTerms.map(t => col(s"c_$t")).reduce(_ + _))
  }

  /** tf of the highest-impact term (ties to the earlier term in
    * QueryTerms order) — the seed postings list θ is computed from.
    * Reads the `u_*` corpus-global maxima columns. */
  private def seedTfCol: Column =
    QueryTerms.init.zipWithIndex
      .foldRight(col(s"tf_${QueryTerms.last}")) { case ((t, i), els) =>
        val ge = QueryTerms.drop(i + 1)
          .map(o => col(s"u_$t") >= col(s"u_$o")).reduce(_ && _)
        when(ge, col(s"tf_$t")).otherwise(els)
      }

  /** One-row θ frame from a candidate frame carrying `u_*`: the K-th
    * best FULL score among docs matching the seed term; −∞ (no
    * pruning, never a wrong answer) when the seed matches < K docs. */
  private def thetaFrom(withU: DataFrame): DataFrame =
    withU.filter(seedTfCol > 0)
      .orderBy(col("score").desc).limit(TopK)
      .agg(count(lit(1)).as("n"), min(col("score")).as("kth"))
      .select(when(col("n") >= TopK, col("kth"))
        .otherwise(lit(Double.NegativeInfinity)).as("theta"))

  private def survivorCols: Seq[Column] =
    Seq(col("doc_id"), col("dl"), col("score")) ++
      QueryTerms.map(t => col(s"tf_$t"))

  /** The pruned candidate frame (doc_id, dl, tf_*, score) —
    * RetrievalOpsSpec measures its size against the full candidate set
    * to pin that the prune actually bites. */
  private[graft] def maxscoreSurvivors(docs: DataFrame): DataFrame = {
    val cand = scoredContrib(docs)
    CacheScope.persist(cand) // three consumers: U aggregate, θ subset, survivors
    val uAggs = QueryTerms.map(t => max(col(s"c_$t")).as(s"u_$t"))
    val u = cand.agg(uAggs.head, uAggs.tail: _*)
    val withU = cand.crossJoin(broadcast(u))
    val ub = QueryTerms
      .map(t => when(col(s"tf_$t") > 0, col(s"u_$t")).otherwise(lit(0.0d)))
      .reduce(_ + _)
    withU.crossJoin(broadcast(thetaFrom(withU)))
      .filter(ub >= col("theta"))
      .select(survivorCols: _*)
  }

  /** ir12's postings-block geometry: doc-id-range blocks of
    * [[BlockSize]] documents — the postings-bucket chunk a term's
    * at-rest list is physically split into (ir7's bucketed layout).
    * `div` keeps the block id exact integer arithmetic at any id
    * magnitude (a double-floor would lose exactness past 2^53). */
  val BlockSize = 64L

  /** IR12 — BLOCK-MAX WAND pruning (Ding & Suel 2011, the published
    * step after ir11's corpus-global MaxScore): per (term, postings
    * block) the maximum contribution U_{t,b} is index metadata — ONE
    * tiny aggregate here, maintained beside each postings bucket at
    * rest — and a candidate's upper bound uses ITS OWN block's maxima,
    * `Σ_t (tf_t>0 ? U_{t,b(d)} : 0)`, which is elementwise ≤ ir11's
    * global bound. θ is ir11's (the K-th best full score on the seed
    * term's postings). Soundness is the same monotone-domination
    * argument: c_t(d) ≤ U_{t,b(d)} per term, double addition is
    * monotone under rounding, θ never exceeds the global K-th best,
    * the prune is strict — output BIT-IDENTICAL to ir2's exhaustive
    * scoring (the oracle IS ir2's SQL verbatim), while the survivor
    * set is a SUBSET of ir11's (RetrievalOpsSpec measures the strict
    * improvement on the harness corpus).
    *
    * 100 TB plan: U_{t,b} lives beside each postings bucket (block
    * metadata, merged monotonically by ir7's append — max is
    * associative); a serve reads the query terms' block-max rows
    * (O(blocks) per term, ≪ postings), evaluates the bound per block
    * BEFORE touching the block's postings, and skips whole blocks
    * below θ — the published order-of-magnitude postings-IO cut on
    * selective queries. Relationally the bound is a per-candidate
    * filter through a broadcast of the block-max table; at rest it is
    * a block-granular skip of the postings scan itself. */
  def blockmaxTopK(s: SparkSession, dir: String): DataFrame =
    rankedTopK(blockmaxSurvivors(Tables.documents(s, dir)))

  private[graft] def blockmaxSurvivors(docs: DataFrame): DataFrame = {
    val cand = scoredContrib(docs)
      .withColumn("blk", expr(s"doc_id div $BlockSize"))
    CacheScope.persist(cand) // four consumers: U, block-max, θ subset, survivors
    // corpus-global maxima — ONLY for the seed-term pick and θ (ir11's
    // rule verbatim, so the two pruners share one θ and stay comparable)
    val uAggs = QueryTerms.map(t => max(col(s"c_$t")).as(s"u_$t"))
    val u = cand.agg(uAggs.head, uAggs.tail: _*)
    // the block-max table: |blocks| rows, the at-rest bucket metadata
    val buAggs = QueryTerms.map(t => max(col(s"c_$t")).as(s"bu_$t"))
    val bu = cand.groupBy(col("blk")).agg(buAggs.head, buAggs.tail: _*)
    val withU = cand.crossJoin(broadcast(u))
    val blockUb = QueryTerms
      .map(t => when(col(s"tf_$t") > 0, col(s"bu_$t")).otherwise(lit(0.0d)))
      .reduce(_ + _)
    withU.join(broadcast(bu), Seq("blk"))
      .crossJoin(broadcast(thetaFrom(withU)))
      .filter(blockUb >= col("theta"))
      .select(survivorCols: _*)
  }

  /** ir13's champion-list size: per term, the at-rest index keeps the
    * top-[[ChampM]] postings by tf. Sized so the candidate union stays
    * well below the any-match set at every harness SF while keeping
    * high overlap with the exhaustive top-[[TopK]] (RetrievalOpsSpec
    * measures both); production tunes it per tier (Manning et al.
    * suggest M of a few dozen to a few hundred). */
  val ChampM = 32

  /** IR13 — CHAMPION-LIST serving (Manning, Raghavan & Schütze, IIR
    * §7.1.3 "champion lists"/"top docs"): per term the index
    * precomputes the [[ChampM]] highest-tf postings (integer-exact
    * selection, doc-id tie-break), and a query is served from the
    * UNION of its terms' champion lists only — the classic
    * inexact-but-cheap tier BELOW the lossless pruners (ir11's
    * MaxScore and ir12's block-max skip postings but still guarantee
    * the exhaustive answer; champions give up the guarantee for a
    * hard per-term IO bound). Because the result may differ from the
    * exhaustive top-[[TopK]], the output carries the audit column:
    * `exact_rank` = the document's rank in ir2's exhaustive ranking
    * (0 when outside it) — the per-release recall evidence that
    * decides whether M is safe to serve (x5's recall discipline
    * applied to sparse retrieval).
    *
    * 100 TB plan: champion lists are index metadata — the tf-ordered
    * PREFIX of each term's at-rest postings bucket, maintained by
    * ir7's merge (a tf-ordered top-M is re-derivable per bucket on
    * append; max/top-M are associative) — so a serve reads
    * ≤ M·|terms| postings rows regardless of df: the hard IO bound
    * MaxScore cannot promise on high-df terms. The candidate set
    * (≤ M·|terms| ids) BROADCASTS into the scoring join; the
    * exhaustive arm here exists only because the audit column needs
    * it — a production serve emits the champion arm alone. */
  def championTopK(s: SparkSession, dir: String): DataFrame =
    championCore(Tables.documents(s, dir), ChampM)
      .transform(Common.presented(_, col("rank")))

  private[graft] def championCore(docs: DataFrame, m: Int): DataFrame = {
    val scored = bm25ScoredCore(docs)
    CacheScope.persist(scored) // two consumers: exhaustive ranks + champion scoring
    val exW = Window.orderBy(col("score").desc, col("doc_id"))
    val ex = scored.orderBy(col("score").desc, col("doc_id")).limit(TopK)
      .withColumn("exact_rank", row_number().over(exW))
      .select(col("doc_id"), col("exact_rank"))
    // champion selection: per term, top-m postings by (tf, doc_id) —
    // pure integer ranking over the postings frame (at rest: the
    // tf-ordered prefix of each term's bucket)
    val wt = Window.partitionBy(col("tok"))
      .orderBy(col("tf").desc, col("doc_id"))
    val cand = postings(docs)
      .withColumn("crank", row_number().over(wt))
      .filter(col("crank") <= m)
      .select(col("doc_id")).distinct()
    val ctop = scored.join(broadcast(cand), Seq("doc_id"))
      .orderBy(col("score").desc, col("doc_id")).limit(TopK)
      .withColumn("rank", row_number().over(exW))
    ctop.join(broadcast(ex), Seq("doc_id"), "left_outer")
      .select(Seq(col("rank"), col("doc_id"), col("score"), col("dl")) ++
        QueryTerms.map(t => col(s"tf_$t")) :+
        coalesce(col("exact_rank"), lit(0)).cast("int").as("exact_rank"): _*)
  }

  /** IR7 — incremental postings/dictionary maintenance, the x19/d7
    * convention applied to the text index: the corpus splits into a
    * STANDING side (doc_id % 5 != 0 — at rest, the written term-bucketed
    * postings plus the one-row stats metadata) and an incoming BATCH
    * (doc_id % 5 == 0). The append never touches a standing document:
    * the batch builds its own postings and stats row, the dictionary
    * merge is componentwise INTEGER ADDITION (df/cf/N/total-tokens are
    * all sums over disjoint doc sets, so the merge is exact and
    * associative — "index metadata maintained incrementally" made
    * literal), avgdl recomputes from the merged integers with the same
    * tree, and serving runs over the unioned candidate pivots. The
    * oracle is ir2's SQL VERBATIM over the full corpus: append∘serve ==
    * build-over-union∘serve, bit-exactly — the associativity a
    * production text index relies on instead of nightly rebuilds. (The
    * registered query restates both sides from parquet for determinism,
    * the d15 convention; only the batch would shuffle in production —
    * the standing artifacts are reads.) */
  def postingsAppend(s: SparkSession, dir: String): DataFrame =
    postingsAppendCore(Tables.documents(s, dir))

  private[graft] def postingsAppendCore(docs: DataFrame): DataFrame = {
    val standing = docs.filter(col("doc_id") % DedupOps.IncomingMod =!= 0)
    val batch = docs.filter(col("doc_id") % DedupOps.IncomingMod === 0)
    // coalesce each summed column: over an EMPTY side (a fixture where
    // one residue class is unpopulated) sum() is NULL and would
    // propagate through the merge into every score — the same null-sum
    // guard PostingsMonitor.observe applies driver-side
    def slim(side: DataFrame, p: String) = statsRow(perDoc(side)).select(
      col("n_docs").as(s"${p}_n") +:
        coalesce(col("total_tokens"), lit(0L)).as(s"${p}_tt") +:
        QueryTerms.flatMap(t => Seq(
          coalesce(col(s"df_$t"), lit(0L)).as(s"${p}_df_$t"),
          coalesce(col(s"cf_$t"), lit(0L)).as(s"${p}_cf_$t"))): _*)
    val mergedStats = slim(standing, "s").crossJoin(slim(batch, "b"))
      .select((col("s_n") + col("b_n")).as("n_docs") +:
        (col("s_tt") + col("b_tt")).as("total_tokens") +:
        QueryTerms.flatMap(t => Seq(
          (col(s"s_df_$t") + col(s"b_df_$t")).as(s"df_$t"),
          (col(s"s_cf_$t") + col(s"b_cf_$t")).as(s"cf_$t"))): _*)
      .withColumn("avgdl", col("total_tokens").cast("double") / col("n_docs"))
    rankedTopK(
      matchedPivot(standing).unionByName(matchedPivot(batch))
        .crossJoin(broadcast(mergedStats))
        .withColumn("score", scoreCol))
  }

  /** IR3 — hybrid retrieval: BM25 top-K (query doc excluded, as x1
    * excludes self) fused with embedding-cosine top-K for the same
    * query document via reciprocal-rank fusion
    * `Σ 1/(60+rank)` — rank integers in, one division + one addition
    * out, so the fused score is cross-engine exact. The fusion is a
    * full-outer join of two ≤K-row frames — corpus-size independent. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val text = bm25ScoredCore(Tables.documents(s, dir))
      .filter(col("doc_id") =!= HybridQueryDoc)
      .orderBy(col("score").desc, col("doc_id")).limit(TopK)
      .withColumn("r_text", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_text"), col("score"))
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(dotD(col("v"), col("v"))))
    val qv = emb.filter(col("vec_id") === HybridQueryDoc)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val vec = emb.filter(col("vec_id") =!= HybridQueryDoc)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        (dotD(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(TopK)
      .withColumn("r_vec", row_number().over(
        Window.orderBy(col("cos").desc, col("doc_id"))))
    val rrf =
      when(col("r_text").isNull, lit(0).cast("double"))
        .otherwise(lit(1).cast("double") / (col("r_text") + RrfK)) +
        when(col("r_vec").isNull, lit(0).cast("double"))
          .otherwise(lit(1).cast("double") / (col("r_vec") + RrfK))
    text.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf", rrf)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("r_text"), col("r_vec"),
        col("score"), col("cos"), col("rrf"))
      .transform(Common.presented(_, col("rank")))
  }

  // ---------------------------------------------------------------
  // Generalized serving (the streaming twin's engine): queries arrive
  // as (query_id, t1, t2, t3) ROWS instead of compile-time literals.
  // Contributions are computed per ORDINAL with the same integer-in,
  // IEEE-out trees and summed in ordinal order, so a served score is
  // bit-identical to the pivoted batch form over the same terms
  // (StreamingRetrievalSpec pins it).
  // ---------------------------------------------------------------

  /** Frozen general postings (tok, doc_id, tf, dl) — ALL terms, the
    * standing index the streamed queries probe.
    *
    * A posting is a per-document fact, so the tf aggregate completes
    * INSIDE each row: [[graft.functions.ShingleExpressions.tokenCounts]]
    * counts one compiled pass per document and the explode emits the
    * final (tok, doc_id, tf) rows — the former
    * `explode → groupBy(tok, doc_id) → count` paid a full exchange of
    * the exploded token stream plus two hash-aggregate passes for rows
    * this pass produces shuffle-free (guide §2.3/§2.4; row set
    * bit-identical, RetrievalOpsSpec pins it against the relational
    * form; an A/B at sf0.1 read ~13% off ir15+ir16, every alternated
    * pair in favor). No exchange is introduced here — ir4's plan
    * contract pins the probed-terms filter below any shuffle, and a
    * Common.spread of the single-split harness scan measured NET
    * SLOWER than the compiled pass it parallelizes (the k2 lesson:
    * the exchange costs more than the stage). */
  private[graft] def allPostings(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), size(toks).as("dl"),
        explode(graft.functions.ShingleExpressions.tokenCounts(toks)).as("tc"))
      .select(col("tc.tok").as("tok"), col("doc_id"),
        col("tc.tf").as("tf"), col("dl"))

  /** The (tok, df) dictionary derived from a postings frame — ONE
    * authoritative tree (it participates in the oracle bit-exactness
    * contract, so there must be exactly one definition to drift). */
  private[graft] def dictFrom(p: DataFrame): DataFrame =
    p.groupBy(col("tok")).agg(count(lit(1)).as("df"))

  /** One-row corpus constants (n_docs, avgdl) — same single-tree rule. */
  private[graft] def corpusConsts(docs: DataFrame): DataFrame =
    docs.select(size(toks).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl").cast("long")).as("total_tokens"))
      .withColumn("avgdl", col("total_tokens").cast("double") / col("n_docs"))
      .select(col("n_docs"), col("avgdl"))

  /** Frozen term dictionary (tok, df) + one-row corpus constants. */
  private[graft] def termDict(docs: DataFrame): (DataFrame, DataFrame) =
    (dictFrom(allPostings(docs)), corpusConsts(docs))

  /** Score a batch of 3-term queries against frozen postings: per
    * ordinal, a broadcast join of the (tiny) query batch against the
    * index picks up (tf, dl) and df; a full-outer per-ordinal merge on
    * (query_id, doc_id) coalesces absent terms to tf 0; the score tree
    * and fold order match [[scoreCol]] exactly. Top-k per query is the
    * x1 window shape (≤ |batch| key partitions). */
  private[graft] def serveQueryBatch(
      queries: DataFrame, index: DataFrame, dict: DataFrame,
      consts: DataFrame): DataFrame = {
    val ords = Seq(1, 2, 3)
    // per-ordinal postings probe; every output column uniquely named so
    // the full-outer merge shares ONLY the (query_id, doc_id) keys (the
    // three frames share the index lineage — same-named non-key columns
    // would be ambiguous self-join references)
    val matches = ords.map { i =>
      index.join(broadcast(queries.select(col("query_id"), col(s"t$i"))),
          col("tok") === col(s"t$i"))
        .select(col("query_id"), col("doc_id"),
          col("dl").as(s"dl$i"), col("tf").as(s"tf$i"))
    }
    val merged = matches.reduceLeft(
      (a, b) => a.join(b, Seq("query_id", "doc_id"), "full_outer"))
    // per-ordinal df + corpus constants attach ONCE, after the merge
    val qd = ords.foldLeft(queries) { (q, i) =>
      q.join(broadcast(dict.select(col("tok").as(s"t$i"), col("df").as(s"qdf$i"))),
          Seq(s"t$i"), "left")
        .withColumn(s"qdf$i", coalesce(col(s"qdf$i"), lit(0L)))
    }.select(col("query_id") +: ords.map(o => col(s"qdf$o")): _*)
    val dl = coalesce(ords.map(i => col(s"dl$i")): _*)
    val contrib = ords.map { i =>
      val tf = coalesce(col(s"tf$i"), lit(0))
      when(tf > 0,
        idfCol(col(s"qdf$i"), col("n_docs")) *
          tfPart(tf, dl.cast("double") / col("avgdl")))
        .otherwise(lit(0).cast("double"))
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    merged.join(broadcast(qd), Seq("query_id"))
      .crossJoin(broadcast(consts))
      .withColumn("score", contrib.reduce(_ + _))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** ir5's literal query workload: three term-triples — the fixed probe
    * set, a disjoint triple, and one containing a term absent from the
    * corpus (df 0 exercises the missing-dictionary path). */
  val ServeQueries: Seq[(Long, String, String, String)] = Seq(
    (0L, "dup", "merge", "spark"),
    (1L, "window", "hash", "vector"),
    (2L, "batch", "nosuchterm", "query"))

  /** IR5 — MULTI-query serving through the generalized postings engine
    * ([[serveQueryBatch]], the streaming twin's scorer) as a registered,
    * oracle-gated query: the term-as-data path that streams must produce
    * the same hash-compared surface as compile-time SQL. Per query the
    * work is three broadcast postings probes + a bounded merge — the
    * corpus-side postings build amortizes across the whole workload
    * (and at rest is the written term-bucketed index). */
  def batchServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val queries = ServeQueries.toDF("query_id", "t1", "t2", "t3")
    // the standing index artifacts persist for the query's lifetime —
    // without it the postings lineage (scan+explode+groupBy) replans
    // per ordinal probe and per dictionary consumer (measured: 8
    // documents scans, 18 exchanges). The d2-signature-table
    // convention: the harness clears the cache after each query; in
    // production these frames ARE the at-rest index, and a serve
    // reads them, never builds them
    val index = CacheScope.persist(allPostings(docs))
    val dict = CacheScope.persist(dictFrom(index))
    serveQueryBatch(queries, index, dict, corpusConsts(docs))
      .transform(Common.presented(_, col("query_id"), col("rank")))
  }

  /** ir6's phrase — the corpus's most frequent bigram, so the adjacency
    * signal is dense enough to rank on. */
  val Phrase: (String, String) = ("table", "hash")

  /** IR6 — phrase search: docs ranked by ADJACENCY count of the two-word
    * phrase (positional match, not bag-of-words co-occurrence), with the
    * anchor ratio `phrase_tf / min(tf_w1, tf_w2)` — how often the rarer
    * word appears inside the phrase — as the secondary signal. The
    * adjacency count pairs each token with its successor via
    * `zip_with(toks, slice(toks, 2, …))` — a per-row array expression,
    * NO explode and no shuffle (and no `element_at` inside a lambda —
    * the tx8 O(n²) trap); the trailing unpaired token contributes 0
    * through the null-safe `when`. Integer counts + one division, so
    * the ratio is cross-engine exact. Top-k is TakeOrderedAndProject,
    * as ir2. */
  def phraseSearch(s: SparkSession, dir: String): DataFrame = {
    val (w1, w2) = Phrase
    val shifted = slice(toks, lit(2), greatest(size(toks) - 1, lit(0)))
    val phraseTf = aggregate(
      zip_with(toks, shifted,
        (x, y) => when(x === lit(w1) && y === lit(w2), 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    val top = Tables.documents(s, dir)
      .select(col("doc_id"), size(toks).as("dl"),
        phraseTf.as("phrase_tf"),
        tfCol(w1).as(s"tf_$w1"), tfCol(w2).as(s"tf_$w2"))
      .filter(col("phrase_tf") > 0)
      .withColumn("anchor_ratio",
        col("phrase_tf").cast("double") /
          least(col(s"tf_$w1"), col(s"tf_$w2")))
      .orderBy(col("phrase_tf").desc, col("anchor_ratio").desc, col("doc_id"))
      .limit(TopK)
    top
      .withColumn("rank", row_number().over(Window.orderBy(
        col("phrase_tf").desc, col("anchor_ratio").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("phrase_tf"),
        col(s"tf_$w1"), col(s"tf_$w2"), col("dl"), col("anchor_ratio"))
      .transform(Common.presented(_, col("rank")))
  }

  /** The POSITIONAL postings lists for `terms` — `(tok, doc_id, pos,
    * dl)`, dl denormalized in (ir4's convention): the index layout
    * phrase and proximity queries serve from. The probe filter sits
    * directly on the generated rows; at rest the lists are written
    * `partitionBy(term_bucket)` ordered by (doc_id, pos), so a probe
    * partition-prunes to the query's terms and the adjacency join
    * below is a merge over co-sorted lists —
    * [[phraseAtRestServe]] (ir17) materializes exactly that layout
    * and serves from the files. */
  private[graft] def positionalPostings(docs: DataFrame,
      terms: Seq[String]): DataFrame =
    docs.select(col("doc_id"), size(toks).as("dl"),
        posexplode(toks).as(Seq("pos", "tok")))
      .filter(col("tok").isin(terms: _*))

  /** IR14 — PHRASE SERVE FROM THE POSITIONAL INDEX: ir6's positional
    * adjacency ranking answered from at-rest positional postings
    * instead of re-scanning every document's token array — the ir4
    * path-substitution discipline applied to phrase search (IIR §2.4
    * positional indexes: adjacency is a positions-intersection with
    * offset 1, the classic `pos₂ = pos₁ + 1` merge). The two probed
    * lists join on (doc_id, adjacent positions) and collapse to
    * per-doc phrase_tf; per-term tf and dl come off the same lists —
    * NO text is touched at serve time. Counts are integers and the
    * anchor ratio is the same single division, so the output is
    * BIT-IDENTICAL to ir6's scan form and the oracle is ir6's SQL
    * verbatim (RetrievalOpsSpec pins the equality).
    *
    * 100 TB plan: the positional lists are the index — built once,
    * maintained by ir7's append discipline (positions are per-doc
    * facts, so appends never touch standing lists); a phrase serve
    * reads TWO term partitions (partition-pruned, df-bounded) instead
    * of every token of every document, and the adjacency join is
    * position-co-sorted within doc — the at-rest sort order makes it
    * a streaming merge, never a hash of the full lists. */
  def phraseIndexServe(s: SparkSession, dir: String): DataFrame =
    phraseFromPositional(positionalPostings(
      Tables.documents(s, dir), Seq(Phrase._1, Phrase._2)))

  /** The positional-index phrase serve over any probed (tok, doc_id,
    * pos, dl) rows — ONE core shared by ir14 (in-query lists) and ir17
    * (the at-rest files), so the adjacency algebra cannot drift
    * between the build path and the serve path. */
  private def phraseFromPositional(pp0: DataFrame): DataFrame = {
    val (w1, w2) = Phrase
    val pp = pp0
    CacheScope.persist(pp) // three consumers: both phrase sides + the tf rollup
    val p1 = pp.filter(col("tok") === w1)
      .select(col("doc_id"), col("pos"), col("dl"))
    val p2 = pp.filter(col("tok") === w2)
      .select(col("doc_id").as("d2"), col("pos").as("pos2"))
    val adj = p1.join(p2,
        col("doc_id") === col("d2") && col("pos2") === col("pos") + 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("phrase_tf"), max(col("dl")).as("dl"))
    val tfs = pp.groupBy(col("doc_id")).agg(
      sum(when(col("tok") === w1, 1).otherwise(0)).cast("int").as(s"tf_$w1"),
      sum(when(col("tok") === w2, 1).otherwise(0)).cast("int").as(s"tf_$w2"))
    val ord = Seq(col("phrase_tf").desc, col("anchor_ratio").desc, col("doc_id"))
    adj.join(tfs, Seq("doc_id"))
      .withColumn("anchor_ratio",
        col("phrase_tf").cast("double") /
          least(col(s"tf_$w1"), col(s"tf_$w2")))
      .orderBy(ord: _*).limit(TopK)
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)))
      .select(col("rank"), col("doc_id"), col("phrase_tf"),
        col(s"tf_$w1"), col(s"tf_$w2"), col("dl"), col("anchor_ratio"))
      .transform(Common.presented(_, col("rank")))
  }

  // ---------------------------------------------------------------
  // The at-rest postings index (ir15/ir16): the physical half of the
  // serving tier. ir4/ir12 prove the SERVING ALGEBRA (pivot + score,
  // upper-bound pruning) bit-identical to the exhaustive scan; ir15
  // writes the term-bucketed postings + dictionary + block-max
  // metadata to parquet and serves from THE FILES, partition-pruned
  // to the query's term buckets — the x11/x24/ly2 discipline applied
  // to sparse retrieval, so a serve reads the probed terms' buckets,
  // never the corpus. ir16 proves the index MAINTAINS under append:
  // every artifact merges associatively (postings are per-doc facts —
  // appends never touch standing rows; df/cf/N/total-tokens merge by
  // integer addition; the block maxima merge by max/min), so
  // append∘serve == rebuild∘serve bit-exactly (the d19/x15
  // convention), and nightly rebuilds are unnecessary.
  // ---------------------------------------------------------------

  /** Term-bucket count of the at-rest postings layout. 16 keeps every
    * bucket populated at the harness SFs; production sizes buckets to
    * the target file size (the partition count is layout metadata —
    * the serve's pruning is correct at any bucket count). */
  val TermBuckets = 16

  /** Driver-side twin of [[termBucketCol]]: the probe computes its
    * terms' buckets AT PLAN TIME (ly2's cellsForRange discipline) and
    * plants a STATIC `term_bucket IN (...)` partition predicate — no
    * subquery, directory pruning before any task launches.
    * RetrievalOpsSpec pins scala==spark agreement over the corpus
    * vocabulary. */
  def termBucketOf(t: String, n: Int = TermBuckets): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % n
  }

  /** The engine-side bucket: first 4 hex chars of md5 as an int,
    * mod [[TermBuckets]] — cheap, stable across engines and JVMs
    * (xxhash64's seed-dependence would make the driver twin fragile). */
  private[graft] def termBucketCol(c: Column,
      n: Int = TermBuckets): Column =
    (conv(substring(md5(c), 1, 4), 16, 10).cast("int") % n)
      .cast("int")

  /** BUILD/APPEND shared core: one side's postings + the derived
    * metadata, written under `root`:
    *   - `postings/` — (tok, doc_id, tf, dl) PARTITIONED BY
    *     term_bucket: the index body a probe partition-prunes.
    *   - `blockmeta/` — per (term, [[BlockSize]]-doc block) the
    *     STATS-INDEPENDENT maxima `max_tf`/`min_dl` the block-max
    *     bound derives from (the contribution is increasing in tf and
    *     decreasing in dl, so idf·tfPart(max_tf, min_dl/avgdl)
    *     dominates every in-block contribution — Ding & Suel 2011's
    *     U_{t,b}, stored in the form that merges by max/min under
    *     append instead of going stale when corpus stats move).
    *   - `dict/` — (tok, df), bucketed like the postings.
    *   - `consts/` — one row (n_docs, total_tokens, avgdl).
    * Metadata derives from the written postings (one read of the new
    * files), not from a second corpus pass. */
  private def postingsArtifacts(docs: DataFrame): DataFrame =
    allPostings(docs)
      .withColumn("term_bucket", termBucketCol(col("tok")))

  private def blockMetaOf(p: DataFrame): DataFrame =
    p.withColumn("blk", expr(s"doc_id div $BlockSize"))
      .groupBy(col("term_bucket"), col("tok"), col("blk"))
      .agg(max(col("tf")).as("max_tf"), min(col("dl")).as("min_dl"),
        count(lit(1)).as("n_postings"))

  /** The dictionary ROLLS UP from the block metadata (df = Σ per-block
    * postings counts — the same exact long a direct postings count
    * gives), so neither the build nor the append pays a second
    * full-postings aggregate for it: one postings pass feeds both
    * metadata tables, and the dict rebuild after a merge reads ≤
    * |terms|×|blocks| metadata rows, never postings. */
  private def dictFromMeta(meta: DataFrame): DataFrame =
    meta.groupBy(col("term_bucket"), col("tok"))
      .agg(sum(col("n_postings")).as("df"))

  private[graft] def writePostingsIndex(s: SparkSession, root: String,
      docs: DataFrame): Unit = {
    AtRest.land(s, s"$root/postings", "term_bucket",
      postingsArtifacts(docs), "overwrite")
    // the two metadata chains are INDEPENDENT after the postings land
    // (blockmeta→dict recounts from the written postings; doclen→consts
    // from the docs scan and then its own written table), so they
    // overlap (guide §2.6) — each chain's internal order is unchanged
    AtRest.inParallel(
      () => {
        AtRest.land(s, s"$root/blockmeta", "term_bucket",
          blockMetaOf(s.read.parquet(s"$root/postings")), "overwrite")
        AtRest.land(s, s"$root/dict", "term_bucket",
          dictFromMeta(s.read.parquet(s"$root/blockmeta")), "overwrite")
      },
      () => {
        // the per-doc length table — index metadata in its own right (dl
        // is what postings denormalize in), and the ONE artifact that
        // records zero-token documents, which the postings cannot: the
        // corpus constants derive from it, never from a docs re-scan.
        // It partitions by doc bucket, so a delete request rewrites only
        // its own doc partitions and an append lands where they look
        AtRest.land(s, s"$root/doclen", "doc_bucket",
          docLenOf(docs), "overwrite")
        recountConsts(s, root)
      })
  }

  /** (doc_id, dl, doc_bucket) — the doclen table's rows. */
  private def docLenOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(toks).as("dl"))
      .withColumn("doc_bucket", AtRest.docBucketCol)

  /** RECOUNT the one-row `consts` (n_docs, total_tokens, avgdl) from the
    * at-rest doclen — [[corpusConsts]]'s exact trees with the integer
    * total kept (the empty-side coalesce is ir7's null-sum guard).
    * Idempotent where a += merge would double-count a retried batch;
    * the plan reads doclen, never consts, so the overwrite needs no
    * pin. Build, append, forget and heal all end with it. */
  private def recountConsts(s: SparkSession, root: String): Unit =
    s.read.parquet(s"$root/doclen")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl").cast("long")), lit(0L)).as("total_tokens"))
      .withColumn("avgdl",
        col("total_tokens").cast("double") / col("n_docs"))
      .write.mode("overwrite").parquet(s"$root/consts")

  /** Fold an incoming batch into the standing index — the ir7 merge
    * made physical. Postings APPEND (per-doc facts; standing files
    * untouched); blockmeta/dict MERGE associatively BUCKET-SCOPED
    * (round 16): blockmeta is ~postings/64 rows and grows with the
    * corpus, so a full-table rewrite per append would fold a
    * batch-sized delta into a corpus-sized write — instead only the
    * delta's term buckets are read, merged and written back via
    * dynamic partition overwrite (ir19's write path; untouched
    * metadata buckets' files survive byte-identical,
    * RetrievalOpsSpec pins it). consts RECOUNTS from doclen (one row
    * out — idempotent where a += merge would double-count a retry).
    * [[AtRest.land]] pins the read-modify-write cycle on each
    * self-reading metadata write (the x15/x17 convention).
    *
    * IDEMPOTENT under retry (x19's exactly-once discipline): the
    * batch's rows anti-join the standing postings' slim (tok, doc_id)
    * key projection, so a rerun — after a crash at ANY point — never
    * lands a posting twice, and the metadata merge that follows folds
    * only the rows that actually appended. The anti-join reads two
    * columns of the standing index; a production deployment replaces
    * it with a transaction log (Delta/Iceberg), this is the log-free
    * honest form. A crash BETWEEN the postings append and the
    * metadata writes leaves metadata stale, not wrong —
    * [[healPostingsMetadata]] recounts it from the at-rest postings
    * (x19's heal-a-torn-stats-write recovery, RetrievalOpsSpec pins
    * both properties). */
  private[graft] def appendPostingsIndex(s: SparkSession, root: String,
      batch: DataFrame): Unit = {
    // three consumers (postings append, blockmeta merge, dict merge),
    // and the frame must be pinned as an EAGER localCheckpoint, not a
    // cache: appending to root/postings triggers refreshByPath, which
    // invalidates any cached plan referencing that path — a cached
    // anti-join would lazily recompute against the post-append listing
    // and filter ITSELF out, silently dropping the batch from the
    // metadata merge (the checkpoint severs the lineage first)
    val bp = postingsArtifacts(batch)
      .join(s.read.parquet(s"$root/postings")
        .select(col("tok"), col("doc_id")), Seq("tok", "doc_id"),
        "left_anti")
      .localCheckpoint()
    AtRest.land(s, s"$root/postings", "term_bucket", bp, "append")
    // disjoint doc sets: a (term, block) key appears on at most one
    // side unless the block straddles the split, where max/min/sum all
    // merge exactly; n_postings sums like the dict's df does. The
    // merge is BUCKET-SCOPED: the delta only holds the batch's term
    // buckets, so only those buckets of the standing metadata are
    // read, merged and replaced — the touched-bucket list is O(16)
    // driver metadata (the d27 bookkeeping class), and a merged
    // bucket is never empty (the delta contributed to it), so a plain
    // dynamic overwrite replaces exactly the touched buckets
    val deltaMeta = blockMetaOf(bp).localCheckpoint()
    val mBuckets = deltaMeta.select(col("term_bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    // the blockmeta→dict merge chain and the doclen→consts chain touch
    // disjoint tables (every cross-table read is of the already-landed
    // postings or the pinned delta), so they overlap — guide §2.6
    AtRest.inParallel(
      () => if (mBuckets.nonEmpty) {
        AtRest.land(s, s"$root/blockmeta", "term_bucket",
          s.read.parquet(s"$root/blockmeta")
            .filter(col("term_bucket").isin(mBuckets: _*))
            .unionByName(deltaMeta)
            .groupBy(col("term_bucket"), col("tok"), col("blk"))
            .agg(max(col("max_tf")).as("max_tf"),
              min(col("min_dl")).as("min_dl"),
              sum(col("n_postings")).as("n_postings")),
          "dynamic")
        AtRest.land(s, s"$root/dict", "term_bucket",
          dictFromMeta(s.read.parquet(s"$root/blockmeta")
            .filter(col("term_bucket").isin(mBuckets: _*))),
          "dynamic")
      },
      () => {
        // doclen gets the same anti-join exactly-once guard (land pins
        // it: the plan reads the table it appends to), then the
        // constants recount from the at-rest table
        AtRest.land(s, s"$root/doclen", "doc_bucket",
          docLenOf(batch)
            .join(s.read.parquet(s"$root/doclen").select(col("doc_id")),
              Seq("doc_id"), "left_anti"),
          "append")
        recountConsts(s, root)
      })
  }

  /** Crash recovery for the postings index: every metadata table
    * RECOUNTS from the at-rest row artifacts (postings → blockmeta →
    * dict; doclen → consts) — the x19 heal-by-recount discipline. A
    * crash between the exactly-once row appends and the metadata
    * writes leaves metadata stale, never wrong; rerunning the append
    * (a no-op on rows already landed) and then this heal restores the
    * exact rebuilt state (RetrievalOpsSpec pins it). */
  private[graft] def healPostingsMetadata(s: SparkSession,
      root: String): Unit = {
    AtRest.healDerived(s, s"$root/blockmeta",
      blockMetaOf(s.read.parquet(s"$root/postings")), Seq("term_bucket"))
    AtRest.healDerived(s, s"$root/dict",
      dictFromMeta(s.read.parquet(s"$root/blockmeta")), Seq("term_bucket"))
    recountConsts(s, root)
  }

  /** Data files per term_bucket partition of the at-rest postings —
    * [[AtRest.bucketFiles]] on the postings layout. */
  private[graft] def postingsBucketFiles(s: SparkSession,
      root: String): Map[Int, Seq[org.apache.hadoop.fs.FileStatus]] =
    AtRest.bucketFiles(s, s"$root/postings", "term_bucket")

  /** The grown bucket count ir24 migrates to — [[AtRest
    * .bucketCountFor]]'s next power-of-two step past [[TermBuckets]]
    * with headroom (16 → 64, two doublings: the migration the sizing
    * rule calls for when the corpus has grown 4×). */
  val RebucketN = 64

  /** RE-BUCKET the postings family in place: all three term-bucketed
    * artifacts migrate from [[TermBuckets]] to `newN` buckets through
    * [[AtRest.rebucketTable]] — the same `tok` hash at the new
    * modulus, each artifact under its own row key ((tok, doc_id) /
    * (tok, blk) / tok). The artifacts migrate INDEPENDENTLY (each is
    * self-describing under the verb), so a crash between them leaves
    * a mixed-modulus index only in the sense that each table is
    * individually servable at its own completed modulus — the rerun
    * completes the rest; doclen/consts are not term-bucketed and do
    * not move. After migration the serve is [[serveFromIndex]] with
    * the new modulus: same tree, a 4×-longer static bucket list over
    * 4×-smaller directories. */
  private[graft] def rebucketPostingsIndex(s: SparkSession, root: String,
      newN: Int = RebucketN, crashAfterLand: Boolean = false): Unit = {
    AtRest.rebucketTable(s, s"$root/postings", "term_bucket",
      TermBuckets, newN, termBucketCol(col("tok"), newN),
      Seq("tok", "doc_id"), crashAfterLand = crashAfterLand)
    AtRest.rebucketTable(s, s"$root/blockmeta", "term_bucket",
      TermBuckets, newN, termBucketCol(col("tok"), newN),
      Seq("tok", "blk"), crashAfterLand = crashAfterLand)
    AtRest.rebucketTable(s, s"$root/dict", "term_bucket",
      TermBuckets, newN, termBucketCol(col("tok"), newN),
      Seq("tok"), crashAfterLand = crashAfterLand)
  }

  /** IR24 — RE-BUCKET THE LIVE INDEX, THEN SERVE: the bucket-count
    * scaling law executed (r17 verdict #1). The index builds at
    * [[TermBuckets]], GROWS in place to [[RebucketN]] buckets — a
    * deterministic row migration (new bucket = hash mod 64), dq9's
    * land-then-resolve discipline with the intent manifest made
    * unnecessary by value-preservation (see [[AtRest.rebucketTable]])
    * — and the serve runs at the NEW modulus. Output BIT-IDENTICAL to
    * ir2's exhaustive scan (oracle verbatim — the ir15 convention):
    * re-bucketing moves bytes between directories, never rows out of
    * the index.
    *
    * 100 TB plan: this is the verb that keeps the at-rest layouts
    * honest at scale — when a 16-bucket postings table reaches
    * terabyte directories, the sizing rule asks for more buckets, and
    * the migration is bounded by the SPLITTING buckets' bytes (every
    * row moves at most once, untouched-bucket files survive
    * byte-identical), restartable at any point, and serve-correct
    * before, during (old modulus through the land; both-moduli
    * union-probe through the resolve) and after (new modulus). */
  def indexRebucket(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/irindex24"
    writePostingsIndex(s, root, Tables.documents(s, dir))
    rebucketPostingsIndex(s, root)
    serveFromIndex(s, root, RebucketN)
  }

  /** IR19's compaction core — complete the postings lifecycle (ir15
    * builds, ir16 appends + heals; nothing bin-packed): every
    * [[appendPostingsIndex]] lands ≥1 new file per touched bucket, so
    * a daily-ingest deployment accretes small files until reads pay
    * per-file open cost. x17's discipline applied to the postings:
    * AFFECTED buckets (more data files than `targetFiles`) are read
    * with a STATIC `term_bucket IN` partition predicate (only their
    * directories are listed), repartitioned so each bucket lands as
    * ONE file, staged, and written back with DYNAMIC partition
    * overwrite — untouched buckets' files are never rewritten
    * (RetrievalOpsSpec pins their file sets byte-identical), and the
    * metadata tables need nothing: compaction moves bytes, not rows.
    *
    * Restart-safe without a log: a crash between staging and the
    * overwrite reruns from the top (staging rebuilds from the intact
    * postings); a crash MID-overwrite leaves some buckets compacted
    * (1 file — the rerun's listing skips them) and some not (still
    * >targetFiles — the rerun re-stages exactly those), and every
    * replaced partition holds the same rows it held before, so no
    * serve in between reads anything wrong (CompactionSpec exercises
    * each crash point). Returns the compacted bucket ids (Nil =
    * nothing to do). Round 16: the pass is [[AtRest
    * .compactBucketedTable]], extracted so every maintained family
    * (bands, winnow, positional, SAX counts, …) runs the identical
    * bin-pack instead of re-implementing it per layout. */
  private[graft] def compactPostingsIndex(s: SparkSession, root: String,
      targetFiles: Int = 1): Seq[Int] =
    AtRest.compactBucketedTable(s, s"$root/postings", "term_bucket",
      targetFiles)

  /** IR19 — COMPACTED-INDEX SERVE: the postings lifecycle closed.
    * BUILD the standing index, APPEND the incoming batch (ir16 —
    * which leaves ≥2 files in every touched bucket), COMPACT the
    * accreted buckets back to one file each
    * ([[compactPostingsIndex]]), then SERVE ir15's partition-pruned
    * probe from the compacted files. Compaction is pure layout — row
    * content, metadata and scores are untouched — so the output is
    * BIT-IDENTICAL to ir2's exhaustive scan (oracle verbatim, the
    * ir15/ir16 convention) and RetrievalOpsSpec pins
    * serve-before == serve-after plus the untouched-bucket file-set
    * invariant.
    *
    * 100 TB plan: the nightly bin-pack reads and rewrites ONLY the
    * buckets the day's appends touched (static partition predicate in,
    * dynamic partition overwrite out — the standing cold buckets are
    * never listed, read, or rewritten), so compaction cost tracks
    * ingest volume, not index size. */
  def compactedIndexServe(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/irindex19"
    val docs = Tables.documents(s, dir)
    writePostingsIndex(s, root,
      docs.filter(col("doc_id") % DedupOps.IncomingMod =!= 0))
    appendPostingsIndex(s, root,
      docs.filter(col("doc_id") % DedupOps.IncomingMod === 0))
    compactPostingsIndex(s, root)
    serveFromIndex(s, root)
  }

  /** The forget sweep's survivor frame — exposed so PlanContractSpec
    * can pin the STATIC `term_bucket IN` partition predicate on the
    * postings scan (only the deleted docs' terms' directories are
    * listed or read). */
  private[graft] def postingsForgetSurvivors(s: SparkSession,
      root: String, delIds: DataFrame, targets: Seq[Int]): DataFrame =
    s.read.parquet(s"$root/postings")
      .filter(col("term_bucket").isin(targets: _*))
      .join(broadcast(delIds), Seq("doc_id"), "left_anti")
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"),
        col("term_bucket"))

  /** FORGET EXECUTED AGAINST THE AT-REST POSTINGS INDEX — the c6
    * delete discipline on the one layout where a row's partition is
    * NOT a function of its document: postings live in TERM buckets, so
    * a doc_id probe of the files would scan the whole index. The
    * targets instead derive from the REQUEST'S OWN ROWS — the deleted
    * docs re-tokenize through [[postingsArtifacts]] (batch-bounded,
    * exactly the append path's cost for the same rows) and their
    * distinct term buckets are the ONLY postings/metadata partitions
    * the sweep lists, reads or rewrites. Survivors anti-join the
    * broadcast request and replace exactly their partitions via
    * dynamic overwrite; a bucket whose every posting belonged to
    * deleted docs stages nothing and must DROP explicitly (the
    * d27/c6 empty-partition edge).
    *
    * The metadata is the genuinely new half: the first SUBTRACTIVE
    * merge in the repo. max_tf/min_dl cannot be decremented
    * incrementally (removing the max row needs the runner-up), so
    * blockmeta RECOUNTS from the post-delete postings — but
    * BUCKET-SCOPED: only the touched term buckets are re-aggregated
    * and dynamically overwritten, the heal-by-recount discipline at
    * append-sized cost. The dict rolls up from the recounted buckets
    * as always; a term whose last posting died simply has no recount
    * row, and the partition replacement erases it. doclen is the
    * c6 case (doc-bucketed, targets from the request's ids); consts
    * recount from it.
    *
    * Crash safety (ForgetIndexSpec exercises the points): after the
    * postings rewrite the deleted docs are PHYSICALLY GONE — no serve
    * at any later point can return them, which is the compliance
    * property; a crash before the metadata recount leaves df/avgdl
    * stale-not-wrong (scores drift, candidates don't — the ir16
    * convention), and rerunning the forget (idempotent: the rerun
    * re-stages survivors to the same end state) or
    * [[healPostingsMetadata]] restores exactness. */
  private[graft] def forgetPostingsIndex(s: SparkSession, root: String,
      deleted: DataFrame): Unit = {
    // the request's postings-key projection, pinned eagerly (the
    // survivor plans below read the very files the overwrites replace)
    val delKeys = postingsArtifacts(deleted)
      .select(col("doc_id"), col("term_bucket")).distinct()
      .localCheckpoint()
    val delIds = deleted.select(col("doc_id")).localCheckpoint()
    val tBuckets = delKeys.select(col("term_bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val fs = AtRest.fsOf(s, root)
    // the postings→blockmeta→dict sweep chain and the doclen→consts
    // chain (forgetDoclen) touch disjoint tables; both targets derive
    // from the pinned request — overlap them (guide §2.6)
    AtRest.inParallel(
      () => if (tBuckets.nonEmpty) {
      AtRest.overwriteBuckets(s, s"$root/postings", "term_bucket",
        tBuckets, postingsForgetSurvivors(s, root, delIds, tBuckets))
      // subtractive metadata: recount ONLY the touched buckets from
      // the post-delete postings, replace their partitions (the
      // shared verb drops all-emptied buckets' blockmeta dirs)
      val mStaged = AtRest.overwriteBuckets(s, s"$root/blockmeta",
        "term_bucket", tBuckets,
        blockMetaOf(s.read.parquet(s"$root/postings")
          .filter(col("term_bucket").isin(tBuckets: _*))))
      if (mStaged.nonEmpty) {
        AtRest.overwriteBuckets(s, s"$root/dict", "term_bucket",
          tBuckets,
          dictFromMeta(s.read.parquet(s"$root/blockmeta")
            .filter(col("term_bucket").isin(mStaged.toSeq: _*))))
      } else {
        // every touched bucket emptied: blockmeta holds no readable
        // rows for them, so the dict dirs drop directly
        tBuckets.foreach { b =>
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$root/dict/term_bucket=$b"), true)
          ()
        }
      }
    },
      // doclen is request-targetable directly (doc-bucketed layout) —
      // and it runs even when the deleted docs had zero tokens (they
      // have no postings, but they do have a doclen row and they do
      // count in n_docs/avgdl)
      () => forgetDoclen(s, root, delIds))
  }

  /** The doclen half of the forget: the request's doc buckets are the
    * only partitions touched; survivors replace them via dynamic
    * overwrite (all-deleted buckets drop), then the corpus constants
    * recount from the table — idempotent at every crash point. */
  private def forgetDoclen(s: SparkSession, root: String,
      delIds: DataFrame): Unit = {
    AtRest.sweepBuckets(s, s"$root/doclen", "doc_bucket",
      AtRest.docBucketsOf(delIds), delIds, Seq("doc_id"))
    recountConsts(s, root)
  }

  /** IR22 — FORGET EXECUTED AGAINST THE AT-REST POSTINGS INDEX: build
    * the full index (doclen doc-bucketed, like every build),
    * EXECUTE the c4/c6 delete request (the `% ${TextOps.ForgetMod}`
    * cohort) with the term-targeted sweep ([[forgetPostingsIndex]]),
    * and SERVE ir15's partition-pruned probe from what remains. The
    * oracle restates ir2's exhaustive scan over `documents` MINUS the
    * request — so the files must physically hold exactly the
    * survivors' postings, and the recounted df/avgdl must reproduce
    * the survivor corpus's score doubles bit-for-bit.
    *
    * 100 TB plan: the sweep's IO is the request's term buckets (reads)
    * + their survivors (writes) + the request's doc buckets of the
    * slim doclen table — never the standing index. A takedown batch
    * of B docs with V distinct terms touches ≤ min(V, TermBuckets)
    * postings partitions; cold buckets are never listed. This closes
    * the postings lifecycle's fifth verb (build / serve / append /
    * compact / FORGET) — the x17 tombstone path resolves deletes at
    * compaction time, this one at request time, the GDPR-shaped
    * variant where "gone" must mean gone from the files now. */
  def postingsForgetServe(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/irindex22"
    val docs = Tables.documents(s, dir)
    writePostingsIndex(s, root, docs)
    forgetPostingsIndex(s, root,
      docs.filter(col("doc_id") % TextOps.ForgetMod === TextOps.ForgetRem))
    serveFromIndex(s, root)
  }

  /** IR20 — TERM-AS-DATA SERVE FROM THE AT-REST INDEX: ir5's
    * multi-query workload (term triples arrive as ROWS, not
    * compile-time literals) served from ir15's written artifacts —
    * the DYNAMIC twin of ir15's static pruning. When terms are data,
    * no driver-side `term_bucket IN` literal exists at plan time; the
    * workload's distinct terms instead bucket ENGINE-SIDE
    * ([[termBucketCol]], the same tree the writer used) and broadcast
    * onto the BARE term_bucket partition attribute of both the
    * postings and the dictionary reads → dynamic partition pruning
    * lists only the workload's buckets (PlanContractSpec pins both
    * dynamicpruning filters). Scoring is [[serveQueryBatch]]
    * unchanged — the streaming twin's engine — against the probed
    * lists and stored stats, so the output is BIT-IDENTICAL to ir5's
    * in-memory form (oracle verbatim).
    *
    * 100 TB plan: a query workload of any size reads only its own
    * terms' bucket directories plus KB-scale metadata; absent terms
    * (df 0) simply miss the pruned dictionary. The write amortizes
    * across every workload until the next append — and the SAME
    * serve binds per micro-batch when queries stream. */
  def indexBatchServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = SimilarityOps.indexRoot(s, dir) + "/irindex20"
    writePostingsIndex(s, root, Tables.documents(s, dir))
    val queries = ServeQueries.toDF("query_id", "t1", "t2", "t3")
    val probeTerms = queries
      .select(explode(array(col("t1"), col("t2"), col("t3"))).as("p_tok"))
      .distinct()
      .withColumn("p_bucket", termBucketCol(col("p_tok")))
      // load-bearing selective predicate (x17's lesson): without a
      // visible comparison the PartitionPruning rule never inserts
      // the pruning subquery on either read
      .filter(col("p_bucket") >= 0)
    val probed = s.read.parquet(s"$root/postings")
      .join(broadcast(probeTerms),
        col("term_bucket") === col("p_bucket") && col("tok") === col("p_tok"))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
    val dict = s.read.parquet(s"$root/dict")
      .join(broadcast(probeTerms),
        col("term_bucket") === col("p_bucket") && col("tok") === col("p_tok"))
      .select(col("tok"), col("df"))
    val consts = s.read.parquet(s"$root/consts")
      .select(col("n_docs"), col("avgdl"))
    serveQueryBatch(queries, probed, dict, consts)
      .transform(Common.presented(_, col("query_id"), col("rank")))
  }

  /** The probe's static bucket list — computed driver-side from the
    * query terms alone, O(|terms|), corpus-independent. `n` is the
    * index's CURRENT bucket count (a re-bucketed index serves with
    * the new modulus — ir24). */
  private def probeBuckets(n: Int = TermBuckets): Seq[Int] =
    QueryTerms.map(termBucketOf(_, n)).distinct

  /** The one-row serving stats frame assembled from the AT-REST
    * dictionary + constants (df per probe term, N, avgdl) — the same
    * column names and value trees as [[statsRow]], so [[scoreCol]]
    * consumes it unchanged and the served scores are bit-identical. */
  private[graft] def storedStats(s: SparkSession, root: String,
      n: Int = TermBuckets): DataFrame = {
    val dfAggs = QueryTerms.map(t =>
      coalesce(max(when(col("tok") === t, col("df"))), lit(0L)).as(s"df_$t"))
    val dfs = s.read.parquet(s"$root/dict")
      .filter(col("term_bucket").isin(probeBuckets(n): _*) &&
        col("tok").isin(QueryTerms: _*))
      .agg(dfAggs.head, dfAggs.tail: _*)
    s.read.parquet(s"$root/consts").crossJoin(dfs)
  }

  /** The partition-pruned probe read: ONLY the query terms' bucket
    * directories are listed (static predicate — PlanContractSpec pins
    * the pruned file list, ly2's discipline), then the row filter
    * keeps the probed terms inside those buckets. */
  private def probedPostings(s: SparkSession, root: String,
      n: Int = TermBuckets): DataFrame =
    s.read.parquet(s"$root/postings")
      .filter(col("term_bucket").isin(probeBuckets(n): _*) &&
        col("tok").isin(QueryTerms: _*))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))

  /** IR15 — SERVE FROM THE AT-REST INDEX: the serving path ir4's
    * docstring promises, made physical. BUILD writes the term-bucketed
    * postings + dictionary + constants ([[writePostingsIndex]]); SERVE
    * reads exactly the probe's bucket partitions, pivots the probed
    * lists and scores with ir2's expression tree against the stored
    * metadata — NO document is touched at serve time, and the output
    * is BIT-IDENTICAL to ir2's exhaustive scan (the oracle is ir2's
    * SQL verbatim — the ir4/x11 path-substitution convention).
    *
    * 100 TB plan: the probe lists |terms| of [[TermBuckets]] bucket
    * directories (driver-side static predicate — no subquery, no
    * corpus scan, no planning-time size dependence); the pivot
    * shuffles only the probed terms' postings (df-bounded); the stats
    * row is a KB-scale metadata read. The build is one corpus pass —
    * amortized across every query until the next append (ir16). */
  def indexServe(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/irindex"
    writePostingsIndex(s, root, Tables.documents(s, dir))
    serveFromIndex(s, root)
  }

  /** ir15's serve body over any written index root — the one
    * authoritative at-rest serving tree (ir15/ir19 and the spec's
    * serve-unchanged pins all call it, so the shapes cannot drift). */
  private[graft] def serveFromIndex(s: SparkSession, root: String,
      n: Int = TermBuckets): DataFrame =
    rankedTopK(pivotProbed(probedPostings(s, root, n))
      .crossJoin(broadcast(storedStats(s, root, n)))
      .withColumn("score", scoreCol))

  /** IR16 — BLOCK-MAX SERVE FROM THE MAINTAINED INDEX: the standing
    * corpus (doc_id % 5 ≠ 0) builds the at-rest index, the incoming
    * batch (doc_id % 5 = 0) FOLDS IN through [[appendPostingsIndex]]
    * (postings append; block maxima merge by max/min; dictionary and
    * constants merge by integer addition — every merge associative,
    * so append == rebuild artifact-for-artifact, and RetrievalOpsSpec
    * pins the bit-equality of all three metadata tables against a
    * fresh full-corpus build). The serve is ir12's block-max pruning
    * run ENTIRELY from the stored artifacts: candidate pivot from the
    * partition-pruned postings, per-block upper bound
    * `Σ_t (tf_t>0 ? idf_t·tfPart(max_tf_{t,b}, min_dl_{t,b}/avgdl) : 0)`
    * from the stored maxima (elementwise ≥ every in-block contribution
    * — tfPart is increasing in tf, decreasing in dl, and IEEE
    * rounding is monotone), θ from the seed term's full scores (a
    * subset's K-th best never exceeds the global K-th best), strict
    * prune — output BIT-IDENTICAL to ir2's exhaustive scan (oracle =
    * ir2's SQL verbatim) while whole blocks below θ never reach the
    * ranking.
    *
    * 100 TB plan: at rest the bound evaluates per block BEFORE the
    * block's postings are decoded — the published order-of-magnitude
    * postings-IO cut — and the metadata stays fresh under append
    * without recomputation (max/min/sum folds), which is exactly what
    * the stats-dependent "store U_{t,b} directly" layout cannot do. */
  def blockmaxIndexServe(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/irindex16"
    val docs = Tables.documents(s, dir)
    writePostingsIndex(s, root,
      docs.filter(col("doc_id") % DedupOps.IncomingMod =!= 0))
    appendPostingsIndex(s, root,
      docs.filter(col("doc_id") % DedupOps.IncomingMod === 0))
    rankedTopK(blockmaxSurvivorsFrom(s, root))
  }

  /** The pruned candidate frame of the at-rest serve — split out so
    * RetrievalOpsSpec can measure that the stored-metadata prune
    * still bites (survivors ≪ candidates). */
  private[graft] def blockmaxSurvivorsFrom(s: SparkSession,
      root: String): DataFrame = {
    val stats = storedStats(s, root)
    var cand = pivotProbed(probedPostings(s, root))
      .withColumn("blk", expr(s"doc_id div $BlockSize"))
      .crossJoin(broadcast(stats))
    QueryTerms.foreach { t =>
      cand = cand.withColumn(s"c_$t",
        idfCol(col(s"df_$t"), col("n_docs")) *
          tfPart(col(s"tf_$t"), col("dl").cast("double") / col("avgdl")))
    }
    val scored = cand.withColumn("score",
      QueryTerms.map(t => col(s"c_$t")).reduce(_ + _))
    CacheScope.persist(scored) // two consumers: the θ subset and the survivors
    // per-(term, block) bound rows from the STORED maxima: idf and
    // avgdl attach at serve time, so the at-rest metadata never goes
    // stale when the corpus stats move under append
    val ubByTok = QueryTerms.foldRight(lit(null).cast("double")) { (t, els) =>
      when(col("tok") === t,
        idfCol(col(s"df_$t"), col("n_docs")) *
          tfPart(col("max_tf"), col("min_dl").cast("double") / col("avgdl")))
        .otherwise(els)
    }
    val meta = s.read.parquet(s"$root/blockmeta")
      .filter(col("term_bucket").isin(probeBuckets(): _*) &&
        col("tok").isin(QueryTerms: _*))
      .crossJoin(broadcast(stats))
      .select(col("tok"), col("blk"), ubByTok.as("ub"))
    CacheScope.persist(meta) // two consumers: the block pivot and the global maxima
    val mubAggs = QueryTerms.map(t =>
      max(when(col("tok") === t, col("ub"))).as(s"mub_$t"))
    val metaPivot = meta.groupBy(col("blk")).agg(mubAggs.head, mubAggs.tail: _*)
    // corpus-global per-term bounds — ONLY for the seed pick and θ
    // (ir11's rule: any subset's K-th best is a sound θ)
    val uAggs = QueryTerms.map(t =>
      coalesce(max(when(col("tok") === t, col("ub"))), lit(0.0d)).as(s"u_$t"))
    val u = meta.agg(uAggs.head, uAggs.tail: _*)
    val withU = scored.crossJoin(broadcast(u))
    val blockUb = QueryTerms
      .map(t => when(col(s"tf_$t") > 0, col(s"mub_$t")).otherwise(lit(0.0d)))
      .reduce(_ + _)
    withU.join(broadcast(metaPivot), Seq("blk"))
      .crossJoin(broadcast(thetaFrom(withU)))
      .filter(blockUb >= col("theta"))
      .select(survivorCols: _*)
  }

  /** IR17 — PHRASE SERVE FROM THE AT-REST POSITIONAL INDEX: the
    * physical half ir14's docstring promises, made real (the ir15
    * discipline applied to the positional lists). BUILD writes the
    * FULL-vocabulary positional postings (tok, doc_id, pos, dl) —
    * token volume ×1, one scan-bound explode — PARTITIONED BY
    * term_bucket and sorted (tok, doc_id, pos) within each file, so
    * the adjacency join streams over co-sorted lists at rest. SERVE
    * lists exactly the phrase's bucket directories (the static
    * driver-side predicate — PlanContractSpec pins the pruned file
    * list), filters to the two terms, and runs ir14's adjacency core
    * unchanged — NO text is touched, output BIT-IDENTICAL to ir6's
    * scan form, oracle verbatim.
    *
    * 100 TB plan: a phrase serve reads two df-bounded term partitions
    * instead of every token of every document; positions are per-doc
    * facts, so ir7's append discipline maintains the lists without
    * touching standing files. */
  def phraseAtRestServe(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/irindex17"
    writePositionalIndex(s, root, Tables.documents(s, dir))
    positionalServe(s, root)
  }

  /** The bucketed, file-ordered positional rows of a document frame —
    * build and append write the SAME shape, so the directory never
    * mixes field orders (the d23 lesson). */
  private def positionalRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), size(toks).as("dl"),
        posexplode(toks).as(Seq("pos", "tok")))
      .withColumn("term_bucket", termBucketCol(col("tok")))

  private[graft] def writePositionalIndex(s: SparkSession, root: String,
      docs: DataFrame): Unit =
    AtRest.land(s, s"$root/positional", "term_bucket", positionalRows(docs),
      "overwrite", positionalOrder)

  /** The promised per-file order of the positional lists. */
  private def positionalOrder: Seq[Column] =
    Seq(col("tok"), col("doc_id"), col("pos"))

  /** IR21's append core — ir17's promised maintenance ("positions are
    * per-doc facts, so ir7's append discipline maintains the lists
    * without touching standing files") made physical: the batch's
    * positional rows anti-join the standing lists' slim
    * (tok, doc_id, pos) key projection (exactly-once under retry) and
    * APPEND through [[AtRest.land]] (which pins the self-anti-join,
    * restores the build's column order and per-file (tok, doc_id, pos)
    * sort) — standing files are never rewritten, there is no
    * metadata to merge (positions carry no corpus-level stats), and
    * append == rebuild row-exactly by construction
    * (RetrievalOpsSpec pins it plus the untouched-file and
    * retried-append invariants). */
  private[graft] def appendPositionalIndex(s: SparkSession, root: String,
      batch: DataFrame): Unit =
    AtRest.land(s, s"$root/positional", "term_bucket",
      positionalRows(batch)
        .join(s.read.parquet(s"$root/positional")
            .select(col("tok"), col("doc_id"), col("pos")),
          Seq("tok", "doc_id", "pos"), "left_anti"),
      "append", positionalOrder)

  /** FORGET from the positional lists (ir23) — ir22's shape on the
    * ir17/ir21 layout: the targets derive from the REQUEST's own
    * tokens ([[positionalRows]] over the deleted docs — the build's
    * tree, so targeting and layout can never disagree), the touched
    * term buckets sweep through the shared verb, and the rewrite
    * re-asserts the promised per-file (tok, doc_id, pos) order via
    * `sortCols` (the ir21 FileFormatWriter lesson — a survivor
    * rewrite that lost the sort would silently break the streaming
    * adjacency merge). Positions carry no corpus-level stats, so
    * there is no metadata to subtract — the one-artifact forget.
    * Idempotent: a rerun's request re-derives the same targets and
    * re-stages the same survivors. */
  private[graft] def forgetPositionalIndex(s: SparkSession, root: String,
      deleted: DataFrame): Unit = {
    val delKeys = positionalRows(deleted)
      .select(col("doc_id"), col("term_bucket")).distinct()
      .localCheckpoint()
    val tBuckets = delKeys.select(col("term_bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    AtRest.sweepBuckets(s, s"$root/positional", "term_bucket", tBuckets,
      delKeys.select(col("doc_id")).distinct(), Seq("doc_id"),
      sortCols = positionalOrder)
    ()
  }

  /** IR23 — FORGET EXECUTED AGAINST THE AT-REST POSITIONAL LISTS:
    * build the full positional index, EXECUTE the c4/c6 delete cohort
    * ([[forgetPositionalIndex]] — targets from the request's tokens),
    * and serve ir17's phrase query from what remains. The oracle is
    * ir6's SQL over the SURVIVORS, so the files must hold exactly the
    * survivor lists — in their promised per-file order.
    *
    * 100 TB plan: a forget's IO is the deleted docs' term buckets
    * (request-content-bounded, the ir22 class); untouched buckets are
    * never listed, and the serve stays the two-bucket static read. */
  def phraseForgetServe(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/irindex23"
    val docs = Tables.documents(s, dir)
    writePositionalIndex(s, root, docs)
    forgetPositionalIndex(s, root,
      docs.filter(col("doc_id") % TextOps.ForgetMod === TextOps.ForgetRem))
    positionalServe(s, root)
  }

  /** ir17's serve half over any written positional root — shared by
    * ir17/ir21 and the spec pins. */
  private[graft] def positionalServe(s: SparkSession, root: String): DataFrame = {
    val (w1, w2) = Phrase
    val buckets = Seq(w1, w2).map(termBucketOf(_)).distinct
    phraseFromPositional(
      s.read.parquet(s"$root/positional")
        .filter(col("term_bucket").isin(buckets: _*) &&
          col("tok").isin(w1, w2))
        .select(col("doc_id"), col("dl"), col("pos"), col("tok")))
  }

  /** IR21 — MAINTAINED POSITIONAL SERVE: the standing corpus builds
    * the at-rest positional lists, the incoming batch FOLDS IN
    * through [[appendPositionalIndex]], and ir17's partition-pruned
    * phrase serve runs from the maintained files — output
    * BIT-IDENTICAL to ir6's scan form (oracle verbatim), proving the
    * positional tier's build/append lifecycle the way ir16 proves the
    * postings tier's.
    *
    * 100 TB plan: a daily ingest appends only its own token volume
    * into the touched buckets (standing lists never rewritten — the
    * per-doc-fact property), each appended file is internally
    * (tok, doc_id, pos)-sorted so the adjacency merge stays
    * per-file streaming, and ir19's bucket-scoped compaction
    * bin-packs the accretion on the same layout. */
  def phraseMaintainedServe(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/irindex21"
    val docs = Tables.documents(s, dir)
    writePositionalIndex(s, root,
      docs.filter(col("doc_id") % DedupOps.IncomingMod =!= 0))
    appendPositionalIndex(s, root,
      docs.filter(col("doc_id") % DedupOps.IncomingMod === 0))
    positionalServe(s, root)
  }

  /** IR18 — CHAMPION SERVE FROM THE AT-REST INDEX: ir13's
    * inexact-but-hard-bounded tier run ENTIRELY from ir15's written
    * artifacts — the "tf-ordered PREFIX of each term's at-rest
    * postings bucket" ir13's docstring names, selected from the
    * partition-pruned probe read (integer tf ranking, doc-id
    * tie-break — the same tree as ir13's in-query selection, so the
    * candidate set is identical). The exhaustive audit arm (the
    * exact_rank column) is served from the SAME probed pivot — the
    * any-match candidate set IS the index's matched docs, so nothing
    * outside the probe's buckets is ever read. Output BIT-IDENTICAL
    * to ir13, oracle verbatim.
    *
    * 100 TB plan: a champion serve reads ≤ M·|terms| postings rows
    * from |terms| bucket directories — at rest the prefix is its own
    * sub-file and even the bucket's tail stays unread; the audit arm
    * exists per release, not per query (ir13's note). */
  def championAtRestServe(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/irindex18"
    writePostingsIndex(s, root, Tables.documents(s, dir))
    championServeFrom(s, root)
  }

  /** ir18's serve half over any written postings root — extracted so
    * ForgetIndexSpec can pin the champion tier's forget consistency:
    * the champion prefix is a DERIVED view of the postings, so ir22's
    * sweep must leave this serve equal to a fresh build over the
    * survivors (the matrix's "forgetting there forgets here" claim,
    * exercised instead of asserted). */
  private[graft] def championServeFrom(s: SparkSession,
      root: String): DataFrame = {
    val p = probedPostings(s, root)
    CacheScope.persist(p) // three consumers: champions, pivot, (via scored) audit
    val scored = pivotProbed(p)
      .crossJoin(broadcast(storedStats(s, root)))
      .withColumn("score", scoreCol)
    CacheScope.persist(scored) // two consumers: exhaustive ranks + champion scoring
    val exW = Window.orderBy(col("score").desc, col("doc_id"))
    val ex = scored.orderBy(col("score").desc, col("doc_id")).limit(TopK)
      .withColumn("exact_rank", row_number().over(exW))
      .select(col("doc_id"), col("exact_rank"))
    val wt = Window.partitionBy(col("tok"))
      .orderBy(col("tf").desc, col("doc_id"))
    val cand = p.withColumn("crank", row_number().over(wt))
      .filter(col("crank") <= ChampM)
      .select(col("doc_id")).distinct()
    val ctop = scored.join(broadcast(cand), Seq("doc_id"))
      .orderBy(col("score").desc, col("doc_id")).limit(TopK)
      .withColumn("rank", row_number().over(exW))
    ctop.join(broadcast(ex), Seq("doc_id"), "left_outer")
      .select(Seq(col("rank"), col("doc_id"), col("score"), col("dl")) ++
        QueryTerms.map(t => col(s"tf_$t")) :+
        coalesce(col("exact_rank"), lit(0)).cast("int").as("exact_rank"): _*)
      .transform(Common.presented(_, col("rank")))
  }

  /** Serve the fixed probe query from an EXTERNALLY maintained stats
    * row (ir7's at-rest metadata, or [[PostingsMonitor]]'s standing
    * state) — the candidates pivot and the score tree are the ir4 path
    * unchanged, so correct metadata in ⇒ ir2's exact output out. */
  private[graft] def serveWithStats(docs: DataFrame, stats: DataFrame): DataFrame =
    rankedTopK(matchedPivot(docs).crossJoin(broadcast(stats))
      .withColumn("score", scoreCol))

  /** Streaming maintenance twin of ir7 (the KmvVocabMonitor dataflow):
    * documents stream in and the dictionary/statistics metadata folds
    * associatively into a DRIVER-held standing state — df/cf per probe
    * term, N, and total tokens are all sums over disjoint doc sets, so
    * the standing state after ANY arrival order / micro-batch cut
    * equals [[statsRow]] over the union, and a serve against the
    * streamed metadata is bit-identical to the batch build
    * (StreamingRetrievalSpec fuzzes both). Each micro-batch contributes
    * one distributed one-row aggregate; only ~8 longs cross to the
    * driver per batch — the ap3/ap4 sketch-through-driver shape. The
    * observe return is the drift telemetry: per-term df before/after,
    * the signal that a crawl source stopped (or started) feeding a
    * topic. */
  final class PostingsMonitor {
    private var nDocs = 0L
    private var totalTokens = 0L
    private var dfm = Map.empty[String, Long].withDefaultValue(0L)
    private var cfm = Map.empty[String, Long].withDefaultValue(0L)

    def observe(batch: DataFrame): Seq[(String, Long, Long)] = {
      val r = statsRow(perDoc(batch)).collect()(0)
      def longAt(name: String): Long = {
        val i = r.fieldIndex(name)
        if (r.isNullAt(i)) 0L else r.getLong(i) // empty batch: sums are null
      }
      val before = QueryTerms.map(t => (t, dfm(t)))
      nDocs += longAt("n_docs")
      totalTokens += longAt("total_tokens")
      QueryTerms.foreach { t =>
        dfm += t -> (dfm(t) + longAt(s"df_$t"))
        cfm += t -> (cfm(t) + longAt(s"cf_$t"))
      }
      before.map { case (t, b) => (t, b, dfm(t)) }
    }

    def standing: (Long, Long, Map[String, Long], Map[String, Long]) =
      (nDocs, totalTokens, dfm.toMap, cfm.toMap)

    /** The standing metadata as the one-row stats frame [[scoreCol]]
      * consumes — avgdl recomputed from the merged integers with
      * [[statsRow]]'s exact tree, so serving from it cannot drift. */
    def statsFrame(s: SparkSession): DataFrame = {
      import s.implicits._
      QueryTerms.foldLeft(
          Seq((nDocs, totalTokens)).toDF("n_docs", "total_tokens")) {
          (d, t) => d.withColumn(s"df_$t", lit(dfm(t)))
            .withColumn(s"cf_$t", lit(cfm(t)))
        }
        .withColumn("avgdl", col("total_tokens").cast("double") / col("n_docs"))
    }
  }

  /** ir8: expansion candidates kept per probe term. */
  val ExpandK = 5

  /** IR8 — co-occurrence query expansion: for each probe term, the
    * [[ExpandK]] vocabulary terms with the highest document-level LIFT
    * `N·c(a,b) / (c(a)·c(b))` — the PMI core WITHOUT the log (log is
    * monotone, so per-term ranking is identical and no libm enters the
    * compared output; the raw counts ship so a consumer can apply any
    * PMI variant downstream — the tx12/ir2 discipline). Presence is
    * per-doc DISTINCT (a term mentioned twice is still one
    * co-occurrence), so every count is a document count and lift is one
    * division over exact integers.
    *
    * Plan/scale: the pair space is PROBE-SIDED — one side of the
    * doc-keyed join is only the query's terms (3·docs rows max), never
    * vocab² — then one (term, other) aggregate whose output is bounded
    * by probe × vocab; the dictionary joins and the N row broadcast.
    * At 100 TB the doc-keyed join shuffles presence once; the window
    * runs over the collapsed pair counts (WindowGroupLimit prunes to
    * K per term map-side). */
  def termCooccur(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the presence collapse feeds three consumers (dictionary + both
    // pair-join sides) — persist it, the cachedCounts/ir5 convention
    val pres = presenceOf(docs)
    val dfAll = presenceDf(pres)
    val nRow = docs.agg(count(lit(1)).as("n_docs"))
    val pairs = pres.filter(col("tok").isin(QueryTerms: _*))
      .select(col("doc_id"), col("tok").as("term"))
      .join(pres.select(col("doc_id"), col("tok").as("other")), Seq("doc_id"))
      .filter(col("other") =!= col("term"))
      .groupBy(col("term"), col("other"))
      .agg(count(lit(1)).as("c_ab"))
    val w = Window.partitionBy(col("term"))
      .orderBy(col("lift").desc, col("other"))
    pairs
      .join(broadcast(dfAll.select(col("tok").as("term"), col("df").as("df_term"))),
        Seq("term"))
      .join(broadcast(dfAll.select(col("tok").as("other"), col("df").as("df_other"))),
        Seq("other"))
      .crossJoin(broadcast(nRow))
      // products run in DOUBLE: each long operand converts exactly below
      // 2^53 (true through ~10^15 docs) and the IEEE product/division
      // round identically on both engines — the i64 form would raise
      // ARITHMETIC_OVERFLOW at head-term df × N ≈ 10^19 on a 100 TB
      // corpus (ANSI mode; DuckDB errors the same way)
      .withColumn("lift",
        (col("n_docs").cast("double") * col("c_ab")) /
          (col("df_term").cast("double") * col("df_other")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ExpandK)
      .select(col("term"), col("rank"), col("other"), col("c_ab"),
        col("df_term"), col("df_other"), col("lift"))
      .transform(Common.presented(_, col("term"), col("rank")))
  }

  /** ir9's passage window length (tokens). */
  val PassageLen = 16

  /** IR9 — passage extraction (the snippet generator behind every
    * search result): per document, the [[PassageLen]]-token window
    * holding the MOST query-term occurrences, then the [[TopK]]
    * documents by that best-window score — positional retrieval one
    * level below ir6's adjacency. ONLY query-term positions explode
    * (the `isin` filter runs before the offset fan-out), so the
    * candidate space is matches×[[PassageLen]], never tokens×windows:
    * a match at position p lands in windows starting at p−off for
    * off ∈ [0, PassageLen) — integer counts throughout, best window
    * per doc by (hits desc, earliest start), WindowGroupLimit prunes
    * the per-doc rank map-side. */
  def passageExtract(s: SparkSession, dir: String): DataFrame = {
    val matches = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
      .filter(col("tok").isin(QueryTerms: _*))
    CacheScope.persist(matches) // feeds the window fan-out AND the per-doc totals
    val best = matches
      .select(col("doc_id"), col("pos"),
        explode(sequence(lit(0), lit(PassageLen - 1))).as("off"))
      .withColumn("wstart", col("pos") - col("off"))
      .filter(col("wstart") >= 0)
      .groupBy(col("doc_id"), col("wstart"))
      .agg(count(lit(1)).as("hits"))
      .withColumn("brn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("hits").desc, col("wstart"))))
      .filter(col("brn") === 1)
    val totals = matches.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
    best.join(totals, Seq("doc_id"))
      .orderBy(col("hits").desc, col("doc_id")).limit(TopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("hits").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"),
        col("wstart").cast("int").as("passage_start"),
        col("hits"), col("n_matches"))
      .transform(Common.presented(_, col("rank")))
  }

  /** The per-doc DISTINCT term presence (doc_id, tok) — ONE definition
    * shared by ir8's co-occurrence expansion and ir10's centrality
    * graph (their documented graph identity rests on this being the
    * same collapse, and so does the cross-query cache hit), persisted
    * because every caller reads it 2-3 times. */
  private def presenceOf(docs: DataFrame): DataFrame = {
    val pres = docs.select(col("doc_id"),
      explode(array_distinct(toks)).as("tok"))
    CacheScope.persist(pres)
    pres
  }

  /** The (tok, df) dictionary of a presence frame — ir8/ir10's twin of
    * [[dictFrom]] (which counts over tf postings, same values). */
  private def presenceDf(pres: DataFrame): DataFrame =
    pres.groupBy(col("tok")).agg(count(lit(1)).as("df"))

  /** ir10's graph bounds: node set size and the co-occurrence edge
    * threshold. */
  val CentralTermK = 40
  val CoocMin = 5

  /** IR10 — term-graph Katz centrality, integer-exact: the
    * query-expansion graph ir8 probes (terms linked when they co-occur
    * in ≥ [[CoocMin]] docs), restricted to the top-[[CentralTermK]]
    * vocabulary terms by df, ranked by 3-hop Katz centrality with
    * attenuation β = 1/4 — "which terms sit at the center of the
    * corpus's co-occurrence structure" (the expansion-seed picker; the
    * graph twin of d6's connected components).
    *
    * Determinism is the whole design: β = 1/4 makes
    * `Σ_k β^k·paths_k(v)` a RATIONAL with denominator 4³, so the
    * compared surface is the integer numerator
    * `16·hop1 + 4·hop2 + hop3` over exact integer path counts
    * (binary adjacency ⇒ hop_k ≤ K^k = 64 000 — no overflow at any
    * corpus size) — a PageRank-style centrality with NO float
    * division, no libm, nothing order-dependent (the tx12/ir2
    * discipline applied to iterative graph algebra).
    *
    * Plan/scale: node selection is one TakeOrdered over the
    * dictionary; the presence self-join is bounded PER DOC by the
    * broadcast node set (≤ K² pair rows per doc, collapsed by a
    * map-side-partial aggregate); the three hop steps are joins of a
    * ≤K²-row edge list against ≤K-row vectors — broadcast both sides,
    * corpus untouched after the presence collapse. At 100 TB the graph
    * build reads the persisted presence/postings table; the iteration
    * cost is independent of corpus size. */
  def termCentrality(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pres = presenceOf(docs)
    val dfAll = presenceDf(pres)
    val nodes = dfAll.orderBy(col("df").desc, col("tok")).limit(CentralTermK)
    CacheScope.persist(nodes) // ≤K rows, read by the filter, the seed and the output
    val np = pres.join(broadcast(nodes.select(col("tok"))), Seq("tok"))
      .select(col("doc_id"), col("tok"))
    val edges = np.select(col("doc_id"), col("tok").as("src"))
      .join(np.select(col("doc_id"), col("tok").as("dst")), Seq("doc_id"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("cooc"))
      .filter(col("cooc") >= CoocMin)
      .select(col("src"), col("dst"))
    CacheScope.persist(edges) // ≤K² rows, read by all three hop joins
    def hop(prev: DataFrame, out: String): DataFrame =
      edges.join(broadcast(prev.withColumnRenamed("tok", "src")), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("w")).as(out))
        .select(col("dst").as("tok"), col(out).as("w"))
    val h1 = hop(nodes.select(col("tok"), lit(1L).as("w")), "h1")
    val h2 = hop(h1, "h2")
    val h3 = hop(h2, "h3")
    def named(h: DataFrame, n: String) =
      h.select(col("tok"), col("w").as(n))
    val scored = nodes.select(col("tok"), col("df"))
      .join(broadcast(named(h1, "hop1")), Seq("tok"), "left")
      .join(broadcast(named(h2, "hop2")), Seq("tok"), "left")
      .join(broadcast(named(h3, "hop3")), Seq("tok"), "left")
      .na.fill(0L, Seq("hop1", "hop2", "hop3"))
      .withColumn("katz_num",
        lit(16L) * col("hop1") + lit(4L) * col("hop2") + col("hop3"))
    val w = Window.orderBy(col("katz_num").desc, col("tok"))
    scored
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("tok").as("term"), col("df"),
        col("hop1"), col("hop2"), col("hop3"), col("katz_num"))
      .transform(Common.presented(_, col("rank")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ir10_term_centrality" -> (termCentrality _),
    "ir9_passage" -> (passageExtract _),
    "ir8_term_cooccur" -> (termCooccur _),
    "ir1_term_stats" -> (termStats _),
    "ir2_bm25_topk" -> (bm25TopK _),
    "ir11_maxscore" -> (maxscoreTopK _),
    "ir12_blockmax" -> (blockmaxTopK _),
    "ir13_champion" -> (championTopK _),
    "ir14_phrase_index" -> (phraseIndexServe _),
    "ir15_index_serve" -> (indexServe _),
    "ir16_blockmax_index" -> (blockmaxIndexServe _),
    "ir19_postings_compact" -> (compactedIndexServe _),
    "ir24_index_rebucket" -> (indexRebucket _),
    "ir22_postings_forget" -> (postingsForgetServe _),
    "ir17_phrase_at_rest" -> (phraseAtRestServe _),
    "ir21_phrase_maintained" -> (phraseMaintainedServe _),
    "ir23_phrase_forget" -> (phraseForgetServe _),
    "ir18_champion_at_rest" -> (championAtRestServe _),
    "ir3_hybrid_rrf" -> (hybridRrf _),
    "ir4_inverted_serve" -> (invertedServe _),
    "ir5_batch_serve" -> (batchServe _),
    "ir20_index_batch_serve" -> (indexBatchServe _),
    "ir6_phrase" -> (phraseSearch _),
    "ir7_postings_append" -> (postingsAppend _))

  // ----------------------------- oracle SQL -----------------------------
  // Every float node replicated from the Spark trees above: integer
  // operands, explicit CASTs (DuckDB numeric literals are DECIMAL, so
  // constants go through CAST(… AS DOUBLE) to land on the same doubles).

  private def toksSql = tokensSql("text")

  private def tfSql(t: String) =
    s"CAST(len(list_filter($toksSql, t -> t = '$t')) AS INT)"

  /** The per-doc projection CTE — dl + tf per query term. */
  /** The per-doc projection over any document relation — `rel` is
    * `documents` for the scan-path oracles and the survivor subquery
    * for ir22's post-forget oracle. */
  private def dSqlFrom(rel: String) =
    s"""SELECT doc_id, CAST(len($toksSql) AS INT) AS dl,
       |${QueryTerms.map(t => s"       ${tfSql(t)} AS tf_$t").mkString(",\n")}
       |FROM $rel""".stripMargin

  private def dSql = dSqlFrom("documents")

  /** The one-row stats CTE pair (s → s2 adds avgdl — DuckDB can't
    * reference a same-SELECT alias). */
  private def statsSql =
    s"""s AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens,
       |${QueryTerms.map(t =>
          s"       CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t,\n" +
          s"       CAST(sum(tf_$t) AS BIGINT) AS cf_$t").mkString(",\n")}
       |      FROM d),
       |s2 AS (SELECT *, CAST(total_tokens AS DOUBLE) / n_docs AS avgdl FROM s)""".stripMargin

  private def idfSql(dfc: String) =
    s"(CAST((n_docs - $dfc) * 2 + 1 AS DOUBLE) / ($dfc * 2 + 1))"

  private def tfPartSql(tf: String) =
    s"(CAST($tf * 22 AS DOUBLE) / (CAST($tf * 10 + 3 AS DOUBLE) + " +
      s"CAST(9 AS DOUBLE) * (CAST(dl AS DOUBLE) / avgdl)))"

  private def scoreSql: String =
    QueryTerms.map(t => s"${idfSql(s"df_$t")} * ${tfPartSql(s"tf_$t")}")
      .mkString(" + ")

  private def anyMatchSql: String =
    QueryTerms.map(t => s"tf_$t").mkString(" + ") + " > 0"

  /** Shared ir2/ir4 tail: scored → top-K → rank. `from` supplies the
    * candidate rows (scan path: d; index path: m). */
  private def rankedSql(from: String, extraWhere: String = "") =
    s"""scored AS (SELECT doc_id, dl, ${QueryTerms.map(t => s"tf_$t").mkString(", ")},
       |             ($scoreSql) AS score
       |           FROM $from, s2 WHERE $anyMatchSql$extraWhere),
       |top AS (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT $TopK)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
       |       doc_id, score, dl, ${QueryTerms.map(t => s"tf_$t").mkString(", ")}
       |FROM top ORDER BY rank""".stripMargin

  /** ir13's twin — ONE definition for the in-query champion serve
    * (ir13) and the at-rest one (ir18), which is bit-identical. */
  private lazy val championOracleSql: String =
    s"""WITH d AS ($dSql),
       |$statsSql,
       |scored AS (SELECT doc_id, dl, ${QueryTerms.map(t => s"tf_$t").mkString(", ")},
       |             ($scoreSql) AS score
       |           FROM d, s2 WHERE $anyMatchSql),
       |ex AS (SELECT doc_id,
       |              CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS exact_rank
       |       FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT $TopK)),
       |cand AS (
       |${QueryTerms.map(t =>
          s"  SELECT doc_id FROM d WHERE tf_$t > 0\n" +
          s"  QUALIFY row_number() OVER (ORDER BY tf_$t DESC, doc_id) <= $ChampM")
          .mkString("\n  UNION\n")}),
       |ct AS (SELECT scored.* FROM scored JOIN cand USING (doc_id)
       |       ORDER BY score DESC, doc_id LIMIT $TopK)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, ct.doc_id) AS INT) AS rank,
       |       ct.doc_id, score, dl, ${QueryTerms.map(t => s"tf_$t").mkString(", ")},
       |       CAST(coalesce(ex.exact_rank, 0) AS INT) AS exact_rank
       |FROM ct LEFT JOIN ex ON ex.doc_id = ct.doc_id
       |ORDER BY rank""".stripMargin

  /** ir6's twin — ONE definition for the scan form (ir6), the
    * positional-index serves (ir14/ir17/ir21, over `documents`) and
    * the post-forget serve (ir23, over the survivor relation). */
  private def phraseOracleFrom(rel: String): String = {
    val (w1, w2) = Phrase
    s"""WITH d AS (SELECT doc_id, CAST(len($toksSql) AS INT) AS dl,
       |             CAST(len(list_filter(list_zip($toksSql, ($toksSql)[2:]),
       |               s -> s[1] = '$w1' AND s[2] = '$w2')) AS INT) AS phrase_tf,
       |             ${tfSql(w1)} AS tf_$w1,
       |             ${tfSql(w2)} AS tf_$w2
       |           FROM $rel),
       |f AS (SELECT *,
       |             CAST(phrase_tf AS DOUBLE) / least(tf_$w1, tf_$w2) AS anchor_ratio
       |      FROM d WHERE phrase_tf > 0),
       |top AS (SELECT * FROM f
       |        ORDER BY phrase_tf DESC, anchor_ratio DESC, doc_id LIMIT $TopK)
       |SELECT CAST(row_number() OVER (ORDER BY phrase_tf DESC, anchor_ratio DESC, doc_id) AS INT) AS rank,
       |       doc_id, phrase_tf, tf_$w1, tf_$w2, dl, anchor_ratio
       |FROM top ORDER BY rank""".stripMargin
  }

  private lazy val phraseOracleSql: String = phraseOracleFrom("documents")

  private val oraclesBase: Map[String, String] = Map(
    "ir10_term_centrality" ->
      s"""WITH pres AS (SELECT DISTINCT doc_id, tok
         |              FROM (SELECT doc_id, unnest($toksSql) AS tok
         |                    FROM documents)),
         |dfall AS (SELECT tok, count(*) AS df FROM pres GROUP BY tok),
         |nodes AS (SELECT tok, df FROM dfall ORDER BY df DESC, tok
         |          LIMIT $CentralTermK),
         |np AS (SELECT doc_id, tok FROM pres
         |       WHERE tok IN (SELECT tok FROM nodes)),
         |edges AS (SELECT a.tok AS src, b.tok AS dst
         |          FROM np a JOIN np b USING (doc_id)
         |          WHERE a.tok <> b.tok
         |          GROUP BY a.tok, b.tok HAVING count(*) >= $CoocMin),
         |h1 AS (SELECT dst AS tok, CAST(count(*) AS BIGINT) AS w
         |       FROM edges GROUP BY dst),
         |h2 AS (SELECT e.dst AS tok, CAST(sum(h1.w) AS BIGINT) AS w
         |       FROM edges e JOIN h1 ON h1.tok = e.src GROUP BY e.dst),
         |h3 AS (SELECT e.dst AS tok, CAST(sum(h2.w) AS BIGINT) AS w
         |       FROM edges e JOIN h2 ON h2.tok = e.src GROUP BY e.dst),
         |sc AS (SELECT n.tok, n.df,
         |              CAST(coalesce(h1.w, 0) AS BIGINT) AS hop1,
         |              CAST(coalesce(h2.w, 0) AS BIGINT) AS hop2,
         |              CAST(coalesce(h3.w, 0) AS BIGINT) AS hop3
         |       FROM nodes n
         |       LEFT JOIN h1 ON h1.tok = n.tok
         |       LEFT JOIN h2 ON h2.tok = n.tok
         |       LEFT JOIN h3 ON h3.tok = n.tok)
         |SELECT CAST(row_number() OVER (ORDER BY 16 * hop1 + 4 * hop2 + hop3 DESC,
         |                              tok) AS INT) AS rank,
         |       tok AS term, df, hop1, hop2, hop3,
         |       CAST(16 * hop1 + 4 * hop2 + hop3 AS BIGINT) AS katz_num
         |FROM sc ORDER BY rank""".stripMargin,
    "ir9_passage" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS l FROM documents),
         |p AS (SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, l[u.i] AS tok
         |      FROM t, unnest(range(1, len(l) + 1)) AS u(i)),
         |m AS (SELECT doc_id, pos FROM p
         |      WHERE tok IN (${QueryTerms.map(t => s"'$t'").mkString(", ")})),
         |wins AS (SELECT doc_id, pos - o.off AS wstart, count(*) AS hits
         |         FROM m CROSS JOIN
         |           (SELECT CAST(unnest(range($PassageLen)) AS INT) AS off) o
         |         WHERE pos - o.off >= 0
         |         GROUP BY doc_id, pos - o.off),
         |best AS (SELECT doc_id, wstart, hits FROM wins
         |         QUALIFY row_number() OVER (PARTITION BY doc_id
         |                                    ORDER BY hits DESC, wstart) = 1),
         |totals AS (SELECT doc_id, count(*) AS n_matches FROM m GROUP BY doc_id),
         |top AS (SELECT best.doc_id, wstart, hits, n_matches
         |        FROM best JOIN totals ON totals.doc_id = best.doc_id
         |        ORDER BY hits DESC, best.doc_id LIMIT $TopK)
         |SELECT CAST(row_number() OVER (ORDER BY hits DESC, doc_id) AS INT) AS rank,
         |       doc_id, CAST(wstart AS INT) AS passage_start, hits, n_matches
         |FROM top ORDER BY rank""".stripMargin,
    "ir8_term_cooccur" ->
      s"""WITH pres AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok
         |              FROM documents),
         |dfall AS (SELECT tok, count(*) AS df FROM pres GROUP BY tok),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |pairs AS (SELECT a.tok AS term, b.tok AS other, count(*) AS c_ab
         |          FROM pres a JOIN pres b ON a.doc_id = b.doc_id AND b.tok <> a.tok
         |          WHERE a.tok IN (${QueryTerms.map(t => s"'$t'").mkString(", ")})
         |          GROUP BY a.tok, b.tok),
         |f AS (SELECT term, other, c_ab, da.df AS df_term, db.df AS df_other,
         |             (CAST(n_docs AS DOUBLE) * c_ab)
         |               / (CAST(da.df AS DOUBLE) * db.df) AS lift
         |      FROM pairs JOIN dfall da ON da.tok = term
         |                 JOIN dfall db ON db.tok = other, n)
         |SELECT term,
         |       CAST(row_number() OVER (PARTITION BY term ORDER BY lift DESC, other) AS INT) AS rank,
         |       other, c_ab, df_term, df_other, lift
         |FROM f
         |QUALIFY rank <= $ExpandK
         |ORDER BY term, rank""".stripMargin,
    "ir1_term_stats" ->
      s"""WITH d AS ($dSql),
         |$statsSql
         |${QueryTerms.map(t =>
            s"SELECT '$t' AS term, df_$t AS df, cf_$t AS cf, n_docs, total_tokens, avgdl,\n" +
            s"       ${idfSql(s"df_$t")} AS idf FROM s2").mkString("\nUNION ALL\n")}
         |ORDER BY term""".stripMargin,
    "ir2_bm25_topk" ->
      s"""WITH d AS ($dSql),
         |$statsSql,
         |${rankedSql("d")}""".stripMargin,
    // ir11's oracle IS ir2's: MaxScore pruning provably returns the
    // exhaustive top-k (the oracle states the invariant, the program
    // takes the pruned path)
    "ir11_maxscore" ->
      s"""WITH d AS ($dSql),
         |$statsSql,
         |${rankedSql("d")}""".stripMargin,
    // ir12's oracle IS ir2's too: block-max pruning is provably
    // lossless (tighter bounds, same theta) — the oracle states the
    // invariant, the program takes the block-pruned path
    "ir12_blockmax" ->
      s"""WITH d AS ($dSql),
         |$statsSql,
         |${rankedSql("d")}""".stripMargin,
    // ir15 serves ir2's exact result from the at-rest term-bucketed
    // index — the oracle is ir2's SQL verbatim (the x11/ir4
    // path-substitution convention: the index write/read is Spark
    // plumbing the oracle has no analog for)
    "ir15_index_serve" ->
      s"""WITH d AS ($dSql),
         |$statsSql,
         |${rankedSql("d")}""".stripMargin,
    // ir16: build∘append∘block-max-pruned-serve == exhaustive scan —
    // the pruning is provably lossless (stored maxima dominate every
    // in-block contribution) and the metadata merges associatively,
    // so the oracle states the invariant (ir2's SQL verbatim) and the
    // program takes the maintained at-rest path
    "ir16_blockmax_index" ->
      s"""WITH d AS ($dSql),
         |$statsSql,
         |${rankedSql("d")}""".stripMargin,
    // ir19: compaction is pure layout — build∘append∘compact∘serve
    // returns exactly what ir15's serve returns, which is ir2's scan
    // (oracle verbatim; the file-set invariants live in
    // RetrievalOpsSpec where SQL cannot state them)
    "ir19_postings_compact" ->
      s"""WITH d AS ($dSql),
         |$statsSql,
         |${rankedSql("d")}""".stripMargin,
    // ir22: build∘forget∘serve == ir2's scan over the SURVIVORS — the
    // oracle is ir2's SQL with the request's cohort subtracted at the
    // source, so the at-rest files must hold exactly the survivor
    // postings AND the recounted stats must reproduce the survivor
    // corpus's score doubles (the c6 executed-delete convention on
    // the term-bucketed layout)
    "ir22_postings_forget" ->
      s"""WITH d AS (${dSqlFrom(s"(SELECT * FROM documents WHERE doc_id % ${TextOps.ForgetMod} <> ${TextOps.ForgetRem})")}),
         |$statsSql,
         |${rankedSql("d")}""".stripMargin,
    // ir13: champion selection is integer tf ranking per term (UNION
    // dedups the candidate ids); both arms share the one scored CTE,
    // so score doubles are identical node-for-node with ir2's
    "ir13_champion" -> championOracleSql,
    // ir17 serves ir6's exact result from the at-rest positional
    // lists; ir18 serves ir13's from the at-rest postings index — the
    // oracles are the scan forms' SQL verbatim (the ir4/x11/ir15
    // path-substitution convention)
    "ir17_phrase_at_rest" -> phraseOracleSql,
    // ir21: build∘append∘serve == ir6's scan (positions are per-doc
    // facts — the append adds rows, never changes one), oracle verbatim
    "ir21_phrase_maintained" -> phraseOracleSql,
    // ir23: build∘forget∘serve == ir6's scan over the SURVIVORS (the
    // ir22 convergence invariant on the positional layout — and the
    // files must still hold their promised per-file sort, which the
    // spec pins where SQL cannot)
    "ir23_phrase_forget" -> phraseOracleFrom(
      s"(SELECT * FROM documents WHERE doc_id % ${TextOps.ForgetMod} <> ${TextOps.ForgetRem})"),
    "ir18_champion_at_rest" -> championOracleSql,
    // ir7's oracle IS ir2's: append∘serve == build-over-union∘serve
    // (the x19 associativity convention — the oracle states the
    // invariant, the Spark program takes the incremental path)
    "ir7_postings_append" ->
      s"""WITH d AS ($dSql),
         |$statsSql,
         |${rankedSql("d")}""".stripMargin,
    "ir4_inverted_serve" ->
      s"""WITH d AS ($dSql),
         |$statsSql,
         |ex AS (SELECT doc_id, CAST(len($toksSql) AS INT) AS dl,
         |              unnest($toksSql) AS tok
         |       FROM documents),
         |p AS (SELECT tok, doc_id, CAST(count(*) AS INT) AS tf, max(dl) AS dl
         |      FROM ex WHERE tok IN (${QueryTerms.map(t => s"'$t'").mkString(", ")})
         |      GROUP BY tok, doc_id),
         |m AS (SELECT doc_id, max(dl) AS dl,
         |${QueryTerms.map(t =>
            s"       CAST(coalesce(max(CASE WHEN tok = '$t' THEN tf END), 0) AS INT) AS tf_$t")
            .mkString(",\n")}
         |      FROM p GROUP BY doc_id),
         |${rankedSql("m")}""".stripMargin,
    "ir5_batch_serve" -> {
      val valuesRows = ServeQueries.map { case (id, t1, t2, t3) =>
        s"(CAST($id AS BIGINT), '$t1', '$t2', '$t3')" }.mkString(",\n  ")
      def contribSql(i: Int) =
        s"""CASE WHEN coalesce(tf$i, 0) > 0 THEN
           |  (CAST((n_docs - qdf$i) * 2 + 1 AS DOUBLE) / (qdf$i * 2 + 1))
           |  * (CAST(coalesce(tf$i, 0) * 22 AS DOUBLE) /
           |     (CAST(coalesce(tf$i, 0) * 10 + 3 AS DOUBLE) +
           |      CAST(9 AS DOUBLE) * (CAST(coalesce(dl1, dl2, dl3) AS DOUBLE) / avgdl)))
           |ELSE CAST(0 AS DOUBLE) END""".stripMargin
      s"""WITH q AS (SELECT * FROM (VALUES
         |  $valuesRows) AS v(query_id, t1, t2, t3)),
         |ex AS (SELECT doc_id, CAST(len($toksSql) AS INT) AS dl,
         |              unnest($toksSql) AS tok
         |       FROM documents),
         |p AS (SELECT tok, doc_id, CAST(count(*) AS INT) AS tf, max(dl) AS dl
         |      FROM ex GROUP BY tok, doc_id),
         |dict AS (SELECT tok, count(*) AS df FROM p GROUP BY tok),
         |cs AS (SELECT count(*) AS n_docs,
         |              CAST(sum(CAST(len($toksSql) AS INT)) AS BIGINT) AS total_tokens
         |       FROM documents),
         |cs2 AS (SELECT n_docs, CAST(total_tokens AS DOUBLE) / n_docs AS avgdl FROM cs),
         |m1 AS (SELECT q.query_id, p.doc_id, p.dl AS dl1, p.tf AS tf1 FROM p JOIN q ON p.tok = q.t1),
         |m2 AS (SELECT q.query_id, p.doc_id, p.dl AS dl2, p.tf AS tf2 FROM p JOIN q ON p.tok = q.t2),
         |m3 AS (SELECT q.query_id, p.doc_id, p.dl AS dl3, p.tf AS tf3 FROM p JOIN q ON p.tok = q.t3),
         |merged AS (SELECT * FROM m1 FULL JOIN m2 USING (query_id, doc_id)
         |                          FULL JOIN m3 USING (query_id, doc_id)),
         |qd AS (SELECT q.query_id,
         |              coalesce(d1.df, CAST(0 AS BIGINT)) AS qdf1,
         |              coalesce(d2.df, CAST(0 AS BIGINT)) AS qdf2,
         |              coalesce(d3.df, CAST(0 AS BIGINT)) AS qdf3
         |       FROM q LEFT JOIN dict d1 ON d1.tok = q.t1
         |              LEFT JOIN dict d2 ON d2.tok = q.t2
         |              LEFT JOIN dict d3 ON d3.tok = q.t3),
         |f AS (SELECT merged.query_id, merged.doc_id,
         |             (${contribSql(1)}
         |              + ${contribSql(2)}
         |              + ${contribSql(3)}) AS score
         |      FROM merged JOIN qd ON qd.query_id = merged.query_id, cs2)
         |SELECT query_id,
         |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank,
         |       doc_id, score
         |FROM f
         |QUALIFY rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin
    },
    "ir6_phrase" -> phraseOracleSql,
    // ir14 serves ir6's exact result from the positional index — the
    // oracle is ir6's SQL verbatim (the ir4/x11 path-substitution
    // convention: the index layout is Spark plumbing the oracle has no
    // analog for)
    "ir14_phrase_index" -> phraseOracleSql,
    "ir3_hybrid_rrf" ->
      s"""WITH d AS ($dSql),
         |$statsSql,
         |scored AS (SELECT doc_id, ($scoreSql) AS score
         |           FROM d, s2 WHERE $anyMatchSql AND doc_id <> $HybridQueryDoc),
         |ttopb AS (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT $TopK),
         |ttop AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS r_text,
         |                score
         |         FROM ttopb),
         |c AS (SELECT vec_id, embedding AS v,
         |             sqrt(${dotDSql("embedding", "embedding")}) AS nrm
         |      FROM embeddings),
         |q AS (SELECT v AS qv, nrm AS qn FROM c WHERE vec_id = $HybridQueryDoc),
         |pv AS (SELECT c.vec_id AS doc_id, ${dotDSql("qv", "v")} / (qn * nrm) AS cos
         |       FROM c CROSS JOIN q WHERE c.vec_id <> $HybridQueryDoc),
         |vtopb AS (SELECT * FROM pv ORDER BY cos DESC, doc_id LIMIT $TopK),
         |vtop AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT) AS r_vec,
         |                cos
         |         FROM vtopb),
         |f AS (SELECT doc_id, r_text, r_vec, score, cos,
         |             (CASE WHEN r_text IS NULL THEN CAST(0 AS DOUBLE)
         |                   ELSE CAST(1 AS DOUBLE) / (r_text + $RrfK) END
         |              + CASE WHEN r_vec IS NULL THEN CAST(0 AS DOUBLE)
         |                     ELSE CAST(1 AS DOUBLE) / (r_vec + $RrfK) END) AS rrf
         |      FROM ttop FULL JOIN vtop USING (doc_id))
         |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank,
         |       doc_id, r_text, r_vec, score, cos, rrf
         |FROM f ORDER BY rank""".stripMargin)

  /** ir20 serves ir5's workload from the at-rest index — oracle
    * VERBATIM (the ir15 path-substitution convention). */
  val oracles: Map[String, String] =
    oraclesBase +
      ("ir20_index_batch_serve" -> oraclesBase("ir5_batch_serve")) +
      // ir24 re-buckets the index then serves ir2's query — oracle
      // VERBATIM (migration moves bytes between directories, never
      // rows out of the index; the ir15 path-substitution convention)
      ("ir24_index_rebucket" -> oraclesBase("ir2_bm25_topk"))
}
