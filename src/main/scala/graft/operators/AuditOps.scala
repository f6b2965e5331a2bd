package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Data-quality constraint audit — the "expectations" check every
  * production pipeline runs before trusting a snapshot (the reference
  * enforces the same classes inline while transforming: required
  * fields, api_type domain {10..14}, per-key uniqueness —
  * `/root/reference/src/main/java/com/thaihoc/process/request/InvoiceRequestTransformer.java:57-96`
  * rejects on exactly these. Here they're ALSO a standalone audit
  * operator, because at 100 TB you audit data you did not produce).
  *
  * One row per declared constraint: rows checked, violations, pass
  * flag. Plan shape: each table contributes ONE scan-bound aggregate
  * (all of a table's constraint counters are conditional sums fused
  * into a single partial agg — adding a constraint adds a column, not
  * a scan), the referential check is a broadcast-dim anti-join
  * collapsed to a count, and the per-constraint rows union at the end
  * (a union of 1-row aggregates — no shuffle anywhere but the dim
  * broadcast and each agg's own 1-row exchange). */
object AuditOps {

  private val one = (c: org.apache.spark.sql.Column) =>
    sum(when(c, 1L).otherwise(0L))

  /** The shared document length bucket (dq2 drift cells, dq3
    * quasi-identifier): `min(9, n_chars div 100)` — ONE definition so
    * the audit family's cell space can't desynchronize. */
  private[graft] def lenBucket: org.apache.spark.sql.Column =
    least(lit(9), expr("n_chars div 100")).cast("int")

  /** The events-table audit counters as ONE fused aggregate over any
    * frame with the events schema — sort-free and source-agnostic, so
    * the same core audits a parquet snapshot (dq1) or each micro-batch
    * of a stream (StreamingAuditSpec: the per-batch data-quality
    * monitor every ingest pipeline runs in foreachBatch before
    * committing a batch downstream). */
  def eventsAuditCore(ev: DataFrame): DataFrame =
    unpivot(ev.agg(
        count(lit(1)).as("n_rows"),
        one(col("user_id").isNull).as("null_user"),
        one(col("props").isNull).as("null_props"),
        one(col("value").isNull || col("value") < 0.0).as("bad_value"),
        (count(lit(1)) - countDistinct(col("event_id"))).as("dup_event_id")),
      "events.user_id_not_null" -> "null_user",
      "events.props_not_null" -> "null_props",
      "events.value_non_negative" -> "bad_value",
      "events.event_id_unique" -> "dup_event_id")

  /** Unpivot a 1-row counter aggregate into per-constraint rows with
    * ONE explode — a unionByName of per-constraint selects would
    * inline (and re-execute) the whole aggregate subtree per branch,
    * scanning every table once per constraint (PlanContractSpec pins
    * the one-scan-per-table shape). */
  private def unpivot(agg: DataFrame, pairs: (String, String)*): DataFrame =
    agg.select(explode(array(pairs.map { case (name, c) =>
        struct(lit(name).as("constraint_name"), col("n_rows"),
          col(c).cast("long").as("n_violations"))
      }: _*)).as("r"))
      .select(col("r.constraint_name"), col("r.n_rows"), col("r.n_violations"))

  def constraints(s: SparkSession, dir: String): DataFrame = {
    // orders → customer referential integrity: broadcast the dim keys,
    // count orphans (anti-join collapsed to a conditional count so the
    // fact side is ONE pass — null FK counts as its own constraint)
    val orphans = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir).select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_outer")
      .agg(count(lit(1)).as("n_rows"),
        one(col("o_custkey").isNull).as("null_fk"),
        one(col("o_custkey").isNotNull && col("c_custkey").isNull)
          .as("orphan_fk"))
    // lineitem value ranges — one fused scan
    val li = Tables.lineitem(s, dir).agg(
      count(lit(1)).as("n_rows"),
      one(col("l_quantity") <= 0).as("bad_qty"),
      one(col("l_discount") < 0.0 || col("l_discount") > 1.0).as("bad_disc"))
    eventsAuditCore(Tables.events(s, dir))
      .unionByName(unpivot(orphans,
        "orders.o_custkey_not_null" -> "null_fk",
        "orders.o_custkey_in_customer" -> "orphan_fk"))
      .unionByName(unpivot(li,
        "lineitem.l_quantity_positive" -> "bad_qty",
        "lineitem.l_discount_in_unit_range" -> "bad_disc"))
      .select(col("constraint_name"), col("n_rows"), col("n_violations"),
        when(col("n_violations") === 0, 1).otherwise(0).as("pass"))
      .transform(Common.presented(_, col("constraint_name")))
  }

  /** DQ2 — snapshot-over-snapshot DISTRIBUTION DRIFT: the monitor a
    * daily ingest runs before promoting a new corpus slice — per
    * (lang, length-bucket) cell, old-vs-new doc shares and a drift
    * flag when either direction shifts more than 2×. The flag is
    * stated as INTEGER cross-multiplication
    * (`n_new·total_old > 2·n_old·total_new`, and symmetrically) — the
    * PSI-style ratio test without ln(), so it is hash-exact across
    * engines AND zero-count cells degrade correctly (a bucket that
    * appears from nowhere always flags; 0-vs-0 never does). Old/new
    * reuse d7's snapshot convention. One exchange on the cell key;
    * totals are a single-partition window over the COLLAPSED cells
    * (tx11's pattern — bounded by langs × buckets, not docs). */
  def drift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isNew = (col("doc_id") % DedupOps.IncomingMod === 0)
    val cells = graft.sources.Tables.documents(s, dir)
      .select(col("lang"),
        lenBucket.as("len_bucket"),
        when(isNew, 1L).otherwise(0L).as("is_new"))
      .groupBy(col("lang"), col("len_bucket"))
      .agg(sum(lit(1L) - col("is_new")).as("n_old"),
        sum(col("is_new")).as("n_new"))
    val all = Window.partitionBy()
    cells
      .withColumn("total_old", sum(col("n_old")).over(all))
      .withColumn("total_new", sum(col("n_new")).over(all))
      .select(col("lang"), col("len_bucket"), col("n_old"), col("n_new"),
        (col("n_old").cast("double") / col("total_old")).as("share_old"),
        (col("n_new").cast("double") / col("total_new")).as("share_new"),
        when(col("n_new") * col("total_old") > lit(2L) * col("n_old") * col("total_new"), 1)
          .when(col("n_old") * col("total_new") > lit(2L) * col("n_new") * col("total_old"), 1)
          .otherwise(0).as("drift"))
      .transform(Common.presented(_, col("lang"), col("len_bucket")))
  }

  /** DQ2's streaming form: ONE micro-batch's (lang, length-bucket)
    * counts vs a fixed REFERENCE distribution (the accepted corpus
    * profile, broadcast — a few hundred cells regardless of corpus
    * size). Same integer cross-multiplied 2× flag as [[drift]]; cells
    * absent from either side surface with zero counts (a
    * batch-invents-a-bucket event always flags). Bound per micro-batch
    * from `foreachBatch` exactly like [[eventsAuditCore]] —
    * StreamingAuditSpec plants a skewed batch and pins the flags. */
  def driftAgainst(batch: DataFrame, reference: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = batch
      .select(col("lang"),
        lenBucket.as("len_bucket"))
      .groupBy(col("lang"), col("len_bucket"))
      .agg(count(lit(1)).as("n_batch"))
    val joined = reference
      .join(cells, Seq("lang", "len_bucket"), "full_outer")
      .na.fill(0L, Seq("n_ref", "n_batch"))
    val all = Window.partitionBy()
    joined
      .withColumn("total_ref", sum(col("n_ref")).over(all))
      .withColumn("total_batch", sum(col("n_batch")).over(all))
      .select(col("lang"), col("len_bucket"), col("n_ref"), col("n_batch"),
        when(col("n_batch") * col("total_ref") > lit(2L) * col("n_ref") * col("total_batch"), 1)
          .when(col("n_ref") * col("total_batch") > lit(2L) * col("n_batch") * col("total_ref"), 1)
          .otherwise(0).as("drift"))
  }

  /** dq3's anonymity threshold: a quasi-identifier cell with fewer
    * than K members is re-identifiable (k-anonymity, Sweeney 2002).
    * K=5 keeps both verdicts live at every harness SF; production
    * policy typically sets 10-50. */
  val KAnonK = 5L

  /** DQ3 — k-anonymity audit over the quasi-identifier tuple
    * (lang, source, length-bucket): the governance check a
    * training-data release runs before publishing corpus statistics
    * or per-slice samples — any QI cell with fewer than [[KAnonK]]
    * documents re-identifies its members by its published coordinates
    * alone (tx9 scrubs PII *content*; dq3 bounds *membership*
    * disclosure — complementary releases-side discipline). Per cell:
    * population, the k-anonymity flag, and the re-identification
    * upper bound 1/n a risk report thresholds.
    *
    * Plan: ONE exchange — the QI-cell aggregate with map-side
    * partials (cells bounded by langs × sources × 10 buckets, never
    * by docs); the flag arithmetic rides the collapsed frame. The
    * cells come from the same standing count state a streaming
    * aggregation maintains (counts are associative), so the audit
    * serves from state with zero operator changes —
    * StreamingAuditSpec pins streamed==batch across fuzz seeds. */
  def kAnonymity(s: SparkSession, dir: String): DataFrame =
    kAnonCells(Tables.documents(s, dir)
        .select(col("lang"), col("source"), lenBucket.as("len_bucket"))
        .groupBy(col("lang"), col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("n_docs")))
      .transform(Common.presented(_,
        col("lang"), col("source"), col("len_bucket")))

  /** dq3's verdict rule over any (lang, source, len_bucket, n_docs)
    * cells frame — the unit the streaming-aggregation serving path
    * reuses on its standing state. */
  def kAnonCells(cells: DataFrame): DataFrame =
    cells.select(col("lang"), col("source"), col("len_bucket"),
      col("n_docs"),
      when(col("n_docs") >= KAnonK, 1).otherwise(0).as("is_k_anon"),
      (lit(1.0) / col("n_docs").cast("double")).as("reident_risk"))

  // ---------------------------------------------------------------
  // dq8 — k-anonymity ENFORCED against an at-rest release table.
  // dq3 audits; dq8 executes the suppression the audit calls for
  // (Sweeney 2002 §4's suppression operator, the release-side twin of
  // c6's forget): the published table is WRITTEN partitionBy(QI
  // bucket) — the partition a row lives in is a pure function of its
  // QI tuple, so the violating cells' buckets come from the audit's
  // own attribute-bounded cell frame and the rewrite touches ONLY
  // them. Post-enforcement, every surviving cell satisfies k >= K by
  // construction (removing a cell never changes another cell's
  // count — which is also why re-enforcing is a natural no-op: the
  // second audit finds nothing to suppress).
  // ---------------------------------------------------------------

  /** QI-bucket count of the at-rest release layout — harness sizing,
    * the targeting is correct at any count (the ir22/c6 note). */
  val QiBuckets = 16

  /** The release table's partition attribute: md5 of the QI tuple mod
    * [[QiBuckets]] — engine-stable (the termBucketCol rationale), and
    * a pure function of the row's own QI columns, so writers,
    * auditors and the enforcement sweep can never disagree on where a
    * cell lives. */
  private[graft] def qiBucketCol: org.apache.spark.sql.Column =
    (conv(substring(md5(concat_ws("|", col("lang"), col("source"),
      col("len_bucket").cast("string"))), 1, 4), 16, 10).cast("int")
      % QiBuckets).cast("int")

  /** The release projection: the QI tuple plus the row key — the
    * shape a microdata release publishes (content stays home; tx9
    * scrubs it separately). */
  private def releaseRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        lenBucket.as("len_bucket"))
      .withColumn("qi_bucket", qiBucketCol)

  private[graft] def writeRelease(s: SparkSession, root: String,
      docs: DataFrame): Unit =
    AtRest.land(s, s"$root/release", "qi_bucket", releaseRows(docs),
      "overwrite")

  /** EXECUTE the suppression dq3's audit calls for: recount the cells
    * from the files, take the under-K ones (attribute-bounded — langs
    * × sources × 10 rows, the d27/ir19 driver-metadata class), read
    * ONLY their buckets under a static partition predicate, anti-join
    * the broadcast violating-cell keys, and replace exactly those
    * partitions via dynamic overwrite (an all-violating bucket's
    * directory DROPS — the c6 edge). Idempotent and restart-safe: a
    * rerun's audit sees either the original cells (nothing replaced
    * yet — same sweep) or the survivors (done — empty target list,
    * zero IO beyond the cell recount), and every replaced partition
    * holds a subset of what it held, so no intermediate state ever
    * publishes a row the completed enforcement would not. */
  private[graft] def enforceKAnonymity(s: SparkSession,
      root: String): Unit = {
    val bad = AtRest.read(s, s"$root/release")
      .groupBy(col("lang"), col("source"), col("len_bucket"),
        col("qi_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") < KAnonK)
      .localCheckpoint()
    val targets = bad.select(col("qi_bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    AtRest.sweepBuckets(s, s"$root/release", "qi_bucket", targets,
      bad.select(col("lang"), col("source"), col("len_bucket")),
      Seq("lang", "source", "len_bucket"))
    ()
  }

  /** GENERALIZE before suppressing (dq9's first stage) — Sweeney
    * 2002's other enforcement arm, and the first row-MIGRATION
    * maintenance in the engine: a released row's QI VALUE changes, so
    * its partition changes with it (every other maintained family
    * moves rows within or out of their buckets, never between them).
    * Policy (deterministic, oracle-replayable): length buckets pair
    * into width-2 bands; any (lang, source) band containing an
    * under-K cell releases at BAND granularity — its odd-bucket rows
    * coarsen to the band's even edge (even-bucket rows already sit on
    * the edge and do not move). Merged cells that still miss K fall
    * through to [[enforceKAnonymity]]'s suppression — the standard
    * generalize-then-suppress ladder.
    *
    * The migration is crash-convergent, in this order: (0) the bands
    * about to migrate persist as a tiny MIGRATION-INTENT manifest
    * (attribute-bounded — the only extra IO); (1) movers APPEND to
    * their new buckets behind a doc_id anti-join exactly-once guard;
    * (2) the old buckets overwrite with their stayers (all-moved
    * buckets drop); (3) the intent deletes. A crash between (1) and
    * (2) leaves a mover transiently in BOTH buckets — a state the
    * RECOUNT alone cannot always see (when the band's odd cell was
    * itself >= K, the landed copies push every cell over K and the
    * band vanishes from the under-K filter — the r16 ADVICE case), so
    * the rerun unions the intent's bands into the bad set
    * unconditionally and the resolve completes; a torn intent write
    * (no _SUCCESS) means ITS run mutated nothing yet and is ignored.
    * The manifest is GENERATIONAL (`migrate_intent/gen=N`) and
    * APPEND-ONLY: each run that is about to mutate writes a NEW
    * generation holding the full unioned band set and never rewrites
    * an existing one — the r17 ADVICE tear (a rerun's delete-then-
    * write of the only manifest dying mid-write while the crashed
    * first run's movers are already landed, orphaning the stranded
    * copies) is structurally impossible, because the generation that
    * covered those movers is still on disk with its _SUCCESS until
    * step (3) removes the whole manifest directory after resolve. An
    * audit inside the (1)→(2) window can still double-count a moving
    * row: unlike the forget family, generalization is NOT serve-stable
    * mid-flight (documented decline — the release table serves no
    * concurrent readers in this engine; a deployment that serves one
    * live closes the window with a versioned two-table swap: write the
    * post-migration release beside the old and flip a one-row
    * manifest, so no mover is ever visible twice. The suppression
    * stage that follows IS serve-stable). */
  private[graft] def generalizeKAnonymity(s: SparkSession,
      root: String, crashAfterLand: Boolean = false,
      crashAfterIntent: Boolean = false): Unit = {
    val fs = AtRest.fsOf(s, root)
    val intent = new org.apache.hadoop.fs.Path(s"$root/migrate_intent")
    // the standing intent GENERATIONS: complete (_SUCCESS) manifests
    // cover in-flight movers from crashed earlier runs; a torn one
    // (no _SUCCESS) covers a run that mutated nothing yet
    val gens: Seq[org.apache.hadoop.fs.FileStatus] =
      if (fs.exists(intent))
        fs.listStatus(intent).toSeq.filter(st =>
          st.isDirectory && st.getPath.getName.startsWith("gen="))
      else Nil
    val complete = gens.filter(st => fs.exists(
      new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
    val cells = AtRest.read(s, s"$root/release")
      .groupBy(col("lang"), col("source"), col("len_bucket"),
        col("qi_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .localCheckpoint()
    val freshBad = cells.filter(col("n_docs") < KAnonK)
      .select(col("lang").as("b_lang"), col("source").as("b_source"),
        (col("len_bucket") / 2).cast("int").as("band"))
      .distinct()
    val badBands = (if (complete.nonEmpty)
        complete.map(g => AtRest.read(s, g.getPath.toString))
          .foldLeft(freshBad)(_ unionByName _).distinct()
      else freshBad)
      .localCheckpoint()
    // the cells that physically move: odd buckets of bad bands
    val movers = cells
      .join(broadcast(badBands),
        col("lang") === col("b_lang") && col("source") === col("b_source") &&
          (col("len_bucket") / 2).cast("int") === col("band"))
      .select(col("lang"), col("source"), col("len_bucket"),
        col("qi_bucket"))
      .filter(col("len_bucket") % 2 === 1)
      .localCheckpoint()
    val oldBuckets = movers.select(col("qi_bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (oldBuckets.nonEmpty) {
      // (0) persist the intent BEFORE the first data mutation — as a
      // NEW generation (max existing + 1, torn ones counted so the
      // fresh path never collides with a torn dir): existing
      // generations are never rewritten while their movers may be
      // landed (the r17 ADVICE tear)
      val next = gens.map(_.getPath.getName.stripPrefix("gen=").toInt)
        .foldLeft(-1)(math.max) + 1
      badBands.write.mode("overwrite")
        .parquet(s"$intent/gen=$next")
      if (crashAfterIntent) return // spec-planted crash point: (0)→(1)
      val inOld = AtRest.read(s, s"$root/release")
        .filter(col("qi_bucket").isin(oldBuckets: _*))
      val moverKeys = movers
        .select(col("lang"), col("source"), col("len_bucket"))
      val moved = inOld
        .join(broadcast(moverKeys), Seq("lang", "source", "len_bucket"))
        .select(col("doc_id"), col("lang"), col("source"),
          (col("len_bucket") - 1).as("len_bucket"))
        .withColumn("qi_bucket", qiBucketCol)
        .localCheckpoint()
      val stay = inOld
        .join(broadcast(moverKeys), Seq("lang", "source", "len_bucket"),
          "left_anti")
        .select(col("doc_id"), col("lang"), col("source"),
          col("len_bucket"), col("qi_bucket"))
        .localCheckpoint()
      val newBuckets = moved.select(col("qi_bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      // (1) land movers in their new buckets, exactly-once. The guard
      // matches (doc_id, len_bucket) — NOT doc_id alone: a mover's
      // old and new cells can hash to the SAME bucket (16 buckets,
      // ~1/16 of cells), where a doc_id-only guard would mistake the
      // yet-unmoved OLD row for an already-landed copy and silently
      // drop the move
      AtRest.land(s, s"$root/release", "qi_bucket",
        moved.join(AtRest.read(s, s"$root/release")
            .filter(col("qi_bucket").isin(newBuckets: _*))
            .select(col("doc_id"), col("len_bucket")),
          Seq("doc_id", "len_bucket"), "left_anti"),
        "append")
      if (crashAfterLand) return // spec-planted crash point: (1)→(2)
      // (2) resolve the old copies. A new bucket can COINCIDE with an
      // old one (16 buckets), and the overwrite below replaces those
      // partitions wholesale — so their replacement content must
      // carry the movers that just landed there, or step (1)'s append
      // is silently wiped. The doc_id dedup covers the crash-rerun
      // where a landed copy sits in the pre-overwrite read AND
      // re-derives from its old row (the rows are bit-identical).
      AtRest.overwriteBuckets(s, s"$root/release", "qi_bucket",
        oldBuckets,
        stay.unionByName(
            moved.filter(col("qi_bucket").isin(oldBuckets: _*)))
          .dropDuplicates("doc_id"))
    }
    // (3) the migration is complete (or was never needed)
    if (fs.exists(intent)) {
      fs.delete(intent, true)
      ()
    }
  }

  /** DQ9 — GENERALIZE-THEN-SUPPRESS AT REST: write the release,
    * coarsen the violating bands' rows ([[generalizeKAnonymity]] —
    * the row-migration stage), suppress what generalization could not
    * save ([[enforceKAnonymity]] verbatim — the merged table has the
    * same shape, so dq8's sweep applies unchanged), and serve dq3's
    * audit from the files. Against dq8's suppress-only enforcement,
    * generalization RETAINS rows whose band-mates could cover for
    * them — strictly more data released at the same k — and the
    * oracle replays the whole policy (fine cells → bad bands → edge
    * coarsening → recount → the under-K filter), so the files must
    * hold exactly the generalized-then-suppressed rows.
    *
    * 100 TB plan: both stages' IO is attribute-bounded metadata plus
    * the affected cells' buckets; a compliant release runs both
    * stages with zero rewrite IO. */
  def kAnonymityGeneralized(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/release9"
    writeRelease(s, root, Tables.documents(s, dir))
    generalizeKAnonymity(s, root)
    enforceKAnonymity(s, root)
    kAnonCells(AtRest.read(s, s"$root/release")
        .groupBy(col("lang"), col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("n_docs")))
      .transform(Common.presented(_,
        col("lang"), col("source"), col("len_bucket")))
  }

  /** DQ8 — K-ANONYMITY ENFORCED AT REST: write the release table
    * (QI-bucketed), EXECUTE the suppression ([[enforceKAnonymity]]),
    * and serve dq3's audit from what the files now hold — every
    * surviving cell carries is_k_anon = 1 by construction, and the
    * oracle restates dq3's cell SQL with the under-K cells subtracted,
    * so the files must physically hold exactly the compliant rows.
    * This closes the governance ladder's executed verb: dq3–dq7 DETECT
    * (k, ℓ, t, δ); dq8 is the suppression step a release pipeline runs
    * between the audit and the publish.
    *
    * 100 TB plan: the audit half is the same attribute-bounded
    * aggregate dq3 serves from streamed count state; the sweep's IO is
    * the violating cells' buckets only — a compliant release
    * re-enforces with zero rewrite IO. Generalization (widening
    * buckets instead of dropping rows) is the other standard
    * enforcement arm; it composes as a re-write of the same layout
    * with a coarser [[lenBucket]] and the identical sweep. */
  def kAnonymityEnforced(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/release8"
    writeRelease(s, root, Tables.documents(s, dir))
    enforceKAnonymity(s, root)
    kAnonCells(AtRest.read(s, s"$root/release")
        .groupBy(col("lang"), col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("n_docs")))
      .transform(Common.presented(_,
        col("lang"), col("source"), col("len_bucket")))
  }

  /** dq4's diversity threshold: a QI cell whose documents come from
    * fewer than L distinct sources lets the cell's published
    * coordinates infer provenance (distinct ℓ-diversity, Machanavajjhala
    * et al. 2007 — the refinement k-anonymity needs when the SENSITIVE
    * attribute, not membership, is the secret). L=5 keeps both verdicts
    * live at the correctness SFs (sf0.001/sf0.01); at sf0.1 the corpus
    * is genuinely diverse everywhere and the audit correctly all-passes
    * — saturation with volume is the expected production behavior, not
    * a tuning miss. */
  val LDivL = 5L

  /** DQ4 — ℓ-DIVERSITY audit over QI (lang, length-bucket) with
    * `source` as the sensitive attribute: dq3 bounds MEMBERSHIP
    * disclosure (cell size ≥ k); dq4 bounds ATTRIBUTE disclosure — a
    * k-anonymous cell whose members all share one source still leaks
    * that source for every member. Per cell: population, distinct
    * sensitive values, the distinct-ℓ flag, and the top-source share
    * (the homogeneity-attack success probability a risk report
    * thresholds — exact n_top/n_docs division, identical operands both
    * engines).
    *
    * Plan: TWO cascaded aggregates, both with map-side partials and
    * both bounded by attribute cardinality (langs × buckets × sources,
    * then langs × buckets) — never by docs; the first exchange does
    * the doc-volume collapse, the second moves ≤ |cells| rows. The
    * (QI, source) counts are the same associative standing state a
    * streaming aggregation maintains, so [[lDivCells]] serves the
    * audit from state unchanged (dq3's discipline). */
  def lDiversity(s: SparkSession, dir: String): DataFrame =
    lDivCells(Tables.documents(s, dir)
        .select(col("lang"), lenBucket.as("len_bucket"), col("source"))
        .groupBy(col("lang"), col("len_bucket"), col("source"))
        .agg(count(lit(1)).as("n_src")))
      .transform(Common.presented(_, col("lang"), col("len_bucket")))

  /** dq4's rollup + verdict over any (lang, len_bucket, source, n_src)
    * counts frame — the unit the streaming serving path reuses. */
  def lDivCells(cells: DataFrame): DataFrame =
    cells.groupBy(col("lang"), col("len_bucket"))
      .agg(sum(col("n_src")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        max(col("n_src")).as("n_top"))
      .select(col("lang"), col("len_bucket"),
        col("n_docs"), col("n_sources"),
        when(col("n_sources") >= LDivL, 1).otherwise(0).as("is_l_diverse"),
        (col("n_top").cast("double") / col("n_docs").cast("double"))
          .as("top_share"))

  /** dq6's closeness threshold as a RATIONAL t = 1/[[TCloseDen]]: a QI
    * cell passes when its sensitive-attribute distribution sits within
    * total-variation distance t of the global distribution. 1/4 keeps
    * both verdicts live at EVERY harness SF (measured TV spans
    * 0.225–0.9 at sf0.001/sf0.01 and 0.077–0.279 at sf0.1 — the
    * distribution tightens with volume, dq4's saturation note in the
    * other direction); production policy picks t per release tier
    * (Li et al. use 0.15–0.2 in the paper's examples). */
  val TCloseDen = 4L

  /** DQ6 — t-CLOSENESS audit over QI (lang, length-bucket) with
    * `source` sensitive: the published third rung of the
    * k-anonymity → ℓ-diversity ladder (Li, Li & Venkatasubramanian
    * 2007) — an ℓ-diverse cell whose source MIX still skews far from
    * the corpus-wide mix leaks provenance by its skew (the
    * skewness/similarity attacks ℓ-diversity misses). Per cell: the
    * total-variation distance between the cell's source distribution
    * and the global one (for a categorical sensitive attribute, EMD
    * under the uniform ground distance reduces to exactly this), and
    * the t-closeness flag.
    *
    * Determinism is the dq2 discipline extended to a SUM: the distance
    * is stated over the integer cross-multiplied numerator
    * `tv_num = Σ_v |n_cv·N − N_v·n_cell|` — an exact integer sum
    * (associative, so partitioning-order-free where a sum of double
    * shares would not be), with ONE double division at the end and the
    * flag as pure integer arithmetic `[[TCloseDen]]·tv_num ≤
    * 2·n_cell·N` (i.e. tv_dist ≤ 1/[[TCloseDen]]). Exact
    * while n_cv·N < 2⁶³ (N through ~3·10⁹ docs at worst-case cell
    * concentration); past that, production audits quantized shares —
    * the ir8 cross-product-through-double guard, documented not
    * silent.
    *
    * Plan: dq4's doc-volume collapse is the ONE data exchange; the
    * domain completion (every cell × every source, so absent sources
    * contribute their full global mass) is a broadcast cross of two
    * attribute-bounded frames, never of docs. The (QI, source) counts
    * are the same associative standing state dq3/dq4 serve from, so
    * the audit runs off a streaming aggregation unchanged. */
  def tCloseness(s: SparkSession, dir: String): DataFrame =
    tCloseCells(Tables.documents(s, dir)
        .select(col("lang"), lenBucket.as("len_bucket"), col("source"))
        .groupBy(col("lang"), col("len_bucket"), col("source"))
        .agg(count(lit(1)).as("n_cv")))
      .transform(Common.presented(_, col("lang"), col("len_bucket")))

  /** dq6's rollup + verdict over any (lang, len_bucket, source, n_cv)
    * counts frame — the dq3/dq4 serve-from-state unit. */
  def tCloseCells(cellSrc: DataFrame): DataFrame = {
    // three consumers: cells, globals, the join
    val sc = CacheScope.persist(cellSrc)
    // the domain frame's key columns are RENAMED aliases: all three
    // aggregates descend from `sc`, and joining the cross back onto
    // `sc` with shared attribute ids is a self-join the analyzer
    // cannot always deduplicate (it resolves for a parquet source but
    // throws conflicting-references for a streaming memory relation —
    // the dq6 streamed-state serve hit exactly that)
    val cells = sc.groupBy(col("lang"), col("len_bucket"))
      .agg(sum(col("n_cv")).as("n_docs"))
      .select(col("lang").as("c_lang"), col("len_bucket").as("c_bucket"),
        col("n_docs"))
    val glob = sc.groupBy(col("source")).agg(sum(col("n_cv")).as("n_v"))
      .select(col("source").as("g_source"), col("n_v"))
    val tot = glob.agg(sum(col("n_v")).as("n_total"))
    cells
      .crossJoin(broadcast(glob))
      .crossJoin(broadcast(tot))
      .join(sc, col("c_lang") === col("lang") &&
        col("c_bucket") === col("len_bucket") &&
        col("g_source") === col("source"), "left")
      .select(col("c_lang").as("lang"), col("c_bucket").as("len_bucket"),
        col("n_docs"), col("n_total"),
        abs(coalesce(col("n_cv"), lit(0L)) * col("n_total") -
          col("n_v") * col("n_docs")).as("ad"))
      .groupBy(col("lang"), col("len_bucket"), col("n_docs"), col("n_total"))
      .agg(sum(col("ad")).as("tv_num"))
      .select(col("lang"), col("len_bucket"), col("n_docs"), col("tv_num"),
        (col("tv_num").cast("double") /
          ((lit(2.0d) * col("n_docs").cast("double")) *
            col("n_total").cast("double"))).as("tv_dist"),
        when(col("tv_num") * TCloseDen <=
          col("n_docs") * col("n_total") * 2, 1).otherwise(0)
          .as("is_t_close"))
  }

  /** dq7's presence bounds as RATIONALS: a release is δ-present when
    * every QI cell's membership probability sits in
    * [[[DPresMinNum]]/[[DPresDen]], [[DPresMaxNum]]/[[DPresDen]]] =
    * [3/4, 17/20] — below the floor the release under-covers the cell
    * (its members' ABSENCE from the corpus is inferable), above the
    * ceiling membership itself is near-certain from the cell
    * coordinates alone. The window keeps both verdicts live at every
    * harness SF (measured per-cell δ spans 0.667–1.0 at
    * sf0.001/sf0.01 and 0.748–0.895 at sf0.1); production picks the
    * bounds per threat model (Nergiz et al. use domain-specific
    * δmin/δmax pairs). */
  val DPresDen = 20L
  val DPresMinNum = 15L
  val DPresMaxNum = 17L

  /** DQ7 — δ-PRESENCE audit (Nergiz, Atzori & Clifton 2007, "Hiding
    * the Presence of Individuals from Shared Databases"): the fourth
    * rung of the governance ladder. dq3/dq4/dq6 audit what a cell
    * discloses about members KNOWN to be in the release; δ-presence
    * bounds MEMBERSHIP itself — given the public WORLD table (here:
    * the full corpus) and the released subset (d10's train split, the
    * published training slice), an attacker who knows an individual's
    * QI coordinates infers presence in the release with probability
    * δ(cell) = n_released/n_world. Per QI (lang, length-bucket) cell:
    * both counts, the exact δ, and the pass flag — stated as pure
    * integer cross-multiplication (`DPresDen·n_released` against
    * `DPresMinNum/DPresMaxNum·n_world` — the dq2/dq6 discipline), with
    * the ONE double division only in the reported δ column.
    *
    * Plan: one narrow projection (the split rule is d10's seeded-md5
    * column — ONE shared definition, so the audited release and the
    * actual split cannot desynchronize) into a doc-volume collapse on
    * (QI, in_release) — map-side partials, cells bounded by
    * langs × buckets × 2 — then an attribute-bounded rollup. The
    * (QI, in_release) counts are associative standing state, so the
    * audit serves from a streaming aggregation unchanged
    * (StreamingAuditSpec pins streamed == batch across seeds). */
  def deltaPresence(s: SparkSession, dir: String): DataFrame =
    deltaPresCells(Tables.documents(s, dir)
        .select(col("lang"), lenBucket.as("len_bucket"),
          when(DedupOps.splitCol === "train", 1L).otherwise(0L)
            .as("in_release"))
        .groupBy(col("lang"), col("len_bucket"), col("in_release"))
        .agg(count(lit(1)).as("n")))
      .transform(Common.presented(_, col("lang"), col("len_bucket")))

  /** dq7's rollup + verdict over any (lang, len_bucket, in_release, n)
    * counts frame — the dq3/dq4/dq6 serve-from-state unit. */
  def deltaPresCells(cells: DataFrame): DataFrame =
    cells.groupBy(col("lang"), col("len_bucket"))
      .agg(sum(col("n")).as("n_world"),
        sum(when(col("in_release") === 1, col("n")).otherwise(0L))
          .as("n_released"))
      .select(col("lang"), col("len_bucket"),
        col("n_world"), col("n_released"),
        (col("n_released").cast("double") / col("n_world").cast("double"))
          .as("delta"),
        when(col("n_released") * DPresDen >= col("n_world") * DPresMinNum &&
          col("n_released") * DPresDen <= col("n_world") * DPresMaxNum, 1)
          .otherwise(0).as("is_delta_present"))

  /** dq5's profiled columns — ONE structure drives the Spark aggregate
    * AND the oracle SQL, so the two cannot drift. Numeric columns
    * profile min/max of the value; string columns profile min/max of
    * the character LENGTH (the width profile — a cross-engine-exact
    * integer, where raw string min/max would hinge on collation). */
  private[graft] val ProfileCols: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("orders", Seq("o_orderkey", "o_custkey", "o_totalprice"),
      Seq("o_orderstatus")),
    ("lineitem", Seq("l_quantity", "l_extendedprice", "l_discount"),
      Seq("l_returnflag")),
    ("events", Seq("user_id", "value"), Seq("event_type")),
    ("documents", Seq("n_chars"), Seq("lang", "source")))

  /** DQ5 — COLUMN PROFILE (the deequ/TFDV "profile" every platform
    * computes before trusting a table): per (table, column) the row
    * count, null count, exact distinct count, and numeric min/max
    * (string columns profile length — see [[ProfileCols]]). dq1
    * asserts DECLARED expectations; dq5 is the discovery pass that
    * tells you what to declare.
    *
    * Plan: ONE fused aggregate per table (dq1's add-a-column-not-a-
    * scan discipline) unpivoted by a single explode. The exact
    * `count(distinct)` set makes Spark plan an Expand (scan ×(cols+1)
    * row replication before the partial agg) — the textbook exact-
    * profiler cost; at 100 TB the production profile swaps each
    * distinct for ap1's HLL sketch column (same single-scan plan,
    * no Expand, ±2% error) and this exact form remains the
    * oracle-checkable audit it calibrates against. */
  def profile(s: SparkSession, dir: String): DataFrame =
    ProfileCols.map { case (t, nums, strs) =>
      profileTable(Tables.table(s, dir, t), t, nums, strs)
    }.reduce(_.unionByName(_))
      .transform(Common.presented(_, col("table_name"), col("column_name")))

  private def profileTable(df: DataFrame, table: String,
      nums: Seq[String], strs: Seq[String]): DataFrame = {
    val cols = nums ++ strs
    val aggs = Seq(count(lit(1)).as("n_rows")) ++ cols.flatMap { cn =>
      val c = col(cn)
      val v = if (nums.contains(cn)) c.cast("double")
        else length(c).cast("double")
      Seq(one(c.isNull).as(s"nn_$cn"),
        countDistinct(c).as(s"nd_$cn"),
        min(v).as(s"mn_$cn"), max(v).as(s"mx_$cn"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map { cn =>
        struct(lit(table).as("table_name"), lit(cn).as("column_name"),
          col("n_rows"), col(s"nn_$cn").cast("long").as("n_nulls"),
          col(s"nd_$cn").as("n_distinct"),
          col(s"mn_$cn").as("min_num"), col(s"mx_$cn").as("max_num"))
      }: _*)).as("r"))
      .select(col("r.*"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq1_constraints" -> (constraints _),
    "dq2_drift" -> (drift _),
    "dq3_k_anonymity" -> (kAnonymity _),
    "dq4_l_diversity" -> (lDiversity _),
    "dq5_profile" -> (profile _),
    "dq6_t_closeness" -> (tCloseness _),
    "dq7_delta_presence" -> (deltaPresence _),
    "dq8_kanon_enforce" -> (kAnonymityEnforced _),
    "dq9_kanon_generalize" -> (kAnonymityGeneralized _))

  val oracles: Map[String, String] = Map(
    // dq7: d10's split rule restated (the d12 oracle's CASE), counts
    // as BIGINT, the flag as pure integer cross-multiplication, one
    // double division for the reported delta
    "dq7_delta_presence" ->
      s"""WITH c AS (SELECT lang,
         |             CAST(least(9, n_chars // 100) AS INT) AS len_bucket,
         |             CASE WHEN ${graft.functions.TextFunctions.md5LongSql(
                s"'split:' || md5(array_to_string((string_split(text, ' '))[1:${DedupOps.HeadKeyTokens}], ' '))")} % 100 < ${DedupOps.SplitTrainPct}
         |                  THEN 1 ELSE 0 END AS in_release
         |           FROM documents),
         |cells AS (SELECT lang, len_bucket,
         |                 CAST(count(*) AS BIGINT) AS n_world,
         |                 CAST(sum(in_release) AS BIGINT) AS n_released
         |          FROM c GROUP BY 1, 2)
         |SELECT lang, len_bucket, n_world, n_released,
         |       CAST(n_released AS DOUBLE) / CAST(n_world AS DOUBLE) AS delta,
         |       CASE WHEN n_released * $DPresDen >= n_world * $DPresMinNum
         |             AND n_released * $DPresDen <= n_world * $DPresMaxNum
         |            THEN 1 ELSE 0 END AS is_delta_present
         |FROM cells ORDER BY lang, len_bucket""".stripMargin,
    // dq6: the TV numerator is an exact integer sum (sums widen to
    // HUGEINT in DuckDB -> CAST back); one double division at the end
    // with the same association; the flag is integer cross-multiplication
    "dq6_t_closeness" ->
      s"""WITH sc AS (SELECT lang,
         |                   CAST(least(9, n_chars // 100) AS INT) AS len_bucket,
         |                   source, count(*) AS n_cv
         |            FROM documents GROUP BY 1, 2, 3),
         |cells AS (SELECT lang, len_bucket, CAST(sum(n_cv) AS BIGINT) AS n_docs
         |          FROM sc GROUP BY 1, 2),
         |gsrc AS (SELECT source, CAST(sum(n_cv) AS BIGINT) AS n_v
         |         FROM sc GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_v) AS BIGINT) AS n_total FROM gsrc),
         |dom AS (SELECT c.lang, c.len_bucket, c.n_docs, g.source, g.n_v, t.n_total
         |        FROM cells c CROSS JOIN gsrc g CROSS JOIN tot t),
         |diff AS (SELECT dom.lang, dom.len_bucket, dom.n_docs, dom.n_total,
         |                abs(coalesce(sc.n_cv, 0) * dom.n_total
         |                    - dom.n_v * dom.n_docs) AS ad
         |         FROM dom LEFT JOIN sc ON sc.lang = dom.lang
         |                  AND sc.len_bucket = dom.len_bucket
         |                  AND sc.source = dom.source),
         |g2 AS (SELECT lang, len_bucket, n_docs, n_total,
         |              CAST(sum(ad) AS BIGINT) AS tv_num
         |       FROM diff GROUP BY 1, 2, 3, 4)
         |SELECT lang, len_bucket, n_docs, tv_num,
         |       CAST(tv_num AS DOUBLE)
         |         / ((CAST(2 AS DOUBLE) * CAST(n_docs AS DOUBLE))
         |            * CAST(n_total AS DOUBLE)) AS tv_dist,
         |       CASE WHEN tv_num * $TCloseDen <= n_docs * n_total * 2
         |            THEN 1 ELSE 0 END AS is_t_close
         |FROM g2 ORDER BY lang, len_bucket""".stripMargin,
    // dq5: generated from the same ProfileCols structure as the Spark
    // aggregate; min/max are single values (no accumulation — exact on
    // both engines), distincts are exact counts, string columns
    // profile length
    "dq5_profile" -> {
      val ctes = ProfileCols.map { case (t, nums, strs) =>
        val counters = (nums ++ strs).flatMap { cn =>
          val v = if (nums.contains(cn)) s"CAST($cn AS DOUBLE)"
            else s"CAST(length($cn) AS DOUBLE)"
          Seq(
            s"CAST(sum(CASE WHEN $cn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_$cn",
            s"count(DISTINCT $cn) AS nd_$cn",
            s"min($v) AS mn_$cn",
            s"max($v) AS mx_$cn")
        }.mkString(",\n              ")
        s"p_$t AS (SELECT count(*) AS n_rows,\n              $counters\n       FROM $t)"
      }.mkString(",\n")
      val rows = ProfileCols.flatMap { case (t, nums, strs) =>
        (nums ++ strs).map(cn =>
          s"SELECT '$t' AS table_name, '$cn' AS column_name, n_rows, " +
            s"nn_$cn AS n_nulls, nd_$cn AS n_distinct, " +
            s"mn_$cn AS min_num, mx_$cn AS max_num FROM p_$t")
      }.mkString("\nUNION ALL ")
      s"WITH $ctes\n$rows\nORDER BY table_name, column_name"
    },
    // two cascaded integer aggregates; sums widen to HUGEINT in DuckDB
    // -> CAST back; top_share is one double division of identical
    // operands
    "dq4_l_diversity" ->
      s"""WITH sc AS (SELECT lang,
         |                   CAST(least(9, n_chars // 100) AS INT) AS len_bucket,
         |                   source, count(*) AS n_src
         |            FROM documents GROUP BY 1, 2, 3),
         |g AS (SELECT lang, len_bucket,
         |             CAST(sum(n_src) AS BIGINT) AS n_docs,
         |             count(*) AS n_sources,
         |             max(n_src) AS n_top
         |      FROM sc GROUP BY 1, 2)
         |SELECT lang, len_bucket, n_docs, n_sources,
         |       CASE WHEN n_sources >= $LDivL THEN 1 ELSE 0 END AS is_l_diverse,
         |       CAST(n_top AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_share
         |FROM g
         |ORDER BY lang, len_bucket""".stripMargin,
    // count(*) widens to BIGINT on both engines; the risk bound is one
    // double division of identical operands
    // dq8: write∘enforce∘audit == dq3's cells MINUS the under-K ones
    // (suppressing a cell never changes another cell's count) — the
    // oracle subtracts them at the cell level, so the at-rest files
    // must hold exactly the compliant rows; is_k_anon keeps dq3's
    // CASE tree (all 1 by construction, same expression both sides)
    // dq9: the full generalize-then-suppress policy replayed — fine
    // cells, bad width-2 bands, odd buckets coarsened to the band
    // edge, recount at the released granularity, under-K suppression
    "dq9_kanon_generalize" ->
      s"""WITH r AS (SELECT lang, source,
         |                  CAST(least(9, n_chars // 100) AS INT) AS lb
         |           FROM documents),
         |fine AS (SELECT lang, source, lb, count(*) AS n
         |         FROM r GROUP BY 1, 2, 3),
         |bad AS (SELECT DISTINCT lang, source, lb // 2 AS band
         |        FROM fine WHERE n < $KAnonK),
         |rb AS (SELECT r.lang, r.source,
         |              CASE WHEN bad.band IS NOT NULL
         |                   THEN CAST((r.lb // 2) * 2 AS INT)
         |                   ELSE r.lb END AS len_bucket
         |       FROM r LEFT JOIN bad
         |         ON bad.lang = r.lang AND bad.source = r.source
         |        AND bad.band = r.lb // 2),
         |cells AS (SELECT lang, source, len_bucket, count(*) AS n_docs
         |          FROM rb GROUP BY 1, 2, 3)
         |SELECT lang, source, len_bucket, n_docs,
         |       CASE WHEN n_docs >= $KAnonK THEN 1 ELSE 0 END AS is_k_anon,
         |       CAST(1 AS DOUBLE) / n_docs AS reident_risk
         |FROM cells WHERE n_docs >= $KAnonK
         |ORDER BY lang, source, len_bucket""".stripMargin,
    "dq8_kanon_enforce" ->
      s"""WITH cells AS (SELECT lang, source,
         |                      CAST(least(9, n_chars // 100) AS INT) AS len_bucket,
         |                      count(*) AS n_docs
         |               FROM documents GROUP BY 1, 2, 3)
         |SELECT lang, source, len_bucket, n_docs,
         |       CASE WHEN n_docs >= $KAnonK THEN 1 ELSE 0 END AS is_k_anon,
         |       CAST(1 AS DOUBLE) / n_docs AS reident_risk
         |FROM cells WHERE n_docs >= $KAnonK
         |ORDER BY lang, source, len_bucket""".stripMargin,
    "dq3_k_anonymity" ->
      s"""WITH cells AS (SELECT lang, source,
         |                      CAST(least(9, n_chars // 100) AS INT) AS len_bucket,
         |                      count(*) AS n_docs
         |               FROM documents GROUP BY 1, 2, 3)
         |SELECT lang, source, len_bucket, n_docs,
         |       CASE WHEN n_docs >= $KAnonK THEN 1 ELSE 0 END AS is_k_anon,
         |       CAST(1 AS DOUBLE) / n_docs AS reident_risk
         |FROM cells
         |ORDER BY lang, source, len_bucket""".stripMargin,
    // sums widen to HUGEINT in DuckDB -> CAST back; shares are
    // DOUBLE/BIGINT divisions (exact on both engines); the drift flag
    // is pure integer arithmetic
    "dq2_drift" ->
      s"""WITH d AS (SELECT lang,
         |                  CAST(least(9, n_chars // 100) AS INT) AS len_bucket,
         |                  CASE WHEN doc_id % ${DedupOps.IncomingMod} = 0
         |                       THEN 1 ELSE 0 END AS is_new
         |           FROM documents),
         |cells AS (SELECT lang, len_bucket,
         |                 CAST(sum(1 - is_new) AS BIGINT) AS n_old,
         |                 CAST(sum(is_new) AS BIGINT) AS n_new
         |          FROM d GROUP BY lang, len_bucket),
         |t AS (SELECT *, CAST(sum(n_old) OVER () AS BIGINT) AS total_old,
         |             CAST(sum(n_new) OVER () AS BIGINT) AS total_new
         |      FROM cells)
         |SELECT lang, len_bucket, n_old, n_new,
         |       CAST(n_old AS DOUBLE) / total_old AS share_old,
         |       CAST(n_new AS DOUBLE) / total_new AS share_new,
         |       CASE WHEN n_new * total_old > 2 * n_old * total_new THEN 1
         |            WHEN n_old * total_new > 2 * n_new * total_old THEN 1
         |            ELSE 0 END AS drift
         |FROM t
         |ORDER BY lang, len_bucket""".stripMargin,
    "dq1_constraints" ->
      """WITH ev AS (SELECT count(*) AS n_rows,
        |                   CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user,
        |                   CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
        |                   CAST(sum(CASE WHEN value IS NULL OR value < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_value,
        |                   count(*) - count(DISTINCT event_id) AS dup_event_id
        |            FROM events),
        |ord AS (SELECT count(*) AS n_rows,
        |               CAST(sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_fk,
        |               CAST(sum(CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_fk
        |        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
        |li AS (SELECT count(*) AS n_rows,
        |              CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
        |              CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc
        |       FROM lineitem),
        |rows_out AS (
        |  SELECT 'events.user_id_not_null' AS constraint_name, n_rows, null_user AS n_violations FROM ev
        |  UNION ALL SELECT 'events.props_not_null', n_rows, null_props FROM ev
        |  UNION ALL SELECT 'events.value_non_negative', n_rows, bad_value FROM ev
        |  UNION ALL SELECT 'events.event_id_unique', n_rows, dup_event_id FROM ev
        |  UNION ALL SELECT 'orders.o_custkey_not_null', n_rows, null_fk FROM ord
        |  UNION ALL SELECT 'orders.o_custkey_in_customer', n_rows, orphan_fk FROM ord
        |  UNION ALL SELECT 'lineitem.l_quantity_positive', n_rows, bad_qty FROM li
        |  UNION ALL SELECT 'lineitem.l_discount_in_unit_range', n_rows, bad_disc FROM li)
        |SELECT constraint_name, n_rows, n_violations,
        |       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS pass
        |FROM rows_out
        |ORDER BY constraint_name""".stripMargin)
}
