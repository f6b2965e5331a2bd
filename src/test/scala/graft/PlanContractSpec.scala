package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.FileSourceScanExec

/** Structural plan contracts for the round-6 operators — the
  * scale-critical properties the timings can't pin (a regression that
  * adds a scan or an exchange still "passes" at harness SF; these
  * assertions fail it loudly). */
class PlanContractSpec extends SparkSpec {

  private def executed(df: DataFrame): SparkPlan = {
    val p = df.queryExecution.executedPlan
    p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
  }

  private def collectAll[T](p: SparkPlan)(f: PartialFunction[SparkPlan, T]): Seq[T] =
    p.collect(f) ++ p.subqueries.flatMap(collectAll(_)(f))

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    collectAll(p) { case s: FileSourceScanExec => s }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    collectAll(p) { case e: ShuffleExchangeExec => e }

  test("ap3: bloom probe filters the scan BELOW any exchange; dims broadcast") {
    val p = executed(graft.operators.ApproxOps.bloomSemi(spark, Sf))
    val txt = p.toString
    assert(txt.contains("bloom_might_contain"), "probe expression missing from plan")
    // the probe-side filter must sit in the same (pre-exchange) stage
    // as the customer scan: no ShuffleExchange between scan and filter
    val filterAboveScan = p.collectFirst {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("bloom_might_contain") => f
    }
    assert(filterAboveScan.isDefined, "bloom filter node not found")
    assert(shuffles(filterAboveScan.get).isEmpty,
      "an exchange crept between the probe scan and the bloom filter")
    assert(collectAll(p) { case b: BroadcastExchangeExec => b }.nonEmpty,
      "the cleared-FP semi-join should broadcast the slim key side")
  }

  test("dq1: one scan per audited table — constraints fuse, they don't re-scan") {
    val p = executed(graft.operators.AuditOps.constraints(spark, Sf))
    val byTable = scans(p).groupBy(_.relation.location.rootPaths.head.getName)
    // events, orders, customer, lineitem — exactly one scan each
    assert(byTable.keySet == Set("events.parquet", "orders.parquet",
      "customer.parquet", "lineitem.parquet"), byTable.keySet.toString)
    byTable.foreach { case (t, ss) =>
      assert(ss.size == 1, s"$t scanned ${ss.size}×— a constraint added a scan")
    }
  }

  test("tx14: chunking is scan-bound — only the presentation exchange") {
    val p = executed(graft.operators.TextOps.chunk(spark, Sf))
    assert(shuffles(p).size <= 1, p.toString.take(2000))
    assert(scans(p).size == 1)
  }

  test("s7/w9/jx8: exactly the one data exchange (plus presentation)") {
    Seq[DataFrame](
      graft.operators.ScanOps.scd2(spark, Sf),
      graft.operators.WindowOps.streaks(spark, Sf)).foreach { df =>
      val p = executed(df)
      assert(shuffles(p).size <= 2, p.toString.take(2000))
      assert(scans(p).size == 1, "these read the events log once")
    }
    // jx8: probe + dim sides shuffle once each, plus presentation
    val p8 = executed(graft.operators.JoinOps.pitScd2(spark, Sf))
    assert(shuffles(p8).size <= 3, p8.toString.take(2000))
  }

  test("w10: attribution pairs via the bucketed equi-join — never a nested-loop join") {
    // the raw inequality restatement silently plans as
    // BroadcastNestedLoopJoin (per-pair work, quadratic per user at
    // scale); the bucket-key equi-join is the whole point of the op
    val p = executed(graft.operators.WindowOps.attribution(spark, Sf))
    val txt = p.toString
    assert(!txt.contains("BroadcastNestedLoopJoin") &&
      !txt.contains("CartesianProduct"), txt.take(2000))
    assert(txt.contains("Join"), "pairing join missing")
  }

  test("x8: PQ encode never self-joins the corpus — one scan + broadcast codebooks") {
    val p = executed(graft.operators.SimilarityOps.pqEncode(spark, Sf))
    // sub-centroids reach the assignment via broadcast; the corpus
    // side is scanned for the explode and again for the codebook slice
    // (both tiny projections), but NO shuffle-join of corpus × corpus
    assert(collectAll(p) { case b: BroadcastExchangeExec => b }.nonEmpty,
      "codebooks must broadcast")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "PQ encode must not shuffle-join the corpus")
    // vec_id pivot + presentation are the only exchanges
    assert(shuffles(p).size <= 2, p.toString.take(2000))
  }

  test("x11: the served probe partition-prunes the codes index and never rescans the corpus") {
    val p = executed(graft.operators.SimilarityOps.ivfPqServe(spark, Sf))
    // the cell-partitioned codes scan must carry a dynamic pruning
    // filter on cell_id — only the probed cells' files are read
    val codeScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("graft-index")))
    assert(codeScans.nonEmpty, "codes-index scan missing from serve plan")
    assert(codeScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "codes scan lost its dynamic partition pruning filter: " +
        codeScans.map(_.partitionFilters).mkString("; "))
    // the serve path reads corpus vectors ONLY for the queries — every
    // embeddings scan is pushed down to the vec_id < NumQueries slice
    val corpusScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("embeddings")))
    assert(corpusScans.nonEmpty)
    corpusScans.foreach { sc =>
      assert(sc.dataFilters.exists(
          _.toString.contains(s"< ${graft.operators.SimilarityOps.NumQueries}")),
        s"serve plan rescans the full corpus: ${sc.dataFilters}")
    }
  }

  test("x15: the append reads the standing index partition-pruned — the standing corpus never re-encodes") {
    // a cached batch-assignment left by another suite substitutes an
    // InMemoryRelation that hides the batch filter DPP keys on — the
    // harness clears the cache between queries (Verify/Bench), so the
    // contract is asserted on the same clean-cache plan they run
    spark.sharedState.cacheManager.clearCache()
    val p = executed(graft.operators.SimilarityOps.ivfPqAppend(spark, Sf))
    // the dup-check ADC join must hit the at-rest codes through a
    // dynamic pruning filter on cell_id — the append reads the target
    // cells' files, not the whole standing index
    val idxScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("graft-index")))
    assert(idxScans.nonEmpty, "standing-index scan missing from append plan")
    assert(idxScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "standing codes scan lost its dynamic partition pruning filter: " +
        idxScans.map(_.partitionFilters).mkString("; "))
    // the corpus contributes ONLY the batch slice — every embeddings
    // scan carries the % IncomingMod pushdown; the standing vectors are
    // never re-read, so nothing can re-encode them
    val corpusScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("embeddings")))
    assert(corpusScans.nonEmpty)
    corpusScans.foreach { sc =>
      assert(sc.dataFilters.exists(
          _.toString.contains(s"% ${graft.operators.DedupOps.IncomingMod}")),
        s"append plan re-reads the standing corpus: ${sc.dataFilters}")
    }
  }

  test("x23: the packed serve has NO generator — the dims-fold replaced the exploded form") {
    spark.sharedState.cacheManager.clearCache()
    val p = executed(graft.operators.SimilarityOps.sq8PackedServe(spark, Sf))
    // the whole point of the packed form: no posexplode anywhere in the
    // serve (the per-dim rows never exist), distance via the compiled fold
    assert(collectAll(p) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.isEmpty, "packed serve re-introduced a generator (exploded per-dim rows)")
    assert(p.toString.contains("sq8_sdc_dist"),
      "compiled packed-distance fold missing from serve plan")
    // the serve reads the at-rest packed codes, never the raw vectors
    assert(scans(p).forall(!_.relation.location.rootPaths
        .exists(_.toString.contains("embeddings"))),
      "packed serve re-reads the raw embeddings")
  }

  test("x24: the cell-restricted SDC serve partition-prunes the packed codes scan") {
    spark.sharedState.cacheManager.clearCache()
    val p = executed(graft.operators.SimilarityOps.sq8CellServe(spark, Sf))
    val codeScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("sq8cells/codes")))
    assert(codeScans.nonEmpty, "packed codes-index scan missing from serve plan")
    assert(codeScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "packed codes scan lost its dynamic partition pruning filter: " +
        codeScans.map(_.partitionFilters).mkString("; "))
    // generator-free here too — the restriction composes with the
    // packed fold, it doesn't fall back to the exploded form
    assert(collectAll(p) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.isEmpty, "cell-restricted serve re-introduced a generator")
  }

  test("x25: the shortlist stage uses the compiled packed fold; floats fetch via broadcast, never a shuffle join") {
    spark.sharedState.cacheManager.clearCache()
    val p = executed(graft.operators.SimilarityOps.sq8Rerank(spark, Sf))
    assert(p.toString.contains("sq8_sdc_dist"),
      "quantized stage lost the compiled packed-distance fold")
    // the ONLY generator is the encode's per-dim explode (the stats
    // need it); the serve/re-rank stages stay packed and fold-based
    assert(collectAll(p) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.size <= 1, "re-rank plan re-introduced exploded serving rows")
    // the exact stage must FETCH floats for the broadcast shortlist —
    // a shuffle join here would re-shuffle the whole float table
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "float fetch degraded to a corpus-wide shuffle join")
  }

  test("x30: stage 1 partition-prunes the cell codes; stage 2 fetches floats via broadcast, never a shuffle join") {
    spark.sharedState.cacheManager.clearCache()
    val p = executed(graft.operators.SimilarityOps.sq8IvfRerank(spark, Sf))
    val codeScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("sq8ivfrr/codes")))
    assert(codeScans.nonEmpty, "packed codes-index scan missing from serve plan")
    assert(codeScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "cell codes scan lost its dynamic partition pruning filter: " +
        codeScans.map(_.partitionFilters).mkString("; "))
    assert(p.toString.contains("sq8_sdc_dist"),
      "quantized stage lost the compiled packed-distance fold")
    // the exact stage must FETCH floats for the broadcast shortlist
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "float fetch degraded to a corpus-wide shuffle join")
    // ... and the fetch reads the id-bucketed AT-REST float table:
    // the neighbor-side scan carries DPP on id_bucket, the query-side
    // scan a static bucket predicate — no raw-embeddings scan serves
    val floatScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("sq8ivfrr/floats")))
    assert(floatScans.nonEmpty, "at-rest float table scan missing from refine plan")
    assert(floatScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "float fetch lost its id_bucket dynamic partition pruning: " +
        floatScans.map(_.partitionFilters).mkString("; "))
  }

  test("d22: the contamination probe partition-prunes the at-rest shingle postings; stats come from docstats, never text") {
    spark.sharedState.cacheManager.clearCache()
    val p = executed(graft.operators.DedupOps.decontamAtRest(spark, Sf))
    // the probed postings scan must carry DPP on sh_bucket — only the
    // buckets holding eval-shingle hashes are listed
    val postScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("shindex22/postings")))
    assert(postScans.nonEmpty, "at-rest shingle postings scan missing from serve plan")
    assert(postScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "shingle postings scan lost its dynamic partition pruning filter: " +
        postScans.map(_.partitionFilters).mkString("; "))
    // per-doc totals come from the slim stats artifact — the corpus
    // side of the serve never recomputes them from text (the only
    // documents scan left is the probe's own tiny eval side)
    assert(scans(p).exists(
      _.relation.location.rootPaths.exists(_.toString.contains("shindex22/docstats"))),
      "docstats scan missing — serve recomputed totals from text?")
    assert(scans(p).count(
      _.relation.location.rootPaths.exists(_.toString.contains("documents.parquet"))) <= 1,
      "the at-rest serve scanned documents beyond the probe side")
  }

  test("d25: the band probe partition-prunes the at-rest bands AND the docsets verify fetch (x30's two-stage shape)") {
    spark.sharedState.cacheManager.clearCache()
    val p = executed(graft.operators.DedupOps.bandProbeAtRest(spark, Sf))
    val bandScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("bandidx25/bands")))
    assert(bandScans.nonEmpty, "at-rest band scan missing from probe plan")
    assert(bandScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "band scan lost its band_bucket dynamic partition pruning: " +
        bandScans.map(_.partitionFilters).mkString("; "))
    val setScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("bandidx25/docsets")))
    assert(setScans.nonEmpty, "at-rest docsets scan missing from verify plan")
    assert(setScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "docsets fetch lost its id_bucket dynamic partition pruning: " +
        setScans.map(_.partitionFilters).mkString("; "))
  }

  test("d28: the simhash probe partition-prunes the at-rest chunk rows") {
    spark.sharedState.cacheManager.clearCache()
    val root = "target/graft-index/spec-plan-d28"
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val docs = graft.sources.Tables.documents(spark, Sf)
    val isNew = org.apache.spark.sql.functions.col("doc_id") %
      graft.operators.DedupOps.IncomingMod === 0
    graft.operators.DedupOps.writeSimhashIndex(spark, root, docs.filter(!isNew))
    val p = executed(graft.operators.DedupOps.simhashProbeAgainst(
      spark, root, docs.filter(isNew)))
    graft.operators.CacheScope.drain()
    val chunkScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("spec-plan-d28/chunks")))
    assert(chunkScans.nonEmpty, "at-rest chunks scan missing from probe plan")
    assert(chunkScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "simhash probe lost its chunk_bucket dynamic partition pruning: " +
        chunkScans.map(_.partitionFilters).mkString("; "))
  }

  test("sx8: the SQL-text band probe carries BOTH dynamic-pruning filters, same as the DataFrame path") {
    spark.sharedState.cacheManager.clearCache()
    val p = executed(graft.operators.SqlSurfaceOps.sqlBandProbe(spark, Sf))
    val bandScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("bandidxsx8/bands")))
    assert(bandScans.nonEmpty, "at-rest bands scan missing from SQL probe plan")
    assert(bandScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "SQL band probe lost its band_bucket dynamic partition pruning: " +
        bandScans.map(_.partitionFilters).mkString("; "))
    val setScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("bandidxsx8/docsets")))
    assert(setScans.nonEmpty, "at-rest docsets scan missing from SQL verify plan")
    assert(setScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "SQL verify fetch lost its id_bucket dynamic partition pruning: " +
        setScans.map(_.partitionFilters).mkString("; "))
  }

  test("d29: the batch pair probe and the member lookup are both partition-pruned") {
    spark.sharedState.cacheManager.clearCache()
    val root = "target/graft-index/spec-plan-d29"
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val docs = graft.sources.Tables.documents(spark, Sf)
    val isNew = org.apache.spark.sql.functions.col("doc_id") %
      graft.operators.DedupOps.IncomingMod === 0
    graft.operators.DedupOps.writeBandIndex(spark, root, docs.filter(!isNew))
    graft.operators.DedupOps.buildClusterTables(spark, root)
    graft.operators.DedupOps.appendBandIndex(spark, root, docs.filter(isNew))
    val pp = executed(graft.operators.DedupOps.batchPairsAgainst(
      spark, root, docs.filter(isNew)))
    for ((art, what) <- Seq("bands" -> "band probe", "docsets" -> "set fetch")) {
      val ss = scans(pp).filter(_.relation.location.rootPaths
        .exists(_.toString.contains(s"spec-plan-d29/$art")))
      assert(ss.nonEmpty, s"$art scan missing from pair-probe plan")
      assert(ss.exists(_.partitionFilters.exists(
          _.toString.toLowerCase.contains("dynamicpruning"))),
        s"d29 $what lost its dynamic partition pruning: " +
          ss.map(_.partitionFilters).mkString("; "))
    }
    val lp = executed(graft.operators.DedupOps.memberLookup(spark, root,
      docs.filter(isNew).select(org.apache.spark.sql.functions.col("doc_id"))))
    val ms = scans(lp).filter(_.relation.location.rootPaths
      .exists(_.toString.contains("spec-plan-d29/members")))
    assert(ms.nonEmpty, "members scan missing from lookup plan")
    assert(ms.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "d29 member lookup lost its d_bucket dynamic partition pruning: " +
        ms.map(_.partitionFilters).mkString("; "))
  }

  test("d26: the winnowing probe partition-prunes the at-rest serving table") {
    spark.sharedState.cacheManager.clearCache()
    val p = executed(graft.operators.DedupOps.winnowProbeAtRest(spark, Sf))
    val keptScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("winidx26/kept")))
    assert(keptScans.nonEmpty, "at-rest kept scan missing from probe plan")
    assert(keptScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "winnowing probe lost its h_bucket dynamic partition pruning: " +
        keptScans.map(_.partitionFilters).mkString("; "))
  }

  test("ts9: the SAX serve partition-prunes the at-rest bands AND the counts verify fetch") {
    spark.sharedState.cacheManager.clearCache()
    val p0 = executed(graft.operators.TimeSeriesOps.saxKnnAtRest(spark, Sf))
    // the serve persists its candidate-restricted fetch (the ts5
    // convention), so the probe pipeline lives INSIDE the cached
    // relation (itself AQE-wrapped) — unwrap and recurse before
    // collecting scans
    def unwrap(sp: SparkPlan): SparkPlan = sp match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def deepScans(sp: SparkPlan): Seq[FileSourceScanExec] = {
      val u = unwrap(sp)
      scans(u) ++ collectAll(u) {
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          m.relation.cachedPlan
      }.flatMap(deepScans)
    }
    val allScans = deepScans(p0)
    graft.operators.CacheScope.drain()
    val bandScans = allScans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("saxidx9/bands")))
    assert(bandScans.nonEmpty, "at-rest bands scan missing from serve plan")
    assert(bandScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "SAX probe lost its bb_bucket dynamic partition pruning: " +
        bandScans.map(_.partitionFilters).mkString("; "))
    val countScans = allScans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("saxidx9/counts")))
    assert(countScans.nonEmpty, "at-rest counts scan missing from verify plan")
    assert(countScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "SAX verify fetch lost its u_bucket dynamic partition pruning: " +
        countScans.map(_.partitionFilters).mkString("; "))
    // the probe's own word row reads its ONE user bucket statically
    val wordScans = allScans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("saxidx9/words")))
    assert(wordScans.nonEmpty && wordScans.forall(
        _.partitionFilters.exists(_.toString.contains("u_bucket"))),
      "probe word read lost its static u_bucket pruning")
  }

  test("ts11: the multi-probe serve keeps every pruning arm — static probe reads, DPP bands and counts") {
    spark.sharedState.cacheManager.clearCache()
    val p0 = executed(graft.operators.TimeSeriesOps.saxMultiProbe(spark, Sf))
    def unwrap(sp: SparkPlan): SparkPlan = sp match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def deepScans(sp: SparkPlan): Seq[FileSourceScanExec] = {
      val u = unwrap(sp)
      scans(u) ++ collectAll(u) {
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          m.relation.cachedPlan
      }.flatMap(deepScans)
    }
    val allScans = deepScans(p0)
    graft.operators.CacheScope.drain()
    val bandScans = allScans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("saxidx11/bands")))
    assert(bandScans.nonEmpty, "at-rest bands scan missing from serve plan")
    assert(bandScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "multi-probe band join lost its bb_bucket dynamic pruning: " +
        bandScans.map(_.partitionFilters).mkString("; "))
    // counts feed TWO arms: the candidates' fetch must be DPP'd, the
    // probes' fetch statically bucket-listed
    val countScans = allScans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("saxidx11/counts")))
    assert(countScans.size >= 2, "expected candidate + probe count reads")
    assert(countScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "candidate series fetch lost its u_bucket dynamic pruning: " +
        countScans.map(_.partitionFilters).mkString("; "))
    assert(countScans.forall(_.partitionFilters.exists(
        _.toString.contains("u_bucket"))),
      "a counts read lost its u_bucket partition predicate entirely")
    val wordScans = allScans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("saxidx11/words")))
    assert(wordScans.nonEmpty && wordScans.forall(
        _.partitionFilters.exists(_.toString.contains("u_bucket"))),
      "probe word read lost its static u_bucket pruning")
  }

  test("x26: the sign-code serve is generator- and shuffle-join-free — scan-bound words + broadcast probe") {
    spark.sharedState.cacheManager.clearCache()
    val p = executed(graft.operators.SimilarityOps.signHamming(spark, Sf))
    assert(collectAll(p) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.isEmpty, "signature build exploded — must be per-row column arithmetic")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "query probe degraded to a shuffle join")
    assert(collectAll(p) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.nonEmpty, "the Q query signatures must broadcast")
  }

  test("ly2: the rectangle read carries a static cell partition filter and lists only intersecting cells") {
    val lay = graft.operators.LayoutOps
    val p = executed(lay.zorderRangeRead(spark, Sf))
    val cellScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("zorder")))
    assert(cellScans.nonEmpty, "at-rest z-order scan missing from read plan")
    val pf = cellScans.head.partitionFilters
    assert(pf.exists(_.toString.contains("cell")),
      s"rectangle read lost its cell partition predicate: $pf")
    // the predicate is STATIC (plan-time cell list from cellsForRange)
    // — no subquery needed, unlike x11's runtime-probed DPP
    val cells = lay.cellsForRange(lay.RectU0, lay.RectU1, lay.RectD0, lay.RectD1)
      .map(c => s"cell=$c/").toSet
    val listed = cellScans.head.relation.location
      .listFiles(pf, cellScans.head.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(listed.nonEmpty && listed.forall(f => cells.exists(f.contains)),
      s"scan listed files outside the rectangle's cells: ${listed.take(3)}")
  }

  test("sx7: the SQL-TEXT index serve partition-prunes too — the literal IN predicate lists only probed buckets") {
    spark.sharedState.cacheManager.clearCache()
    val ret = graft.operators.RetrievalOps
    val p = executed(graft.operators.SqlSurfaceOps.sqlIndexServe(spark, Sf))
    val postScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("irindexsx7/postings")))
    assert(postScans.nonEmpty, "at-rest postings scan missing from SQL serve plan")
    val pf = postScans.head.partitionFilters
    assert(pf.exists(_.toString.contains("term_bucket")),
      s"SQL serve lost its term_bucket partition predicate: $pf")
    val buckets = ret.QueryTerms.map(ret.termBucketOf(_)).distinct
      .map(b => s"term_bucket=$b/").toSet
    val listed = postScans.head.relation.location
      .listFiles(pf, postScans.head.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(listed.nonEmpty && listed.forall(f => buckets.exists(f.contains)),
      s"SQL serve listed files outside the probed buckets: ${listed.take(3)}")
  }

  test("ir20: term-as-data serve DPP-prunes BOTH the postings and the dictionary reads") {
    spark.sharedState.cacheManager.clearCache()
    val p = executed(graft.operators.RetrievalOps.indexBatchServe(spark, Sf))
    for (art <- Seq("postings", "dict")) {
      val artScans = scans(p).filter(
        _.relation.location.rootPaths.exists(_.toString.contains(s"irindex20/$art")))
      assert(artScans.nonEmpty, s"at-rest $art scan missing from serve plan")
      assert(artScans.exists(_.partitionFilters.exists(
          _.toString.toLowerCase.contains("dynamicpruning"))),
        s"$art scan lost its term_bucket dynamic partition pruning: " +
          artScans.map(_.partitionFilters).mkString("; "))
    }
  }

  test("ir15: the probe reads the postings partition-pruned to the query's term buckets") {
    spark.sharedState.cacheManager.clearCache()
    val ret = graft.operators.RetrievalOps
    val p = executed(ret.indexServe(spark, Sf))
    val postScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("irindex/postings")))
    assert(postScans.nonEmpty, "at-rest postings scan missing from serve plan")
    val pf = postScans.head.partitionFilters
    assert(pf.exists(_.toString.contains("term_bucket")),
      s"probe lost its static term_bucket partition predicate: $pf")
    // the predicate is STATIC (driver-side termBucketOf — ly2's
    // discipline): the scan lists ONLY the probe terms' buckets
    val buckets = ret.QueryTerms.map(ret.termBucketOf(_))
      .map(b => s"term_bucket=$b/").toSet
    val listed = postScans.head.relation.location
      .listFiles(pf, postScans.head.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(listed.nonEmpty && listed.forall(f => buckets.exists(f.contains)),
      s"scan listed files outside the probed buckets: ${listed.take(3)}")
    // the SERVE side never touches documents.parquet — candidates,
    // dictionary and constants all come from the index files (the two
    // documents scans in the plan belong to the in-body BUILD writes)
    val top = p.collect { case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t }
    assert(top.nonEmpty, "serve lost its TakeOrderedAndProject top-k")
    assert(scans(top.head).forall(!_.relation.location.rootPaths
        .exists(_.toString.contains("documents"))),
      "the serve subtree re-reads the corpus")
  }

  test("ir17: the phrase serve reads the positional lists pruned to the phrase's buckets; no text scan in the serve") {
    spark.sharedState.cacheManager.clearCache()
    val ret = graft.operators.RetrievalOps
    val p = executed(ret.phraseAtRestServe(spark, Sf))
    // the probed read is persisted (three consumers), so the parquet
    // scan lives inside the cached plan — traverse through
    // InMemoryTableScanExec like d17's cap assertions do
    val nodes = deepNodes(p)
    val posScans = nodes.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("irindex17/positional")) => s
    }
    assert(posScans.nonEmpty, "at-rest positional scan missing from serve plan")
    val pf = posScans.head.partitionFilters
    assert(pf.exists(_.toString.contains("term_bucket")),
      s"phrase probe lost its static term_bucket partition predicate: $pf")
    val buckets = Seq(ret.Phrase._1, ret.Phrase._2).map(ret.termBucketOf(_))
      .map(b => s"term_bucket=$b/").toSet
    val listed = posScans.head.relation.location
      .listFiles(pf, posScans.head.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(listed.nonEmpty && listed.forall(f => buckets.exists(f.contains)),
      s"scan listed files outside the phrase's buckets: ${listed.take(3)}")
    // the serve never re-reads documents — the adjacency join and tf
    // rollup run off the index files alone (every file scan reachable
    // from the serve plan, cached subtrees included, is the index's)
    assert(nodes.collect { case s: FileSourceScanExec => s }
      .forall(!_.relation.location.rootPaths
        .exists(_.toString.contains("documents"))),
      "the serve re-reads the corpus")
  }

  test("x17: the compaction stage partition-prunes the codes scan to the affected cells") {
    val root = "target/graft-index/spec-x17-plan"
    val sim = graft.operators.SimilarityOps
    val c = sim.corpus(spark, Sf)
    sim.buildIndex(spark, root, c, sim.coarseCentroids(c), sim.pqSeedCents(c))
    sim.markTombstones(spark, root)
    val p = executed(sim.compactionStage(spark, root))
    val codeScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/codes")))
    assert(codeScans.nonEmpty, "codes scan missing from compaction stage")
    assert(codeScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "compaction would rescan the whole index: " +
        codeScans.map(_.partitionFilters).mkString("; "))
  }

  test("x12: the encode plan is codebook-agnostic — trained codebooks broadcast, corpus never self-joins") {
    val p = executed(graft.operators.SimilarityOps.pqEncodeTrained(spark, Sf))
    assert(collectAll(p) { case b: BroadcastExchangeExec => b }.nonEmpty,
      "codebooks must broadcast (seed or trained alike)")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "PQ encode must not shuffle-join the corpus")
    assert(!p.toString.contains("CartesianProduct"))
    // fit exchanges: (vec_id,m) argmin window, (m,cent_id,dim) mean,
    // (m,cent_id) rebuild; encode: vec_id pivot; plus presentation
    assert(shuffles(p).size <= 5, p.toString.take(2000))
  }

  test("d16: assignment cached once, pair stage equi-joins on cell — never all-pairs") {
    val p = executed(graft.operators.DedupOps.semDedup(spark, Sf))
    assert(!p.toString.contains("CartesianProduct"))
    // the within-cell stage must be an equi-join keyed on the cell —
    // a missing key here degenerates to the global O(n²) pair space
    val smj = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.exists(_.leftKeys.exists(_.toString.contains("cell_id"))),
      s"within-cell join lost its cell_id key: ${smj.map(_.leftKeys)}")
    // both pair sides read the PERSISTED assignment (the argmax window
    // runs once): two in-memory scans, and no embeddings file scan
    // outside the cached subtree
    val mem = collectAll(p) {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
    }
    assert(mem.size == 2, s"expected 2 cached-assignment reads, got ${mem.size}")
    assert(scans(p).isEmpty,
      "a consumer bypassed the cached assignment and re-scanned parquet")
  }

  /** EVERY physical node reachable from `p` — through adaptive
    * wrappers, finalized query stages AND persisted consumers'
    * cachedPlans (the winnowing tier's cap machinery lives inside the
    * persisted `kept`/`fp` frames, invisible to the outer plan, and a
    * materialized cache nests its own AdaptiveSparkPlanExec → query
    * stages). */
  private def deepNodes(p: SparkPlan): Seq[SparkPlan] = {
    val through: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    p +: (p.children ++ p.subqueries ++ through).flatMap(deepNodes)
  }

  test("d17: the DF cap is a broadcast anti-join, never a full-width window shuffle") {
    val nodes = deepNodes(
      graft.operators.DedupOps.winnowing(spark, Sf).queryExecution.executedPlan)
    // the regression this pins against: computing document frequency
    // with count() OVER (PARTITION BY h) shuffles every (doc_id, h)
    // row just to learn its DF — the pre-aggregated groupBy + broadcast
    // anti-join form must keep d17 entirely Window-free, INCLUDING the
    // persisted kept frame's cached plan
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"d17 regained a window: ${windows.take(1)}")
    val anti = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType.toString.contains("LeftAnti") => j
    }
    assert(anti.nonEmpty, "the over-cap filter must be a broadcast anti-join")
    // the pair stage must stay a hashed equi-join keyed on the
    // fingerprint (broadcast at fixture scale, shuffled-hash/SMJ at
    // real scale) — losing the key degenerates to the global pair space
    val equi = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType.toString == "Inner" => j.leftKeys
    }
    assert(equi.exists(_.exists(_.toString.startsWith("h"))),
      s"pair join lost its fingerprint key: $equi")
    assert(!nodes.exists(_.getClass.getSimpleName.contains("CartesianProduct")))
  }

  test("d19: append is window-free; eviction is a broadcast anti-join over both halves") {
    val nodes = deepNodes(graft.operators.DedupOps
      .winnowingAppend(spark, Sf).queryExecution.executedPlan)
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, "d19 must not window-shuffle fingerprints")
    val anti = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType.toString.contains("LeftAnti") => j
    }
    assert(anti.nonEmpty, "cap eviction must be a broadcast anti-join")
    assert(!nodes.exists(_.getClass.getSimpleName.contains("CartesianProduct")))
  }

  test("ap5: sketch is a bounded partial aggregate over one cached distinct pass") {
    val p = executed(graft.operators.ApproxOps.kmvOverlap(spark, Sf))
    assert(!p.toString.contains("CartesianProduct"),
      "the lang×lang pair frame must broadcast-nested-loop, not cartesian")
    // the KMV aggregate must run as ObjectHashAggregate with a partial
    // phase (the bounded heap merges map-side like any partial agg);
    // it lives inside the persisted sketch frame's cached plan
    val cached = collectAll(p) {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        m.relation.cachedPlan.toString
    }
    assert(cached.exists(t =>
        t.contains("ObjectHashAggregate") && t.contains("topk_by")),
      "topk_by left ObjectHashAggregate — the bottom-k no longer partial-aggregates")
    // two persisted intermediates: the distinct (lang, hash) set (read
    // by both exact-companion join sides) and the per-lang sketch frame
    // (read by both pair-join sides — the aggregate itself runs once);
    // documents.parquet is scanned only inside the cached subtrees
    val mem = collectAll(p) {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
    }
    assert(mem.size == 4, s"expected 4 cached reads (2 sketch + 2 exact), got ${mem.size}")
    assert(scans(p).isEmpty,
      "a consumer bypassed the cached distinct set and re-scanned parquet")
  }

  // pins a sweep's survivor read (the AtRest.sweepSurvivors tree every
  // AtRest.sweepBuckets delta routes through): a STATIC predicate on the
  // bucket column, only the target directories listed, and the request
  // side broadcast into the anti-join
  private def assertSweepPinned(table: String, pcol: String, targets: Seq[Int],
      req: DataFrame, keys: Seq[String], tag: String): Unit = {
    val p = executed(graft.operators.AtRest.sweepSurvivors(spark,
      table, pcol, targets, req, keys))
    val idxScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains(tag)))
    assert(idxScans.nonEmpty, s"$tag: table scan missing from the survivor plan")
    val pf = idxScans.head.partitionFilters
    assert(pf.exists(_.toString.contains(pcol)),
      s"$tag: survivor read lost its $pcol partition predicate: $pf")
    val dirs = targets.map(b => s"$pcol=$b/").toSet
    val listed = idxScans.head.relation.location
      .listFiles(pf, idxScans.head.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(listed.nonEmpty && listed.forall(f => dirs.exists(f.contains)),
      s"$tag: survivor read listed files outside the target buckets: ${listed.take(3)}")
    assert(collectAll(p) { case b: BroadcastExchangeExec => b }.nonEmpty,
      s"$tag: the request side must broadcast into the anti-join")
  }

  test("c6: the forget's survivor read carries a STATIC shard predicate and lists only target dirs") {
    val root = graft.operators.SimilarityOps.indexRoot(spark, Sf) + "/shardpin6"
    graft.operators.TextOps.writeShardStore(spark, root,
      graft.sources.Tables.documents(spark, Sf))
    import spark.implicits._
    assertSweepPinned(s"$root/shards", "shard_id", Seq(3, 7),
      Seq(30L, 70L).toDF("doc_id"), Seq("doc_id"), "shardpin6")
  }

  test("ir22: the forget sweep's survivor read carries a STATIC term_bucket predicate and lists only target dirs") {
    val root = graft.operators.SimilarityOps.indexRoot(spark, Sf) + "/irpin22"
    graft.operators.RetrievalOps.writePostingsIndex(spark, root,
      graft.sources.Tables.documents(spark, Sf))
    import spark.implicits._
    assertSweepPinned(s"$root/postings", "term_bucket", Seq(2, 9),
      Seq(30L, 70L).toDF("doc_id"), Seq("doc_id"), "irpin22")
  }

  test("dq8: the enforcement's survivor read carries a STATIC qi_bucket predicate and lists only violating dirs") {
    val root = graft.operators.SimilarityOps.indexRoot(spark, Sf) + "/dqpin8"
    graft.operators.AuditOps.writeRelease(spark, root,
      graft.sources.Tables.documents(spark, Sf))
    import spark.implicits._
    val bad = Seq(("xx", "web", 3)).toDF("lang", "source", "len_bucket")
    assertSweepPinned(s"$root/release", "qi_bucket", Seq(1, 6),
      bad, Seq("lang", "source", "len_bucket"), "dqpin8")
  }

  test("m8: the takedown's bands scan carries a STATIC chunk_bucket predicate and lists only target dirs") {
    val mm = graft.operators.MultimodalOps
    val root = graft.operators.SimilarityOps.indexRoot(spark, Sf) + "/m8pin"
    mm.writePhashStore(spark, root, mm.media(spark, Sf))
    import spark.implicits._
    assertSweepPinned(s"$root/bands", "chunk_bucket", Seq(4, 11),
      Seq(("image", 30L)).toDF("kind", "rep_id"), Seq("kind", "rep_id"), "m8pin")
  }

  test("shared sweep verb: every round-17 forget's survivor read carries a STATIC bucket predicate and lists only target dirs (ir23/d31/d32/d33/x33)") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, Sf)
    val base = graft.operators.SimilarityOps.indexRoot(spark, Sf)
    // build each family's table once, then pin the sweep's survivor
    // frame — the SAME AtRest.sweepSurvivors tree every new forget
    // routes through, instantiated per layout
    val d = graft.operators.DedupOps
    val r = graft.operators.RetrievalOps
    r.writePositionalIndex(spark, s"$base/sweeppin23", docs)
    d.writeShingleIndex(spark, s"$base/sweeppin31", docs)
    d.writeWinnowIndex(spark, s"$base/sweeppin32", docs)
    d.writeSimhashIndex(spark, s"$base/sweeppin33", docs)
    graft.operators.SimilarityOps.buildSq8Maintained(spark,
      s"$base/sweeppinx33", graft.sources.Tables.embeddings(spark, Sf))
    val families = Seq(
      (s"$base/sweeppin23/positional", "term_bucket", "doc_id", "sweeppin23"),
      (s"$base/sweeppin31/postings", "sh_bucket", "doc_id", "sweeppin31"),
      (s"$base/sweeppin32/kept", "h_bucket", "doc_id", "sweeppin32"),
      (s"$base/sweeppin33/chunks", "chunk_bucket", "doc_id", "sweeppin33"),
      (s"$base/sweeppinx33/codes", "cell_id", "vec_id", "sweeppinx33"))
    families.foreach { case (table, pcol, key, tag) =>
      assertSweepPinned(table, pcol, Seq(2, 9),
        Seq(30L, 70L).toDF(key), Seq(key), tag)
    }
  }

  test("ap7: the cross-store algebra reads ONLY the two sketch stores — no corpus scan anywhere") {
    val ap = graft.operators.ApproxOps
    val docs = graft.sources.Tables.documents(spark, Sf)
    import org.apache.spark.sql.functions.col
    val rootA = graft.operators.SimilarityOps.indexRoot(spark, Sf) + "/ap7pinA"
    val rootB = graft.operators.SimilarityOps.indexRoot(spark, Sf) + "/ap7pinB"
    ap.writeSketchStore(spark, rootA, docs.filter(col("doc_id") % 2 === 0))
    ap.writeSketchStore(spark, rootB, docs.filter(col("doc_id") % 2 =!= 0))
    val p = executed(ap.sketchAlgebraServe(spark, rootA, rootB))
    val all = scans(p)
    assert(all.nonEmpty, "no scans in the algebra plan")
    all.foreach { sc =>
      val roots = sc.relation.location.rootPaths.map(_.toString)
      assert(roots.forall(r => r.contains("ap7pinA") || r.contains("ap7pinB")),
        s"the serve scanned something beyond the stores: $roots")
    }
  }

  test("c5: the manifest recount column-prunes the payload — text bytes are never read") {
    val tx = graft.operators.TextOps
    val root = graft.operators.SimilarityOps.indexRoot(spark, Sf) + "/shardpin5"
    tx.writeShardStore(spark, root, graft.sources.Tables.documents(spark, Sf))
    val p = executed(tx.shardManifestFrom(spark, root))
    val storeScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("shardpin5")))
    assert(storeScans.nonEmpty, "store scan missing from the manifest plan")
    val read = storeScans.head.requiredSchema.fieldNames.toSet
    assert(read == Set("n_tok", "h"),
      s"manifest must read exactly (n_tok, h) beside the partition column, got $read")
  }
}
