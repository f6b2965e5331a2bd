package graft

import org.apache.spark.sql.functions._
import graft.operators.{AtRest, CacheScope, DedupOps, RetrievalOps,
  TimeSeriesOps => TS}

/** The shared bin-pack ([[graft.operators.AtRest.compactBucketedTable]],
  * extracted from ir19) applied per at-rest family, with the ir19
  * invariants pinned for EACH: only accreted buckets rewritten,
  * untouched buckets' file sets byte-identical, serve-before ==
  * serve-after, re-compact a no-op — plus the documented crash points
  * EXERCISED (stage-only, mid-overwrite, and the winnow eviction's
  * wdf-merged-kept-not-rewritten state), and the round-16
  * bucket-scoped metadata merges' minimality (an append leaves
  * non-touched metadata buckets' files byte-identical). */
class CompactionSpec extends SparkSpec {

  private def rmRoot(root: String): Unit = {
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    ()
  }

  private def fileSig(root: String, art: String, pcol: String)
      : Map[Int, Seq[(String, Long, Long)]] =
    new java.io.File(s"$root/$art").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(s"$pcol="))
      .map { d =>
        d.getName.stripPrefix(s"$pcol=").toInt ->
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
      }.toMap

  private def assertCompactionInvariants(root: String, art: String,
      pcol: String, sortCols: Seq[org.apache.spark.sql.Column] = Nil): Unit = {
    val table = s"$root/$art"
    // to_json canonicalizes nested/binary cells (x33's packed codes
    // would otherwise compare by array identity)
    def canonRows() = spark.read.parquet(table)
      .select(to_json(struct(col("*"))).as("j"))
      .collect().map(_.getString(0)).sorted.toSeq
    val rowsBefore = canonRows()
    val pre = fileSig(root, art, pcol)
    val affected = AtRest.compactBucketedTable(spark, table, pcol,
      sortCols = sortCols)
    assert(affected.nonEmpty, s"fixture regression: nothing accreted in $art")
    val post = fileSig(root, art, pcol)
    (pre.keySet -- affected).foreach { b =>
      assert(post(b) == pre(b), s"compaction rewrote untouched $art bucket $b")
    }
    affected.foreach { b =>
      assert(post(b).size == 1, s"$art bucket $b not packed to one file")
    }
    val rowsAfter = canonRows()
    assert(rowsAfter == rowsBefore, s"compaction changed $art rows")
    assert(AtRest.compactBucketedTable(spark, table, pcol,
        sortCols = sortCols).isEmpty,
      s"re-compacting $art was not a no-op")
    assert(fileSig(root, art, pcol) == post,
      s"the no-op re-compact still rewrote $art files")
  }

  test("band index: the shared bin-pack compacts bands AND docsets with the ir19 invariants; probe unchanged") {
    spark.sharedState.cacheManager.clearCache()
    val root = "target/graft-index/spec-compact-band"
    rmRoot(root)
    val docs = graft.sources.Tables.documents(spark, Sf)
    val standing = docs.filter(col("doc_id") % DedupOps.IncomingMod =!= 0)
    val incoming = docs.filter(col("doc_id") % DedupOps.IncomingMod === 0)
    // the build/append split must NOT correlate with id_bucket
    // (= doc_id % 16): a % 2 split would make every appended docsets
    // row the FIRST file of its bucket and nothing would accrete
    val half = expr("(doc_id div 16) % 2")
    DedupOps.writeBandIndex(spark, root, standing.filter(half =!= 0))
    AtRest.compactBucketedTable(spark, s"$root/bands", "band_bucket")
    AtRest.compactBucketedTable(spark, s"$root/docsets", "id_bucket")
    DedupOps.appendBandIndex(spark, root, standing.filter(half === 0))
    CacheScope.drain()
    val before = DedupOps.bandProbeAgainst(spark, root, incoming)
      .collect().map(_.toString).sorted.toSeq
    CacheScope.drain()
    assertCompactionInvariants(root, "bands", "band_bucket")
    assertCompactionInvariants(root, "docsets", "id_bucket")
    val after = DedupOps.bandProbeAgainst(spark, root, incoming)
      .collect().map(_.toString).sorted.toSeq
    CacheScope.drain()
    assert(after == before, "compaction changed the band-probe verdicts")
  }

  test("winnow index: the kept serving table and the wfp base compact with the ir19 invariants; probe unchanged") {
    spark.sharedState.cacheManager.clearCache()
    val root = "target/graft-index/spec-compact-winnow"
    rmRoot(root)
    val docs = graft.sources.Tables.documents(spark, Sf)
    val standing = docs.filter(col("doc_id") % DedupOps.IncomingMod =!= 0)
    val incoming = docs.filter(col("doc_id") % DedupOps.IncomingMod === 0)
    DedupOps.writeWinnowIndex(spark, root, standing.filter(col("doc_id") % 2 =!= 0))
    AtRest.compactBucketedTable(spark, s"$root/kept", "h_bucket")
    AtRest.compactBucketedTable(spark, s"$root/wfp", "h_bucket")
    DedupOps.appendWinnowIndex(spark, root, standing.filter(col("doc_id") % 2 === 0))
    CacheScope.drain()
    val before = DedupOps.winnowProbeAgainst(spark, root, incoming)
      .collect().map(_.toString).sorted.toSeq
    CacheScope.drain()
    assertCompactionInvariants(root, "kept", "h_bucket")
    assertCompactionInvariants(root, "wfp", "h_bucket")
    val after = DedupOps.winnowProbeAgainst(spark, root, incoming)
      .collect().map(_.toString).sorted.toSeq
    CacheScope.drain()
    assert(after == before, "compaction changed the winnow-probe verdicts")
  }

  test("sq8 codes: the x33 cell table compacts with the ir19 invariants; serve unchanged (the matrix row's compact verb)") {
    spark.sharedState.cacheManager.clearCache()
    val root = "target/graft-index/spec-compact-sq8"
    rmRoot(root)
    val emb = graft.sources.Tables.embeddings(spark, Sf)
    val S = graft.operators.SimilarityOps
    // build-then-append so the cell dirs accrete ≥ 2 files each
    val half = expr("(vec_id div 16) % 2")
    S.buildSq8Maintained(spark, root, emb.filter(half =!= 0 ||
      col("vec_id") < S.NumQueries + S.NumCentroids))
    S.appendSq8Maintained(spark, root, emb.filter(half === 0 &&
      col("vec_id") >= S.NumQueries + S.NumCentroids))
    CacheScope.drain()
    def serve() = S.sq8CellServeAgainst(
        spark.read.parquet(s"$root/codes"),
        spark.read.parquet(s"$root/queries")
          .filter(col("vec_id") < S.NumQueries)
          .select(col("vec_id").as("query_id"), col("codes").as("qcodes"),
            col("cell_id").as("q_cell")))
      .collect().map(_.toString).sorted.toSeq
    val before = serve()
    CacheScope.drain()
    assertCompactionInvariants(root, "codes", "cell_id")
    val after = serve()
    CacheScope.drain()
    assert(after == before, "compaction changed the SQ8 cell serve")
    rmRoot(root)
  }

  test("positional index: compaction preserves the promised per-file (tok, doc_id, pos) order; phrase serve unchanged") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val root = "target/graft-index/spec-compact-pos"
    rmRoot(root)
    val docs = graft.sources.Tables.documents(spark, Sf)
    RetrievalOps.writePositionalIndex(spark, root,
      docs.filter(col("doc_id") % DedupOps.IncomingMod =!= 0))
    RetrievalOps.appendPositionalIndex(spark, root,
      docs.filter(col("doc_id") % DedupOps.IncomingMod === 0))
    val before = RetrievalOps.positionalServe(spark, root)
      .collect().map(_.toString).sorted.toSeq
    val sortCols = Seq(col("tok"), col("doc_id"), col("pos"))
    assertCompactionInvariants(root, "positional", "term_bucket", sortCols)
    val after = RetrievalOps.positionalServe(spark, root)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "compaction changed the phrase serve")
    // the promised per-file order survived the bin-pack: scan one
    // compacted bucket's single file in arrival order
    val buckets = new java.io.File(s"$root/positional").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("term_bucket="))
    val one = buckets.head.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(one.length == 1)
    val scanned = spark.read.parquet(one.head.getPath).coalesce(1)
      .select(col("tok"), col("doc_id"), col("pos"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(scanned == scanned.sorted,
      "compaction destroyed the per-file (tok, doc_id, pos) order")
  }

  test("SAX counts: the maintained base compacts with the ir19 invariants; the at-rest serve unchanged") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val root = "target/graft-index/spec-compact-sax"
    rmRoot(root)
    val standing = (0L until 64L)
      .map(u => (u, 1000L + TS.SegDays * (u % TS.NumSegs), 1L))
      .toDF("user_id", "day", "cnt")
    val batch = (0L until 64L).map(u => (u, 1001L + TS.SegDays * (u % TS.NumSegs), 2L))
      .toDF("user_id", "day", "cnt")
    TS.writeSaxIndex(spark, root, standing)
    TS.updateSaxIndex(spark, root, batch)
    val before = TS.saxServeFrom(spark, root)
      .collect().map(_.toString).toSeq
    CacheScope.drain()
    assertCompactionInvariants(root, "counts", "u_bucket")
    val after = TS.saxServeFrom(spark, root)
      .collect().map(_.toString).toSeq
    CacheScope.drain()
    assert(after == before, "compaction changed the SAX at-rest serve")
  }

  test("sign signatures: the appended table compacts with the ir19 invariants; the Hamming serve unchanged") {
    val so = graft.operators.SimilarityOps
    spark.sharedState.cacheManager.clearCache()
    val root = "target/graft-index/spec-compact-sign"
    rmRoot(root)
    val vecs = graft.sources.Tables.embeddings(spark, Sf)
    so.writeSignIndex(spark, root, vecs.filter(col("vec_id") % 5 =!= 0))
    so.appendSignIndex(spark, root, vecs.filter(col("vec_id") % 5 === 0))
    val before = so.signServeFrom(spark, root)
      .collect().map(_.toString).toSeq
    CacheScope.drain()
    assertCompactionInvariants(root, "signatures", "id_bucket")
    val after = so.signServeFrom(spark, root)
      .collect().map(_.toString).toSeq
    CacheScope.drain()
    assert(after == before, "compaction changed the sign serve")
  }

  test("pHash members: the appended reverse map compacts with the ir19 invariants") {
    import spark.implicits._
    val mm = graft.operators.MultimodalOps
    spark.sharedState.cacheManager.clearCache()
    val root = "target/graft-index/spec-compact-m8"
    rmRoot(root)
    val med = mm.media(spark, Sf)
    mm.writePhashStore(spark, root, med.filter(col("media_id") % 5 =!= 0))
    // a second generation of files per touched digest bucket: append
    // the rest through the store's own member-row path (build the
    // delta and land it append-mode the way a production ingest does)
    med.filter(col("media_id") % 5 === 0)
      .select(col("kind"), md5(col("payload")).as("digest"), col("media_id"))
      .withColumn("dg_bucket", mm.digestBucketCol)
      .write.mode("append").partitionBy("dg_bucket")
      .parquet(s"$root/members")
    assertCompactionInvariants(root, "members", "dg_bucket")
  }

  test("ir19: compaction packs the doc-bucketed doclen too — build + two appends leave at most one file per doclen bucket, doclen and consts rows unchanged") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val root = "target/graft-index/spec-compact-doclen"
    rmRoot(root)
    RetrievalOps.writePostingsIndex(spark, root,
      graft.sources.Tables.documents(spark, Sf))
    // two appends, each spreading over several doc buckets
    RetrievalOps.appendPostingsIndex(spark, root,
      (930001L to 930040L).map(i => (i, s"doclenprobe t$i")).toDF("doc_id", "text"))
    RetrievalOps.appendPostingsIndex(spark, root,
      (940001L to 940040L).map(i => (i, s"doclenprobe u$i")).toDF("doc_id", "text"))
    def canon(art: String) = spark.read.parquet(s"$root/$art")
      .select(to_json(struct(col("*"))).as("j"))
      .collect().map(_.getString(0)).sorted.toSeq
    val (doclenBefore, constsBefore) = (canon("doclen"), canon("consts"))
    assert(fileSig(root, "doclen", "doc_bucket").values.exists(_.size > 1),
      "fixture regression: the appends accreted no doclen bucket")
    RetrievalOps.compactPostingsIndex(spark, root)
    val after = fileSig(root, "doclen", "doc_bucket")
    assert(after.nonEmpty && after.values.forall(_.size <= 1),
      s"doclen buckets left with several files: ${after.filter(_._2.size > 1).keys}")
    assert(canon("doclen") == doclenBefore, "compaction changed doclen rows")
    assert(canon("consts") == constsBefore, "compaction changed consts")
  }

  test("ir19 crash point: stage written, apply never ran — serve intact; the rerun completes") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val root = "target/graft-index/spec-compact-crashA"
    rmRoot(root)
    val docs = graft.sources.Tables.documents(spark, Sf)
    RetrievalOps.writePostingsIndex(spark, root, docs)
    RetrievalOps.compactPostingsIndex(spark, root)
    val batch = Seq((910001L, "compactprobe compactprobe"), (910002L, "compactprobe"))
      .toDF("doc_id", "text")
    RetrievalOps.appendPostingsIndex(spark, root, batch)
    spark.sharedState.cacheManager.clearCache()
    val baseline = RetrievalOps.serveFromIndex(spark, root)
      .collect().map(_.toString).sorted.toSeq
    val table = s"$root/postings"
    val affected = AtRest.accretedBuckets(spark, table, "term_bucket", 1)
    assert(affected.nonEmpty)
    val pre = fileSig(root, "postings", "term_bucket")
    // CRASH A: the staging write completed, the overwrite never ran —
    // the table is untouched and any serve answers the baseline
    AtRest.stageCompaction(spark, table, "term_bucket", affected)
    assert(fileSig(root, "postings", "term_bucket") == pre,
      "staging alone must not touch the table")
    assert(RetrievalOps.serveFromIndex(spark, root)
        .collect().map(_.toString).sorted.toSeq == baseline,
      "serve changed with a staged-but-unapplied compaction")
    // the rerun starts from the top and completes
    assert(RetrievalOps.compactPostingsIndex(spark, root) == affected)
    assert(RetrievalOps.postingsBucketFiles(spark, root)
        .values.forall(_.size == 1))
    assert(RetrievalOps.serveFromIndex(spark, root)
        .collect().map(_.toString).sorted.toSeq == baseline,
      "serve changed after crash-recovery compaction")
  }

  test("ir19 crash point: overwrite died mid-way — compacted buckets skip, accreted buckets re-stage, serve intact") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val root = "target/graft-index/spec-compact-crashB"
    rmRoot(root)
    val docs = graft.sources.Tables.documents(spark, Sf)
    RetrievalOps.writePostingsIndex(spark, root, docs)
    RetrievalOps.compactPostingsIndex(spark, root)
    // two hot tokens in DISTINCT buckets so the overwrite can die
    // between them (picked deterministically at runtime)
    val cands = (1 to 40).map(i => s"crashtok$i")
    val t1 = cands.head
    val t2 = cands.tail.find(t =>
      RetrievalOps.termBucketOf(t) != RetrievalOps.termBucketOf(t1)).get
    val batch = Seq((920001L, s"$t1 $t1 $t2"), (920002L, s"$t2 $t1"))
      .toDF("doc_id", "text")
    RetrievalOps.appendPostingsIndex(spark, root, batch)
    spark.sharedState.cacheManager.clearCache()
    val baseline = RetrievalOps.serveFromIndex(spark, root)
      .collect().map(_.toString).sorted.toSeq
    val table = s"$root/postings"
    val affected = AtRest.accretedBuckets(spark, table, "term_bucket", 1)
    assert(affected.size == 2, s"fixture regression: accreted $affected")
    // the partial apply: stage both buckets, commit ONE, die
    AtRest.stageCompaction(spark, table, "term_bucket", affected)
    spark.read.parquet(s"${table}_staging")
      .filter(col("term_bucket") === affected.head)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("term_bucket").parquet(table)
    // every replaced partition holds the rows it held before — a
    // serve at this intermediate state answers the baseline
    assert(RetrievalOps.serveFromIndex(spark, root)
        .collect().map(_.toString).sorted.toSeq == baseline,
      "serve changed mid-crash")
    // the rerun's listing skips the committed bucket and re-stages
    // exactly the still-accreted one
    assert(RetrievalOps.compactPostingsIndex(spark, root) ==
      Seq(affected.last))
    assert(RetrievalOps.postingsBucketFiles(spark, root)
        .values.forall(_.size == 1))
    assert(RetrievalOps.serveFromIndex(spark, root)
        .collect().map(_.toString).sorted.toSeq == baseline,
      "serve changed after mid-crash recovery")
  }

  test("d27 crash point: wdf merged but kept never evicted — rerun + heal equals the rebuild") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    // the d27-evict planted fixture: Cap docs share a paragraph AT the
    // cap, the fresh doc pushes it over
    val root = "target/graft-index/spec-compact-crashC"
    val rootRef = "target/graft-index/spec-compact-crashCref"
    Seq(root, rootRef).foreach(rmRoot)
    val para = (0 until 12).map(i => s"cp$i").mkString(" ")
    val corpus = (1L to DedupOps.WinnowCap).map(i =>
      (i, s"c${i}a c${i}b c${i}c " + para)).toDF("doc_id", "text")
    val fresh = Seq((200L, "cq1 cq2 cq3 " + para)).toDF("doc_id", "text")
    DedupOps.writeWinnowIndex(spark, root, corpus)
    // the crash state: the batch's base rows LANDED and the stats
    // merge COMMITTED (recounting from the landed base equals the
    // bucket-scoped merge), but the kept eviction never ran — kept
    // still holds the now-over-cap hashes
    DedupOps.winnowedFingerprints(fresh)
      .withColumn("h_bucket", DedupOps.winnowBucketCol(col("h")))
      .localCheckpoint()
      .write.mode("append").partitionBy("h_bucket").parquet(s"$root/wfp")
    val w = spark.read.parquet(s"$root/wfp")
    w.groupBy(col("h_bucket"), col("h")).agg(count(lit(1)).as("nd"))
      .localCheckpoint()
      .write.mode("overwrite").partitionBy("h_bucket").parquet(s"$root/wdf")
    val overStale = spark.read.parquet(s"$root/wdf")
      .filter(col("nd") > DedupOps.WinnowCap).select(col("h"))
      .collect().map(_.getLong(0)).toSet
    assert(overStale.nonEmpty, "fixture regression: nothing crossed the cap")
    assert(spark.read.parquet(s"$root/kept")
        .filter(col("h").isin(overStale.toSeq: _*)).count() > 0,
      "fixture regression: the crash state must leave kept stale")
    // recovery: rerun the append (a row-level no-op — the crossing
    // delta resolves empty, so the rerun alone cannot evict) + heal
    DedupOps.appendWinnowIndex(spark, root, fresh)
    CacheScope.drain()
    DedupOps.healWinnowIndex(spark, root)
    DedupOps.writeWinnowIndex(spark, rootRef, corpus.unionByName(fresh))
    for (art <- Seq("wfp", "wdf", "kept")) {
      val a = spark.read.parquet(s"$root/$art")
      val b = spark.read.parquet(s"$rootRef/$art")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"healed $art != rebuilt")
    }
  }

  test("postings append: non-touched blockmeta/dict buckets keep their files byte-identical") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val root = "target/graft-index/spec-meta-scope"
    rmRoot(root)
    val docs = graft.sources.Tables.documents(spark, Sf)
    RetrievalOps.writePostingsIndex(spark, root, docs)
    val tok = "metascopeprobe"
    val hot = RetrievalOps.termBucketOf(tok)
    val mBefore = fileSig(root, "blockmeta", "term_bucket")
    val dBefore = fileSig(root, "dict", "term_bucket")
    RetrievalOps.appendPostingsIndex(spark, root,
      Seq((930001L, s"$tok $tok")).toDF("doc_id", "text"))
    val mAfter = fileSig(root, "blockmeta", "term_bucket")
    val dAfter = fileSig(root, "dict", "term_bucket")
    assert(mAfter(hot) != mBefore(hot) && dAfter(hot) != dBefore(hot),
      "the touched metadata bucket must rewrite")
    (mBefore.keySet - hot).foreach { b =>
      assert(mAfter(b) == mBefore(b), s"append rewrote untouched blockmeta bucket $b")
    }
    (dBefore.keySet - hot).foreach { b =>
      assert(dAfter(b) == dBefore(b), s"append rewrote untouched dict bucket $b")
    }
  }

  test("winnow append: non-touched wdf buckets keep their files byte-identical") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val root = "target/graft-index/spec-wdf-scope"
    rmRoot(root)
    val docs = graft.sources.Tables.documents(spark, Sf)
    DedupOps.writeWinnowIndex(spark, root,
      docs.filter(col("doc_id") % DedupOps.IncomingMod =!= 0))
    // a one-doc batch touches only its own fingerprints' hash buckets
    val one = docs.filter(col("doc_id") % DedupOps.IncomingMod === 0)
      .orderBy(col("doc_id")).limit(1)
    val touched = DedupOps.winnowedFingerprints(one)
      .select(DedupOps.winnowBucketCol(col("h")).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(touched.nonEmpty && touched.size < DedupOps.WinnowBuckets,
      s"fixture regression: one doc touched $touched")
    val before = fileSig(root, "wdf", "h_bucket")
    DedupOps.appendWinnowIndex(spark, root, one)
    CacheScope.drain()
    val after = fileSig(root, "wdf", "h_bucket")
    (before.keySet -- touched).foreach { b =>
      assert(after(b) == before(b), s"append rewrote untouched wdf bucket $b")
    }
  }
}
