package graft

import org.apache.spark.sql.functions.col
import graft.operators.DedupOps

/** The at-rest shingle index (d22/d23): the ir16 guarantees —
  * append == rebuild row-exact on every artifact, retried appends are
  * no-ops, and the at-rest serves are bit-identical to the text-side
  * scans they replace. The DPP plan pin lives in PlanContractSpec. */
class DedupAtRestSpec extends SparkSpec {

  private val Artifacts = Seq("postings", "shset", "docstats")

  test("d22: the at-rest decontamination serve is bit-identical to d8's text-side scan") {
    spark.sharedState.cacheManager.clearCache()
    val served = DedupOps.decontamAtRest(spark, Sf).collect().toSeq
    graft.operators.CacheScope.drain()
    val scan = DedupOps.decontaminate(spark, Sf).collect().toSeq
    assert(scan.nonEmpty && served == scan,
      "at-rest decontamination serve drifted from the text-side scan")
  }

  test("d23: shingle-index append == rebuild row-exact on every artifact; serve == d12") {
    spark.sharedState.cacheManager.clearCache()
    val docs = graft.sources.Tables.documents(spark, Sf)
    val train = docs.withColumn("split", DedupOps.splitCol)
      .filter(col("split") === "train").drop("split")
    val rootA = "target/graft-index/spec-d23-append"
    val rootB = "target/graft-index/spec-d23-rebuild"
    DedupOps.writeShingleIndex(spark, rootA,
      train.filter(col("doc_id") % DedupOps.IncomingMod =!= 0))
    DedupOps.appendShingleIndex(spark, rootA,
      train.filter(col("doc_id") % DedupOps.IncomingMod === 0))
    graft.operators.CacheScope.drain()
    DedupOps.writeShingleIndex(spark, rootB, train)
    // set-union dictionary + per-doc facts: appended == rebuilt, row-exact
    for (art <- Artifacts) {
      val a = spark.read.parquet(s"$rootA/$art")
      val b = spark.read.parquet(s"$rootB/$art")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"append != rebuild on $art")
    }
    // and the registered query (which appends internally) equals d12's
    // text-side scan bit-exactly
    val served = DedupOps.leakageAtRest(spark, Sf).collect().toSeq
    graft.operators.CacheScope.drain()
    val scan = DedupOps.splitLeakage(spark, Sf).collect().toSeq
    assert(scan.nonEmpty && served == scan,
      "maintained-index leakage serve drifted from the text-side audit")
  }

  test("d23: a retried shingle append is a no-op on every artifact (exactly-once)") {
    spark.sharedState.cacheManager.clearCache()
    val docs = graft.sources.Tables.documents(spark, Sf)
    val train = docs.withColumn("split", DedupOps.splitCol)
      .filter(col("split") === "train").drop("split")
    val root = "target/graft-index/spec-d23-retry"
    val batch = train.filter(col("doc_id") % DedupOps.IncomingMod === 0)
    DedupOps.writeShingleIndex(spark, root,
      train.filter(col("doc_id") % DedupOps.IncomingMod =!= 0))
    DedupOps.appendShingleIndex(spark, root, batch)
    graft.operators.CacheScope.drain()
    def canon(art: String) = spark.read.parquet(s"$root/$art")
      .collect().map(_.toString).sorted.toSeq
    val once = Artifacts.map(a => a -> canon(a)).toMap
    // the retry: a rerun after ANY crash replays the same batch — the
    // anti-join guards must land nothing new on any artifact
    DedupOps.appendShingleIndex(spark, root, batch)
    graft.operators.CacheScope.drain()
    once.foreach { case (art, rows) =>
      assert(canon(art) === rows, s"retry changed $art — append not idempotent")
    }
  }

  test("d24: the at-rest band-index pair audit is bit-identical to d2's in-memory pipeline") {
    spark.sharedState.cacheManager.clearCache()
    val served = DedupOps.bandPairsAtRest(spark, Sf).collect().toSeq
    graft.operators.CacheScope.drain()
    val scan = DedupOps.minhashLsh(spark, Sf).collect().toSeq
    assert(scan.nonEmpty && served == scan,
      "at-rest band pair audit drifted from d2")
  }

  test("d25: the DPP probe against the maintained band index is bit-identical to d15") {
    spark.sharedState.cacheManager.clearCache()
    val served = DedupOps.bandProbeAtRest(spark, Sf).collect().toSeq
    graft.operators.CacheScope.drain()
    val scan = DedupOps.minhashIncremental(spark, Sf).collect().toSeq
    assert(scan.nonEmpty && served == scan,
      "at-rest band probe drifted from d15")
    assert(served.exists(_.getAs[String]("verdict") == "near_dup_of_corpus") &&
      served.exists(_.getAs[String]("verdict") == "new"),
      "fixture regression: both verdicts should occur")
  }

  test("d25: band-index append == rebuild row-exact on both artifacts; a retried append is a no-op") {
    spark.sharedState.cacheManager.clearCache()
    val docs = graft.sources.Tables.documents(spark, Sf)
    val standing = docs.filter(col("doc_id") % DedupOps.IncomingMod =!= 0)
    val rootA = "target/graft-index/spec-d25-append"
    val rootB = "target/graft-index/spec-d25-rebuild"
    val batch = standing.filter(col("doc_id") % 2 === 0)
    DedupOps.writeBandIndex(spark, rootA,
      standing.filter(col("doc_id") % 2 =!= 0))
    DedupOps.appendBandIndex(spark, rootA, batch)
    graft.operators.CacheScope.drain()
    DedupOps.writeBandIndex(spark, rootB, standing)
    graft.operators.CacheScope.drain()
    for (art <- Seq("bands", "docsets")) {
      val a = spark.read.parquet(s"$rootA/$art")
      val b = spark.read.parquet(s"$rootB/$art")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"append != rebuild on $art")
    }
    def canon(art: String) = spark.read.parquet(s"$rootA/$art")
      .collect().map(_.toString).sorted.toSeq
    val once = Seq("bands", "docsets").map(a => a -> canon(a)).toMap
    DedupOps.appendBandIndex(spark, rootA, batch)
    graft.operators.CacheScope.drain()
    once.foreach { case (art, rows) =>
      assert(canon(art) === rows, s"retry changed $art — append not idempotent")
    }
  }

  private val WinnowArtifacts = Seq("wfp", "wdf", "kept")

  test("d27: winnow-index append == rebuild row-exact on all three artifacts; a retried append is a no-op") {
    spark.sharedState.cacheManager.clearCache()
    val docs = graft.sources.Tables.documents(spark, Sf)
    val standing = docs.filter(col("doc_id") % DedupOps.IncomingMod =!= 0)
    val batch = docs.filter(col("doc_id") % DedupOps.IncomingMod === 0)
    val rootA = "target/graft-index/spec-d27-append"
    val rootB = "target/graft-index/spec-d27-rebuild"
    DedupOps.writeWinnowIndex(spark, rootA, standing)
    DedupOps.appendWinnowIndex(spark, rootA, batch)
    graft.operators.CacheScope.drain()
    DedupOps.writeWinnowIndex(spark, rootB, docs)
    for (art <- WinnowArtifacts) {
      val a = spark.read.parquet(s"$rootA/$art")
      val b = spark.read.parquet(s"$rootB/$art")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"append != rebuild on $art")
    }
    def canon(art: String) = spark.read.parquet(s"$rootA/$art")
      .collect().map(_.toString).sorted.toSeq
    val once = WinnowArtifacts.map(a => a -> canon(a)).toMap
    DedupOps.appendWinnowIndex(spark, rootA, batch)
    graft.operators.CacheScope.drain()
    once.foreach { case (art, rows) =>
      assert(canon(art) === rows, s"retry changed $art — append not idempotent")
    }
  }

  test("d27: a cap-crossing batch evicts at rest by rewriting ONLY the crossing hashes' buckets") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    // the DedupGuaranteesSpec planted fixture, at the file level:
    // Cap docs share one paragraph (its hashes sit AT the cap), the
    // fresh batch repeats it once more — the shared hashes cross and
    // must vanish from the at-rest serving table, while every bucket
    // NOT holding a crossing hash keeps its files byte-identical
    val root = "target/graft-index/spec-d27-evict"
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val para = (0 until 12).map(i => s"bp$i").mkString(" ")
    val corpus = (1L to DedupOps.WinnowCap).map(i =>
      (i, s"p${i}a p${i}b p${i}c " + para)).toDF("doc_id", "text")
    val fresh = Seq((100L, "q1 q2 q3 " + para)).toDF("doc_id", "text")
    DedupOps.writeWinnowIndex(spark, root, corpus)
    graft.operators.CacheScope.drain()
    val keptBefore = spark.read.parquet(s"$root/kept")
      .select(col("doc_id"), col("h")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val shared = keptBefore.groupBy(_._1).values
      .map(_.map(_._2).toSet).reduce(_ intersect _)
    assert(shared.nonEmpty, "the shared paragraph must yield shared fingerprints")
    val crossBuckets = shared.map(h =>
      (h % DedupOps.WinnowBuckets).toInt)
    def fileSig() = new java.io.File(s"$root/kept").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("h_bucket="))
      .map { d =>
        d.getName.stripPrefix("h_bucket=").toInt ->
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
      }.toMap
    val before = fileSig()
    DedupOps.appendWinnowIndex(spark, root, fresh)
    graft.operators.CacheScope.drain()
    val after = fileSig()
    // the crossing hashes vanished from EVERY doc's rows
    val keptAfter = spark.read.parquet(s"$root/kept")
      .select(col("doc_id"), col("h")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(keptAfter.forall(p => !shared.contains(p._2)),
      "crossed-cap hashes must vanish from the at-rest serving table")
    assert(keptAfter.exists(_._1 == 100L),
      "the fresh doc's unique fingerprints must land")
    // stats remember the true running DF
    val nd = spark.read.parquet(s"$root/wdf")
      .filter(col("h").isin(shared.toSeq: _*))
      .collect().map(_.getAs[Long]("nd"))
    assert(nd.length == shared.size &&
      nd.forall(_ == DedupOps.WinnowCap + 1),
      "stats must retain evicted hashes at their true running DF")
    // file-level minimality: buckets holding neither a crossing hash
    // nor a fresh under-cap row keep their standing files byte-equal
    val freshBuckets = keptAfter.filter(_._1 == 100L)
      .map(p => (p._2 % DedupOps.WinnowBuckets).toInt).toSet
    (before.keySet -- crossBuckets -- freshBuckets).foreach { b =>
      assert(after(b).take(before(b).size) == before(b) ||
        after(b) == before(b),
        s"eviction rewrote untouched bucket $b")
    }
    crossBuckets.foreach { b =>
      assert(after.get(b) != before.get(b) || !before.contains(b),
        s"crossing bucket $b was not rewritten")
    }
  }

  test("d27: stale downstream artifacts after a torn base append heal by recount") {
    spark.sharedState.cacheManager.clearCache()
    val docs = graft.sources.Tables.documents(spark, Sf)
    val standing = docs.filter(col("doc_id") % DedupOps.IncomingMod =!= 0)
    val batch = docs.filter(col("doc_id") % DedupOps.IncomingMod === 0)
    val rootT = "target/graft-index/spec-d27-torn"
    val rootF = "target/graft-index/spec-d27-tornref"
    DedupOps.writeWinnowIndex(spark, rootT, standing)
    DedupOps.writeWinnowIndex(spark, rootF, docs)
    // the torn append: the batch's BASE rows landed, the crash hit
    // before the stats merge, eviction and serving-table append
    DedupOps.winnowedFingerprints(batch)
      .withColumn("h_bucket", DedupOps.winnowBucketCol(col("h")))
      .localCheckpoint()
      .write.mode("append").partitionBy("h_bucket")
      .parquet(s"$rootT/wfp")
    // recovery: rerun the append (row-level no-op on the base) + heal
    DedupOps.appendWinnowIndex(spark, rootT, batch)
    graft.operators.CacheScope.drain()
    DedupOps.healWinnowIndex(spark, rootT)
    for (art <- WinnowArtifacts) {
      val a = spark.read.parquet(s"$rootT/$art")
      val b = spark.read.parquet(s"$rootF/$art")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"healed $art != rebuilt")
    }
  }

  test("d26: the at-rest winnowing probe is bit-identical to d18's in-memory probe") {
    spark.sharedState.cacheManager.clearCache()
    val served = DedupOps.winnowProbeAtRest(spark, Sf).collect().toSeq
    graft.operators.CacheScope.drain()
    val scan = DedupOps.winnowingIncremental(spark, Sf).collect().toSeq
    assert(scan.nonEmpty && served == scan,
      "at-rest winnowing probe drifted from d18")
  }

  test("d22: a partial-postings crash heals on rerun — stats land complete, rows dedupe") {
    spark.sharedState.cacheManager.clearCache()
    val docs = graft.sources.Tables.documents(spark, Sf)
    val standing = docs.filter(col("doc_id") % DedupOps.IncomingMod =!= 0)
    val batch = docs.filter(col("doc_id") % DedupOps.IncomingMod === 0)
    val rootC = "target/graft-index/spec-d22-crash"
    val rootF = "target/graft-index/spec-d22-crashref"
    DedupOps.writeShingleIndex(spark, rootC, standing)
    DedupOps.writeShingleIndex(spark, rootF, docs)
    // simulate the torn append: HALF the batch's POSTINGS rows landed
    // (the doc_id parity cut), and the crash hit before the dictionary
    // delta and the stats rows ever wrote
    DedupOps.shinglePostings(batch.filter(col("doc_id") % 2 === 0))
      .localCheckpoint()
      .write.mode("append").partitionBy("sh_bucket")
      .parquet(s"$rootC/postings")
    // the rerun replays the FULL batch: already-landed rows anti-join
    // out, the missing half lands, stats/dictionary complete
    DedupOps.appendShingleIndex(spark, rootC, batch)
    graft.operators.CacheScope.drain()
    for (art <- Artifacts) {
      val a = spark.read.parquet(s"$rootC/$art")
      val b = spark.read.parquet(s"$rootF/$art")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"healed $art != rebuilt")
    }
  }

  test("d28: simhash-index append == rebuild row-exact; a retried append is a no-op") {
    spark.sharedState.cacheManager.clearCache()
    val docs = graft.sources.Tables.documents(spark, Sf)
    val standing = docs.filter(col("doc_id") % DedupOps.IncomingMod =!= 0)
    val batch = docs.filter(col("doc_id") % DedupOps.IncomingMod === 0)
    val rootA = "target/graft-index/spec-d28-append"
    val rootB = "target/graft-index/spec-d28-rebuild"
    DedupOps.writeSimhashIndex(spark, rootA, standing)
    DedupOps.appendSimhashIndex(spark, rootA, batch)
    DedupOps.writeSimhashIndex(spark, rootB, docs)
    val a = spark.read.parquet(s"$rootA/chunks")
    val b = spark.read.parquet(s"$rootB/chunks")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "append != rebuild on chunks")
    def canon() = spark.read.parquet(s"$rootA/chunks")
      .collect().map(_.toString).sorted.toSeq
    val once = canon()
    DedupOps.appendSimhashIndex(spark, rootA, batch)
    assert(canon() === once, "retry changed chunks — append not idempotent")
  }
}
