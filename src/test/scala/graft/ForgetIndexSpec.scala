package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.RetrievalOps

/** ir22 — forget executed against the at-rest postings index: the
  * first layout whose delete targets derive from the request's CONTENT
  * (its terms) rather than its keys, and the first SUBTRACTIVE
  * metadata merge (blockmeta/dict recount bucket-scoped; a term whose
  * last posting died vanishes with its partition replacement).
  * Pins: forget == rebuild-over-survivors row-exact on all five
  * artifacts, rerun a no-op, untouched term buckets byte-identical,
  * the all-deleted bucket's directory drops across postings/blockmeta/
  * dict (and doclen's doc bucket), zero-token docs leave n_docs, and
  * the rows-swept-no-metadata crash point already serves no deleted
  * posting. */
class ForgetIndexSpec extends SparkSpec {

  private def rmRoot(root: String): Unit = {
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    ()
  }

  private def bucketSig(table: String, pcol: String): Map[Int, Seq[(String, Long, Long)]] =
    new java.io.File(table).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(s"$pcol="))
      .map { d =>
        d.getName.stripPrefix(s"$pcol=").toInt ->
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
      }.toMap

  private def rows(path: String, cols: String*): Set[Seq[Any]] =
    spark.read.parquet(path).select(cols.map(col): _*)
      .collect().map(_.toSeq).toSet

  private def allArtifacts(root: String): Seq[Set[Seq[Any]]] = Seq(
    rows(s"$root/postings", "tok", "doc_id", "tf", "dl", "term_bucket"),
    rows(s"$root/blockmeta", "tok", "blk", "max_tf", "min_dl", "n_postings", "term_bucket"),
    rows(s"$root/dict", "tok", "df", "term_bucket"),
    rows(s"$root/doclen", "doc_id", "dl"),
    rows(s"$root/consts", "n_docs", "total_tokens", "avgdl"))

  test("ir22: forget == rebuild-over-survivors row-exact on all five artifacts; rerun a no-op") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val isDel = col("doc_id") % graft.operators.TextOps.ForgetMod ===
      graft.operators.TextOps.ForgetRem
    val rootA = "target/graft-index/spec-ir22-forget"
    val rootB = "target/graft-index/spec-ir22-rebuild"
    rmRoot(rootA); rmRoot(rootB)
    RetrievalOps.writePostingsIndex(spark, rootA, docs)
    RetrievalOps.forgetPostingsIndex(spark, rootA, docs.filter(isDel))
    RetrievalOps.writePostingsIndex(spark, rootB, docs.filter(!isDel))
    val (a1, b1) = (allArtifacts(rootA), allArtifacts(rootB))
    a1.zip(b1).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"artifact $i diverged from the survivor rebuild")
    }
    // rerun: same request against the already-forgotten index — the
    // anti-join re-stages the same survivors, rows end identical
    RetrievalOps.forgetPostingsIndex(spark, rootA, docs.filter(isDel))
    allArtifacts(rootA).zip(b1).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"artifact $i drifted under a retried forget")
    }
    rmRoot(rootA); rmRoot(rootB)
  }

  test("ir22: build(A) → append(B) → forget(D) == build((A ∪ B) − D) on all five artifacts") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val isNew = col("doc_id") % graft.operators.DedupOps.IncomingMod === 0
    val isDel = col("doc_id") % graft.operators.TextOps.ForgetMod ===
      graft.operators.TextOps.ForgetRem
    // the request deletes docs of both the build and the appended batch
    assert(docs.filter(isDel && isNew).count() > 0 &&
      docs.filter(isDel && !isNew).count() > 0,
      "fixture regression: the request misses one side of the append")
    val rootA = "target/graft-index/spec-ir22-compose"
    val rootB = "target/graft-index/spec-ir22-compose-rebuild"
    rmRoot(rootA); rmRoot(rootB)
    RetrievalOps.writePostingsIndex(spark, rootA, docs.filter(!isNew))
    RetrievalOps.appendPostingsIndex(spark, rootA, docs.filter(isNew))
    RetrievalOps.forgetPostingsIndex(spark, rootA, docs.filter(isDel))
    RetrievalOps.writePostingsIndex(spark, rootB, docs.filter(!isDel))
    allArtifacts(rootA).zip(allArtifacts(rootB)).zipWithIndex.foreach {
      case ((a, b), i) =>
        assert(a == b, s"artifact $i of build→append→forget != rebuild")
    }
    rmRoot(rootA); rmRoot(rootB)
  }

  /** Planted corpus with a controlled vocabulary: every doc is a
    * single repeated word, so a doc's postings live in exactly its
    * word's term bucket and the spec can aim deletions at one bucket
    * while proving the others' files never move. */
  private def planted(): (DataFrame, Map[String, Int]) = {
    import spark.implicits._
    val words = Seq("alpha", "bravo", "carol", "delta", "echo1")
    val buckets = words.map(w => w -> RetrievalOps.termBucketOf(w)).toMap
    // deleted docs (ids 100..103) carry ONLY word "alpha"; survivors
    // (ids 1..40) carry the other words; one zero-token deleted doc
    val surv = (1 to 40).map(i => (i.toLong, s"${words(1 + i % 4)} ${words(1 + i % 4)}"))
    val del = (100 to 103).map(i => (i.toLong, "alpha alpha alpha")) :+
      (104L, "")
    (surv.toDF("doc_id", "text") unionByName del.toDF("doc_id", "text"),
      buckets)
  }

  test("ir22: untouched term buckets byte-identical; the all-deleted bucket's dirs drop") {
    val (docs, buckets) = planted()
    val delBucket = buckets("alpha")
    val survBuckets = buckets.filterNot(_._1 == "alpha").values.toSet
    assume(!survBuckets.contains(delBucket),
      "fixture words collide in one bucket — pick new words")
    val root = "target/graft-index/spec-ir22-planted"
    rmRoot(root)
    RetrievalOps.writePostingsIndex(spark, root, docs)
    val before = bucketSig(s"$root/postings", "term_bucket")
    val isDel = col("doc_id") >= 100L
    RetrievalOps.forgetPostingsIndex(spark, root, docs.filter(isDel))
    val after = bucketSig(s"$root/postings", "term_bucket")
    // survivors' buckets: file sets byte-identical (never listed,
    // read or rewritten by the sweep)
    survBuckets.foreach { b =>
      assert(after.get(b) == before.get(b),
        s"untouched postings bucket $b was rewritten by the forget")
    }
    // alpha's bucket held ONLY deleted docs' postings — its directory
    // must be GONE in postings, blockmeta and dict alike
    Seq("postings", "blockmeta", "dict").foreach { t =>
      assert(!new java.io.File(s"$root/$t/term_bucket=$delBucket").exists(),
        s"$t kept the all-deleted bucket directory")
    }
    // the zero-token doc (104) left doclen and the constants: n_docs
    // counts exactly the 40 survivors
    val consts = spark.read.parquet(s"$root/consts").collect().head
    assert(consts.getLong(consts.fieldIndex("n_docs")) == 40L,
      "zero-token deleted doc still counted in n_docs")
    assert(rows(s"$root/doclen", "doc_id").forall(_.head.asInstanceOf[Long] < 100L),
      "a deleted doc survived in doclen")
    rmRoot(root)
  }

  test("ir22: the rows-swept crash point already holds zero deleted postings; completion restores exactness") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val isDel = col("doc_id") % graft.operators.TextOps.ForgetMod ===
      graft.operators.TextOps.ForgetRem
    val root = "target/graft-index/spec-ir22-crash"
    val rootB = "target/graft-index/spec-ir22-crash-rebuild"
    rmRoot(root); rmRoot(rootB)
    RetrievalOps.writePostingsIndex(spark, root, docs)
    // simulate the crash: run ONLY the postings row sweep (the first
    // write the real forget performs), then stop before any metadata
    val delIds = docs.filter(isDel).select(col("doc_id")).localCheckpoint()
    val tBuckets = spark.read.parquet(s"$root/postings")
      .join(delIds, Seq("doc_id"), "left_semi")
      .select(col("term_bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    // in the table's own column order, like the forget's own write
    val order = spark.read.parquet(s"$root/postings").columns.map(col)
    graft.operators.AtRest.sweepSurvivors(spark, s"$root/postings",
        "term_bucket", tBuckets, delIds, Seq("doc_id"))
      .select(order: _*)
      .localCheckpoint()
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("term_bucket").parquet(s"$root/postings")
    // the compliance property holds HERE, metadata still stale:
    val left = spark.read.parquet(s"$root/postings")
      .join(delIds, Seq("doc_id"), "left_semi").count()
    assert(left == 0L, s"$left deleted postings visible at the crash point")
    // rerunning the interrupted forget completes to the rebuilt state
    RetrievalOps.forgetPostingsIndex(spark, root, docs.filter(isDel))
    RetrievalOps.writePostingsIndex(spark, rootB, docs.filter(!isDel))
    allArtifacts(root).zip(allArtifacts(rootB)).zipWithIndex.foreach {
      case ((a, b), i) =>
        assert(a == b, s"artifact $i wrong after crash-rerun recovery")
    }
    rmRoot(root); rmRoot(rootB)
  }
}
