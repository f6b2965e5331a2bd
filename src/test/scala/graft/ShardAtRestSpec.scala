package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{AtRest, TextOps}

/** The at-rest training-shard store (c5/c6) — the curation flow's
  * physical half: append == rebuild row-exact and exactly-once,
  * standing files never rewritten by an append, the forget EXECUTION
  * partition-scoped (untouched shards byte-identical, the all-deleted
  * shard's directory drops), restart-safe at the mid-overwrite crash
  * point, idempotent under rerun, and compactable with the shared
  * bin-pack without changing a manifest bit. */
class ShardAtRestSpec extends SparkSpec {

  private def rmRoot(root: String): Unit = {
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    ()
  }

  private def fileSig(root: String): Map[Int, Seq[(String, Long, Long)]] =
    new java.io.File(s"$root/shards").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
      .map { d =>
        d.getName.stripPrefix("shard_id=").toInt ->
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
      }.toMap

  private def storeRows(root: String): Set[(Long, Long, Long, String, Int)] =
    spark.read.parquet(s"$root/shards")
      .select(col("doc_id"), col("n_tok"), col("h"), col("text"),
        col("shard_id").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getInt(4))).toSet

  private def manifestRows(root: String): Seq[(Long, Long, Long, Long, Long)] =
    TextOps.shardManifestFrom(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq

  /** Planted corpus with a driver-side copy of the operator's own
    * shard assignment (one tiny spark round-trip — the rule is
    * md5-derived, not spec-restatable by hand). */
  private def planted(n: Int): (DataFrame, Map[Long, Int]) = {
    import spark.implicits._
    val docs = (1 to n).map(i => (i.toLong, s"doc $i body word$i tail"))
      .toDF("doc_id", "text")
    val assign = docs.select(col("doc_id"), TextOps.shardIdCol.as("sh"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (docs, assign)
  }

  test("c5: append == rebuild row-exact; a retried append is a no-op") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    val rootF = "target/graft-index/spec-c5-full"
    val rootT = "target/graft-index/spec-c5-inc"
    Seq(rootF, rootT).foreach(rmRoot)
    TextOps.writeShardStore(spark, rootF, docs)
    TextOps.writeShardStore(spark, rootT, standing)
    TextOps.appendShardStore(spark, rootT, incoming)
    assert(storeRows(rootT) == storeRows(rootF), "append != rebuild")
    val before = storeRows(rootT)
    TextOps.appendShardStore(spark, rootT, incoming) // operator retry
    assert(storeRows(rootT) == before, "retried append landed rows twice")
    assert(manifestRows(rootT) == manifestRows(rootF),
      "served manifest drifted from the rebuild's")
  }

  test("c5: an append never rewrites a standing file") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val root = "target/graft-index/spec-c5-files"
    rmRoot(root)
    TextOps.writeShardStore(spark, root, docs.filter(col("doc_id") % 5 =!= 0))
    val before = fileSig(root)
    TextOps.appendShardStore(spark, root, docs.filter(col("doc_id") % 5 === 0))
    val after = fileSig(root)
    before.foreach { case (b, files) =>
      files.foreach { f =>
        assert(after(b).contains(f),
          s"append rewrote standing file $f in shard_id=$b")
      }
    }
  }

  test("c6: the forget rewrites ONLY target partitions, dropping the all-deleted shard") {
    val (docs, assign) = planted(240)
    // one shard to empty entirely, one to rewrite partially; the rest
    // of the request keys live in those two shards only
    val byShard = assign.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toMap
    val emptied = byShard.keys.min
    val partial = byShard.keys.max
    assert(emptied != partial && byShard(partial).size >= 2,
      s"fixture needs two distinct populated shards: $byShard")
    val reqIds = (byShard(emptied) :+ byShard(partial).head).toSet
    val root = "target/graft-index/spec-c6-scoped"
    rmRoot(root)
    TextOps.writeShardStore(spark, root, docs)
    val before = fileSig(root)
    import spark.implicits._
    TextOps.forgetShardStore(spark, root, reqIds.toSeq.sorted.toDF("doc_id"))
    val after = fileSig(root)
    (before.keySet - emptied - partial).foreach { b =>
      assert(after(b) == before(b), s"forget rewrote untouched shard $b")
    }
    assert(!after.contains(emptied),
      s"shard_id=$emptied lost every row and must DROP")
    assert(after.contains(partial) && after(partial) != before(partial),
      "the partially-deleted shard must rewrite")
    // the files hold exactly the survivors
    val got = storeRows(root).map(_._1)
    assert(got == assign.keySet.diff(reqIds),
      "store rows != documents minus request")
  }

  test("c6: restart-safe mid-overwrite, and a rerun is idempotent") {
    val (docs, assign) = planted(240)
    val byShard = assign.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toMap
    // request spans every populated shard: delete each shard's first doc
    val reqIds = byShard.values.map(_.head).toSet
    import spark.implicits._
    val req = reqIds.toSeq.sorted.toDF("doc_id")
    val rootA = "target/graft-index/spec-c6-crash"
    val rootB = "target/graft-index/spec-c6-oneshot"
    Seq(rootA, rootB).foreach(rmRoot)
    TextOps.writeShardStore(spark, rootA, docs)
    TextOps.writeShardStore(spark, rootB, docs)
    // simulate a crash MID-overwrite on rootA: exactly one target
    // partition got replaced with its survivors, the rest still hold
    // their originals — then the operator reruns from the top
    val crashed = byShard.keys.min
    graft.operators.AtRest.sweepSurvivors(spark, s"$rootA/shards",
        "shard_id", Seq(crashed), req, Seq("doc_id"))
      .localCheckpoint()
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard_id").parquet(s"$rootA/shards")
    TextOps.forgetShardStore(spark, rootA, req)
    TextOps.forgetShardStore(spark, rootB, req)
    assert(storeRows(rootA) == storeRows(rootB),
      "rerun after a mid-overwrite crash diverged from the one-shot sweep")
    // a full rerun of the completed sweep is a row-level no-op
    val settled = storeRows(rootB)
    TextOps.forgetShardStore(spark, rootB, req)
    assert(storeRows(rootB) == settled, "re-running a completed forget changed rows")
  }

  test("c5: accreted shards bin-pack with the shared compaction; the manifest never moves") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val root = "target/graft-index/spec-c5-compact"
    rmRoot(root)
    TextOps.writeShardStore(spark, root, docs.filter(col("doc_id") % 5 =!= 0))
    Seq(0, 1).foreach { r =>
      TextOps.appendShardStore(spark, root,
        docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 2 === r))
    }
    val before = manifestRows(root)
    assert(fileSig(root).values.exists(_.size > 1),
      "fixture regression: appends should accrete files")
    val compacted =
      AtRest.compactBucketedTable(spark, s"$root/shards", "shard_id")
    assert(compacted.nonEmpty, "compaction found no accreted shard")
    assert(fileSig(root).values.forall(_.size <= 1),
      "a shard still holds more than one data file")
    assert(manifestRows(root) == before, "compaction changed the manifest")
    assert(AtRest.compactBucketedTable(spark, s"$root/shards", "shard_id")
      .isEmpty, "re-compaction must be a no-op")
  }

}
