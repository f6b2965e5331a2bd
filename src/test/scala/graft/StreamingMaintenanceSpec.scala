package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{CacheScope, DedupOps, TimeSeriesOps}
import graft.sources.Tables

/** The two round-16 MAINTAINED at-rest families bound as STREAMING
  * maintenance — the StreamingWinnowSpec convention applied to the
  * update-not-append tiers: micro-batches of arrivals fold into the
  * written index through the registered queries' own maintenance
  * cores, and the final at-rest state must equal a one-shot rebuild
  * over the unioned input REGARDLESS of how arrivals are cut into
  * batches.
  *
  * - ts10 (SAX): batches of WHOLE closed days (the family's ingest
  *   grain) update derived per-user words — the fold's fixed point is
  *   a pure function of the base counts, so any cut converges.
  * - d29 (clusters): batches of crawled docs append the band index
  *   and merge the maintained cluster assignment — the min-label
  *   star invariant is restored per update, so sequential folds land
  *   on the same components as the all-at-once build.
  */
object StreamingMaintenanceSpec {
  case class Cnt(user_id: Long, day: Long, cnt: Long)
  case class Doc(doc_id: Long, text: String)
  case class Vec(vec_id: Long, embedding: Seq[Float])
}

class StreamingMaintenanceSpec extends SparkSpec {
  import StreamingMaintenanceSpec.{Cnt, Doc, Vec}

  private def rmRoot(root: String): Unit = {
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    ()
  }

  private def rows(root: String, art: String, cols: Seq[String]) =
    spark.read.parquet(s"$root/$art").select(cols.map(col): _*)
      .collect().map(_.toSeq).toSet

  test("streamed SAX maintenance == one-shot rebuild, whole-day micro-batches, 2 fuzz seeds") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val c = TimeSeriesOps.dayCounts(spark, Sf)
    CacheScope.persist(c)
    // ts10's own whole-day split, origin pinned to the standing side
    val dmin = c.agg(min(col("day")).as("dmin0"))
    val standing = c.crossJoin(broadcast(dmin))
      .filter(col("day") === col("dmin0") || pmod(col("day"), lit(5L)) =!= 0)
      .select(col("user_id"), col("day"), col("cnt"))
    val batch = c.crossJoin(broadcast(dmin))
      .filter(col("day") =!= col("dmin0") && pmod(col("day"), lit(5L)) === 0)
      .select(col("user_id"), col("day"), col("cnt")).as[Cnt]
      .collect().toVector
    val days = batch.map(_.day).distinct.sorted
    assert(days.size >= 3, s"fixture regression: need ≥3 ingest days, got $days")
    val rootR = "target/graft-index/spec-stream-sax-rebuild"
    rmRoot(rootR)
    TimeSeriesOps.writeSaxIndex(spark, rootR,
      standing.unionByName(batch.toDF()))
    CacheScope.drain()

    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val rootS = s"target/graft-index/spec-stream-sax-$seed"
      rmRoot(rootS)
      TimeSeriesOps.writeSaxIndex(spark, rootS, standing)
      val in = MemoryStream[Cnt]
      val q = in.toDF().writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          TimeSeriesOps.updateSaxIndex(spark, rootS,
            b.select(col("user_id"), col("day"), col("cnt")))
          ()
        }
        .start()
      try {
        // whole closed days per micro-batch (the ingest contract); the
        // DAY order is shuffled, the cut sizes random
        var rest = rnd.shuffle(days)
        while (rest.nonEmpty) {
          val (chunk, tail) = rest.splitAt(1 + rnd.nextInt(3))
          rest = tail
          val dset = chunk.toSet
          in.addData(batch.filter(r => dset.contains(r.day)): _*)
          q.processAllAvailable() // sequential folds — drain per batch
        }
      } finally q.stop()
      for ((art, cols) <- Seq(
          "counts" -> Seq("user_id", "day", "cnt"),
          "words" -> Seq("user_id", "word", "n_active_segs"),
          "bands" -> Seq("user_id", "b", "bk"),
          "consts" -> Seq("d0"))) {
        assert(rows(rootS, art, cols) == rows(rootR, art, cols),
          s"seed $seed: streamed $art diverged from the one-shot rebuild")
      }
      CacheScope.drain()
    }
  }

  test("streamed cluster maintenance == one-shot build, random doc micro-batches, 2 fuzz seeds") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val docs = Tables.documents(spark, Sf)
    val isNew = col("doc_id") % DedupOps.IncomingMod === 0
    val incoming = docs.filter(isNew)
      .select(col("doc_id"), col("text")).as[Doc].collect().toVector
    assert(incoming.size >= 20, "fixture regression: thin incoming slice")
    val rootR = "target/graft-index/spec-stream-d29-rebuild"
    rmRoot(rootR)
    DedupOps.writeBandIndex(spark, rootR, docs)
    DedupOps.buildClusterTables(spark, rootR)
    CacheScope.drain()
    val expect = Seq("clusters", "members")
      .map(a => a -> rows(rootR, a, Seq("doc_id", "cluster_id"))).toMap
    assert(expect("clusters").nonEmpty,
      "fixture regression: no clustered members at sf0.001")

    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val rootS = s"target/graft-index/spec-stream-d29-$seed"
      rmRoot(rootS)
      DedupOps.writeBandIndex(spark, rootS, docs.filter(!isNew))
      DedupOps.buildClusterTables(spark, rootS)
      CacheScope.drain()
      val in = MemoryStream[Doc]
      val q = in.toDF().writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val pinned = b.select(col("doc_id"), col("text")).localCheckpoint()
          DedupOps.appendBandIndex(spark, rootS, pinned)
          DedupOps.updateClusters(spark, rootS, pinned)
          ()
        }
        .start()
      try {
        var rest = rnd.shuffle(incoming)
        while (rest.nonEmpty) {
          val (chunk, tail) = rest.splitAt(1 + rnd.nextInt(8))
          rest = tail
          in.addData(chunk: _*)
          q.processAllAvailable() // sequential folds — drain per batch
        }
      } finally q.stop()
      for (art <- Seq("clusters", "members")) {
        assert(rows(rootS, art, Seq("doc_id", "cluster_id")) == expect(art),
          s"seed $seed: streamed $art diverged from the one-shot build")
      }
      CacheScope.drain()
    }
  }

  test("streamed sketch-store maintenance == one-shot build, random doc micro-batches, 2 fuzz seeds") {
    // ap6's merge is associative, commutative AND idempotent, so ANY
    // micro-batch cut or arrival order must land the identical k-min
    // partials — the aggregate-state family's streamed twin
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ap = graft.operators.ApproxOps
    val docs = Tables.documents(spark, Sf)
    val isNew = col("doc_id") % DedupOps.IncomingMod === 0
    val incoming = docs.filter(isNew)
      .select(col("doc_id"), col("lang"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toVector
    val rootR = "target/graft-index/spec-stream-ap6-rebuild"
    rmRoot(rootR)
    ap.writeSketchStore(spark, rootR, docs)
    val expect = rows(rootR, "kmv", Seq("lang", "h", "h_bucket"))

    for (seed <- Seq(11, 37)) {
      val rnd = new scala.util.Random(seed)
      val rootS = s"target/graft-index/spec-stream-ap6-$seed"
      rmRoot(rootS)
      ap.writeSketchStore(spark, rootS, docs.filter(!isNew))
      val in = MemoryStream[(Long, String, String)]
      val q = in.toDF().toDF("doc_id", "lang", "text").writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          ap.appendSketchStore(spark, rootS, b.localCheckpoint())
          ()
        }
        .start()
      try {
        var rest = rnd.shuffle(incoming)
        while (rest.nonEmpty) {
          val (chunk, tail) = rest.splitAt(1 + rnd.nextInt(8))
          rest = tail
          in.addData(chunk: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(rows(rootS, "kmv", Seq("lang", "h", "h_bucket")) == expect,
        s"seed $seed: streamed partials diverged from the one-shot build")
      CacheScope.drain()
    }
  }

  test("streamed forget requests == one-shot forget of the union, 2 fuzz seeds") {
    // ir22 bound as a takedown-request STREAM: each micro-batch
    // executes its own bucket-scoped sweep + metadata recount, so any
    // cut of the request set must land the index a single all-at-once
    // forget lands (deletion commutes; the recount is a fixed point of
    // whatever postings survive)
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ro = graft.operators.RetrievalOps
    val docs = Tables.documents(spark, Sf)
    val isDel = col("doc_id") % graft.operators.TextOps.ForgetMod ===
      graft.operators.TextOps.ForgetRem
    val requests = docs.filter(isDel)
      .select(col("doc_id"), col("text")).as[Doc].collect().toVector
    assert(requests.size >= 5, "fixture regression: thin request cohort")
    val rootR = "target/graft-index/spec-stream-ir22-oneshot"
    rmRoot(rootR)
    ro.writePostingsIndex(spark, rootR, docs)
    ro.forgetPostingsIndex(spark, rootR, docs.filter(isDel))
    val expect = Seq(
      "postings" -> Seq("tok", "doc_id", "tf", "dl", "term_bucket"),
      "dict" -> Seq("tok", "df", "term_bucket"),
      "doclen" -> Seq("doc_id", "dl"),
      "consts" -> Seq("n_docs", "total_tokens", "avgdl"))
      .map { case (a, cs) => a -> rows(rootR, a, cs) }.toMap

    for (seed <- Seq(7, 41)) {
      val rnd = new scala.util.Random(seed)
      val rootS = s"target/graft-index/spec-stream-ir22-$seed"
      rmRoot(rootS)
      ro.writePostingsIndex(spark, rootS, docs)
      val in = MemoryStream[Doc]
      val q = in.toDF().writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          ro.forgetPostingsIndex(spark, rootS,
            b.select(col("doc_id"), col("text")).localCheckpoint())
          ()
        }
        .start()
      try {
        var rest = rnd.shuffle(requests)
        while (rest.nonEmpty) {
          val (chunk, tail) = rest.splitAt(1 + rnd.nextInt(4))
          rest = tail
          in.addData(chunk: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      Seq(
        "postings" -> Seq("tok", "doc_id", "tf", "dl", "term_bucket"),
        "dict" -> Seq("tok", "df", "term_bucket"),
        "doclen" -> Seq("doc_id", "dl"),
        "consts" -> Seq("n_docs", "total_tokens", "avgdl"))
        .foreach { case (a, cs) =>
          assert(rows(rootS, a, cs) == expect(a),
            s"seed $seed: streamed forget diverged on $a")
        }
      CacheScope.drain()
    }
  }

  test("streamed round-17 forgets == one-shot forget of the union (d33 simhash + ir23 positional), 2 fuzz seeds") {
    // the new request-content forgets bound as takedown-request
    // STREAMS: each micro-batch re-derives its own targets through the
    // build's tree and sweeps bucket-scoped, so any cut of the request
    // set must land each index where the all-at-once forget lands it
    // (deletion commutes; both families are pure per-doc facts)
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val d = graft.operators.DedupOps
    val r = graft.operators.RetrievalOps
    val docs = Tables.documents(spark, Sf)
    val isDel = col("doc_id") % graft.operators.TextOps.ForgetMod ===
      graft.operators.TextOps.ForgetRem
    val requests = docs.filter(isDel)
      .select(col("doc_id"), col("text")).as[Doc].collect().toVector
    assert(requests.size >= 5, "fixture regression: thin request cohort")
    val simCols = Seq("doc_id", "simhash", "band", "chunk", "chunk_bucket")
    val posCols = Seq("doc_id", "dl", "pos", "tok", "term_bucket")
    val rootSim = "target/graft-index/spec-stream-d33-oneshot"
    val rootPos = "target/graft-index/spec-stream-ir23-oneshot"
    rmRoot(rootSim); rmRoot(rootPos)
    d.writeSimhashIndex(spark, rootSim, docs)
    d.forgetSimhashIndex(spark, rootSim, docs.filter(isDel))
    r.writePositionalIndex(spark, rootPos, docs)
    r.forgetPositionalIndex(spark, rootPos, docs.filter(isDel))
    val expSim = rows(rootSim, "chunks", simCols)
    val expPos = rows(rootPos, "positional", posCols)
    for (seed <- Seq(7, 41)) {
      val rnd = new scala.util.Random(seed)
      val rootS = s"target/graft-index/spec-stream-d33-$seed"
      val rootP = s"target/graft-index/spec-stream-ir23-$seed"
      rmRoot(rootS); rmRoot(rootP)
      d.writeSimhashIndex(spark, rootS, docs)
      r.writePositionalIndex(spark, rootP, docs)
      val in = MemoryStream[Doc]
      val q = in.toDF().writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val req = b.select(col("doc_id"), col("text")).localCheckpoint()
          d.forgetSimhashIndex(spark, rootS, req)
          r.forgetPositionalIndex(spark, rootP, req)
          ()
        }
        .start()
      try {
        var rest = rnd.shuffle(requests)
        while (rest.nonEmpty) {
          val (chunk, tail) = rest.splitAt(1 + rnd.nextInt(4))
          rest = tail
          in.addData(chunk: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(rows(rootS, "chunks", simCols) == expSim,
        s"seed $seed: streamed d33 forget diverged from the one-shot union")
      assert(rows(rootP, "positional", posCols) == expPos,
        s"seed $seed: streamed ir23 forget diverged from the one-shot union")
      CacheScope.drain()
    }
  }

  test("streamed x33 maintenance (appends THEN forgets) == the one-shot lifecycle, 2 fuzz seeds") {
    // the SQ8 family's frozen-quantizer property is what makes its
    // streamed maintenance trivial to reason about — every batch
    // re-encodes against the SAME stored grid and codebook, so append
    // batches commute with each other and forget requests with each
    // other; any cut of either set must land the codes where the
    // one-shot x33 lifecycle lands them
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val S = graft.operators.SimilarityOps
    val emb = Tables.embeddings(spark, Sf)
    val isBatch = col("vec_id") % DedupOps.IncomingMod === 0 &&
      col("vec_id") >= S.NumQueries + S.NumCentroids
    val isDel = col("vec_id") % S.DeleteMod === S.DeleteRem
    def vecs(df: DataFrame): Vector[Vec] = df
      .select(col("vec_id"), col("embedding")).as[Vec].collect().toVector
    val appendReqs = vecs(emb.filter(isBatch))
    val forgetReqs = vecs(emb.filter(isDel))
    assert(appendReqs.size >= 5 && forgetReqs.size >= 5,
      "fixture regression: thin request cohorts")
    // one-shot reference
    val rootR = "target/graft-index/spec-stream-x33-oneshot"
    rmRoot(rootR)
    S.buildSq8Maintained(spark, rootR, emb.filter(!isBatch))
    S.appendSq8Maintained(spark, rootR, emb.filter(isBatch))
    S.forgetSq8Maintained(spark, rootR, emb.filter(isDel))
    def codeRows(r: String) = spark.read.parquet(s"$r/codes")
      .select(col("vec_id"), hex(col("codes")).as("cx"), col("cell_id"))
      .collect().map(_.toSeq).toSet
    val expect = codeRows(rootR)
    for (seed <- Seq(7, 41)) {
      val rnd = new scala.util.Random(seed)
      val rootS = s"target/graft-index/spec-stream-x33-$seed"
      rmRoot(rootS)
      S.buildSq8Maintained(spark, rootS, emb.filter(!isBatch))
      def drive(reqs: Vector[Vec])(step: DataFrame => Unit): Unit = {
        val in = MemoryStream[Vec]
        val q = in.toDF().writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            step(b.select(col("vec_id"), col("embedding"))
              .localCheckpoint())
            ()
          }
          .start()
        try {
          var rest = rnd.shuffle(reqs)
          while (rest.nonEmpty) {
            val (chunk, tail) = rest.splitAt(1 + rnd.nextInt(4))
            rest = tail
            in.addData(chunk: _*)
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      drive(appendReqs)(b => S.appendSq8Maintained(spark, rootS, b))
      drive(forgetReqs)(b => S.forgetSq8Maintained(spark, rootS, b))
      assert(codeRows(rootS) == expect,
        s"seed $seed: streamed x33 maintenance diverged from the one-shot lifecycle")
      CacheScope.drain()
    }
  }

  test("streamed takedowns == one-shot takedown of the union, 2 fuzz seeds") {
    // m8 bound as a takedown-request STREAM: each micro-batch's
    // group-fact update (decrement / relabel / vanish) must compose —
    // any cut of the request set lands bands and members where the
    // all-at-once takedown lands them (each takedown leaves the store
    // == rebuild-over-current-survivors, so the fold telescopes)
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mm = graft.operators.MultimodalOps
    val med = mm.media(spark, Sf)
    val isDel = col("media_id") % graft.operators.TextOps.ForgetMod ===
      graft.operators.TextOps.ForgetRem
    val requests = med.filter(isDel).select(col("media_id"))
      .collect().map(_.getLong(0)).toVector
    def bandRows(r: String) = spark.read.parquet(s"$r/bands")
      .select(col("kind"), col("rep_id"), col("n_copies"), col("phash"),
        col("band"), col("chunk")).collect().map(_.toSeq).toSet
    def memRows(r: String) = spark.read.parquet(s"$r/members")
      .select(col("kind"), col("digest"), col("media_id"))
      .collect().map(_.toSeq).toSet
    val rootR = "target/graft-index/spec-stream-m8-oneshot"
    rmRoot(rootR)
    mm.writePhashStore(spark, rootR, med)
    mm.takedownPhash(spark, rootR, med.filter(isDel))
    val (expB, expM) = (bandRows(rootR), memRows(rootR))

    for (seed <- Seq(13, 31)) {
      val rnd = new scala.util.Random(seed)
      val rootS = s"target/graft-index/spec-stream-m8-$seed"
      rmRoot(rootS)
      mm.writePhashStore(spark, rootS, med)
      val in = MemoryStream[Long]
      val q = in.toDF().toDF("media_id").writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          // a real takedown request ships ids; the executor fetches
          // the payload rows it must re-sign (batch-bounded)
          mm.takedownPhash(spark, rootS,
            med.join(broadcast(b.select(col("media_id"))),
              Seq("media_id")).localCheckpoint())
          ()
        }
        .start()
      try {
        var rest = rnd.shuffle(requests)
        while (rest.nonEmpty) {
          val (chunk, tail) = rest.splitAt(1 + rnd.nextInt(4))
          rest = tail
          in.addData(chunk: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(bandRows(rootS) == expB,
        s"seed $seed: streamed takedown diverged on bands")
      assert(memRows(rootS) == expM,
        s"seed $seed: streamed takedown diverged on members")
      CacheScope.drain()
    }
  }

  test("streamed round-18 forgets == one-shot forget of the union (d31 shingle + d32 winnow cap re-check + ly4 z-order), 2 fuzz seeds") {
    // the three r17 forgets without a streamed twin, bound as
    // takedown-request STREAMS. The interesting case is d32: a batch-1
    // deletion can RE-ADMIT a previously evicted hash (its survivor
    // count drops under the cap) and a batch-2 deletion can leave it
    // admitted with fewer owners — the fold still telescopes because
    // every forget leaves kept == rebuild-over-current-survivors (the
    // cap re-check is stateless given the uncapped base). ly4's
    // targeting reads the stats sidecar's CURRENT day bounds per
    // batch; bounds only shrink as batches delete, and every
    // survivor's days stay inside the recounted bounds, so later
    // batches never under-target.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val d = graft.operators.DedupOps
    val ly = graft.operators.LayoutOps
    val mod = graft.operators.TextOps.ForgetMod
    val rem = graft.operators.TextOps.ForgetRem
    // the corpus is AUGMENTED with a crafted boilerplate cohort so the
    // d32 wrinkle provably fires inside the stream: 16 copies (6 in
    // the forget cohort, 10 out) push every boilerplate hash over the
    // cap at build (16 > 10, evicted); the forget's 6 deletions drop
    // it to exactly the cap (10 <= 10) — the surviving copies must
    // RE-ADMIT at whichever micro-batch deletes the 6th copy, and
    // later batches keep sweeping other docs around the re-admission
    val boiler = "the quick brown fox jumps over the lazy dog while " +
      "seven wizards brew strong potions behind the old stone wall today"
    val boilerIds = (0 until 6).map(k => (700000L + k) * mod + rem) ++
      (0 until 10).map(k => (710000L + k) * mod + rem + 1)
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("text"))
      .unionByName(boilerIds.map(i => (i, boiler)).toDF("doc_id", "text"))
    val isDel = col("doc_id") % mod === rem
    val requests = docs.filter(isDel)
      .select(col("doc_id"), col("text")).as[Doc].collect().toVector
    assert(requests.size >= 5, "fixture regression: thin request cohort")
    val ev = Tables.events(spark, Sf)
    val rootSh = "target/graft-index/spec-stream-d31-oneshot"
    val rootWn = "target/graft-index/spec-stream-d32-oneshot"
    val rootZo = "target/graft-index/spec-stream-ly4-oneshot"
    Seq(rootSh, rootWn, rootZo).foreach(rmRoot)
    d.writeShingleIndex(spark, rootSh, docs)
    d.forgetShingleIndex(spark, rootSh, docs.filter(isDel))
    d.writeWinnowIndex(spark, rootWn, docs)
    d.forgetWinnowIndex(spark, rootWn, docs.filter(isDel))
    ly.writeZorder(spark, rootZo, ev)
    val maxU = spark.read.parquet(s"$rootZo/stats")
      .agg(max(col("u_max"))).collect()(0).getLong(0)
    val zReqs = (0L to maxU).filter(_ %
      graft.operators.TextOps.ForgetMod == graft.operators.TextOps.ForgetRem)
      .toVector
    ly.forgetZorder(spark, rootZo, zReqs)
    CacheScope.drain()
    val arts = Map(
      "sh" -> Seq(
        "postings" -> Seq("doc_id", "h", "sh_bucket"),
        "shset" -> Seq("h", "sh_bucket"),
        "docstats" -> Seq("doc_id", "n_shingles", "ds_bucket")),
      "wn" -> Seq(
        "wfp" -> Seq("doc_id", "h", "h_bucket"),
        "wdf" -> Seq("h", "nd", "h_bucket"),
        "kept" -> Seq("doc_id", "h", "h_bucket")),
      "zo" -> Seq(
        "rows" -> Seq("event_id", "u", "day", "cell"),
        "stats" -> Seq("cell", "n_rows", "u_min", "u_max", "day_min",
          "day_max")))
    val expect = Map(
      "sh" -> arts("sh").map { case (a, cs) => a -> rows(rootSh, a, cs) },
      "wn" -> arts("wn").map { case (a, cs) => a -> rows(rootWn, a, cs) },
      "zo" -> arts("zo").map { case (a, cs) => a -> rows(rootZo, a, cs) })
    // the d32 wrinkle must actually FIRE in this fixture: some hash
    // evicted in the full build re-admits after the one-shot forget
    val preOver = {
      val r = "target/graft-index/spec-stream-d32-preover"
      rmRoot(r); d.writeWinnowIndex(spark, r, docs)
      spark.read.parquet(s"$r/wdf")
        .filter(col("nd") > d.WinnowCap).select(col("h"))
        .collect().map(_.getLong(0)).toSet
    }
    val postOver = spark.read.parquet(s"$rootWn/wdf")
      .filter(col("nd") > d.WinnowCap).select(col("h"))
      .collect().map(_.getLong(0)).toSet
    assert((preOver -- postOver).nonEmpty,
      "fixture regression: the forget re-admits no evicted hash — the " +
        "cap re-check twin would prove nothing")

    for (seed <- Seq(19, 47)) {
      val rnd = new scala.util.Random(seed)
      val rS = s"target/graft-index/spec-stream-d31-$seed"
      val rW = s"target/graft-index/spec-stream-d32-$seed"
      val rZ = s"target/graft-index/spec-stream-ly4-$seed"
      Seq(rS, rW, rZ).foreach(rmRoot)
      d.writeShingleIndex(spark, rS, docs)
      d.writeWinnowIndex(spark, rW, docs)
      ly.writeZorder(spark, rZ, ev)
      val in = MemoryStream[Doc]
      val q = in.toDF().writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val req = b.select(col("doc_id"), col("text")).localCheckpoint()
          d.forgetShingleIndex(spark, rS, req)
          d.forgetWinnowIndex(spark, rW, req)
          ()
        }
        .start()
      try {
        var rest = rnd.shuffle(requests)
        while (rest.nonEmpty) {
          val (chunk, tail) = rest.splitAt(1 + rnd.nextInt(4))
          rest = tail
          in.addData(chunk: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      // ly4's requests are user ids (driver metadata, the c6
      // convention) — stream them as id micro-batches
      val inZ = MemoryStream[Long]
      val qZ = inZ.toDF().toDF("u").writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          ly.forgetZorder(spark, rZ,
            b.select(col("u")).collect().map(_.getLong(0)).toSeq)
          ()
        }
        .start()
      try {
        var rest = rnd.shuffle(zReqs)
        while (rest.nonEmpty) {
          val (chunk, tail) = rest.splitAt(1 + rnd.nextInt(4))
          rest = tail
          inZ.addData(chunk: _*)
          qZ.processAllAvailable()
        }
      } finally qZ.stop()
      for ((tag, root) <- Seq("sh" -> rS, "wn" -> rW, "zo" -> rZ);
           (a, cs) <- arts(tag)) {
        assert(rows(root, a, cs) == expect(tag).toMap.apply(a),
          s"seed $seed: streamed $tag forget diverged on $a")
      }
      CacheScope.drain()
    }
  }

  test("streamed cluster forgets == one-shot forget of the union, 2 fuzz seeds") {
    // d30 bound as a takedown-request STREAM: each micro-batch sweeps
    // the index and re-clusters its touched survivor subgraphs, so any
    // cut of the request set must land the four artifacts where a
    // single all-at-once forget lands them (each forget leaves
    // index+assignment == rebuild-over-current-survivors, so the fold
    // telescopes regardless of batch boundaries)
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val docs = Tables.documents(spark, Sf)
    val isDel = col("doc_id") % graft.operators.TextOps.ForgetMod ===
      graft.operators.TextOps.ForgetRem
    val requests = docs.filter(isDel).select(col("doc_id"))
      .collect().map(_.getLong(0)).toVector
    val rootR = "target/graft-index/spec-stream-d30-oneshot"
    rmRoot(rootR)
    DedupOps.writeBandIndex(spark, rootR, docs)
    DedupOps.buildClusterTables(spark, rootR)
    CacheScope.drain()
    DedupOps.forgetClusters(spark, rootR, docs.filter(isDel).select(col("doc_id")))
    CacheScope.drain()
    val arts = Seq(
      "bands" -> Seq("doc_id", "band", "sig", "band_bucket"),
      "docsets" -> Seq("doc_id", "bg"),
      "clusters" -> Seq("doc_id", "cluster_id"),
      "members" -> Seq("doc_id", "cluster_id"))
    val expect = arts.map { case (a, cs) => a -> rows(rootR, a, cs) }.toMap

    for (seed <- Seq(3, 29)) {
      val rnd = new scala.util.Random(seed)
      val rootS = s"target/graft-index/spec-stream-d30-$seed"
      rmRoot(rootS)
      DedupOps.writeBandIndex(spark, rootS, docs)
      DedupOps.buildClusterTables(spark, rootS)
      CacheScope.drain()
      val in = MemoryStream[Long]
      val q = in.toDF().toDF("doc_id").writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          DedupOps.forgetClusters(spark, rootS,
            b.select(col("doc_id")).localCheckpoint())
          CacheScope.drain()
          ()
        }
        .start()
      try {
        var rest = rnd.shuffle(requests)
        while (rest.nonEmpty) {
          val (chunk, tail) = rest.splitAt(1 + rnd.nextInt(4))
          rest = tail
          in.addData(chunk: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      arts.foreach { case (a, cs) =>
        assert(rows(rootS, a, cs) == expect(a),
          s"seed $seed: streamed cluster forget diverged on $a")
      }
      CacheScope.drain()
    }
  }
}
