package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{CacheScope, DedupOps, RetrievalOps, SimilarityOps, TextOps}

/** Round-17: the verb matrix's formerly "pass applies" forgets,
  * materialized and pinned per family — positional lists (ir23),
  * shingle/decontam (d31), winnowing (d32, with the cap RE-CHECK that
  * re-admits rows an earlier eviction removed), simhash chunks (d33),
  * the SQ8 lifecycle (x33, frozen quantizer), and the champion tier's
  * forget-consistency claim ("forgetting postings forgets here"),
  * exercised instead of asserted. Every forget == rebuild-over-
  * survivors row-exact; untouched buckets' files byte-identical;
  * reruns no-ops. */
class ForgetFamiliesSpec extends SparkSpec {

  private val isDel = col("doc_id") % TextOps.ForgetMod === TextOps.ForgetRem

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

  test("ir23: positional forget == rebuild over survivors; per-file sort preserved; untouched buckets byte-identical") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val rootA = "target/graft-index/spec-ir23-forget"
    val rootB = "target/graft-index/spec-ir23-rebuild"
    rmRoot(rootA); rmRoot(rootB)
    RetrievalOps.writePositionalIndex(spark, rootA, docs)
    val before = bucketSig(s"$rootA/positional", "term_bucket")
    RetrievalOps.forgetPositionalIndex(spark, rootA, docs.filter(isDel))
    RetrievalOps.writePositionalIndex(spark, rootB, docs.filter(!isDel))
    assert(rows(s"$rootA/positional", "doc_id", "dl", "pos", "tok", "term_bucket") ==
      rows(s"$rootB/positional", "doc_id", "dl", "pos", "tok", "term_bucket"),
      "positional forget != rebuild over survivors")
    // the rewritten buckets' files must STILL be (tok, doc_id, pos)-
    // sorted — the per-file order the streaming adjacency merge rides
    val after = bucketSig(s"$rootA/positional", "term_bucket")
    val rewritten = after.keySet.filter(b => after.get(b) != before.get(b))
    assert(rewritten.nonEmpty, "fixture regression: the forget rewrote nothing")
    rewritten.foreach { b =>
      after(b).foreach { case (name, _, _) =>
        val f = spark.read.parquet(
          s"$rootA/positional/term_bucket=$b/$name")
          .select(col("tok"), col("doc_id"), col("pos"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
        assert(f.sameElements(f.sortBy(identity)),
          s"rewritten file $name in bucket $b lost the (tok, doc_id, pos) sort")
      }
    }
    // untouched buckets never listed, read or rewritten
    (before.keySet -- rewritten).foreach { b =>
      assert(after.get(b) == before.get(b),
        s"untouched positional bucket $b was rewritten by the forget")
    }
    // rerun a no-op at the row level
    RetrievalOps.forgetPositionalIndex(spark, rootA, docs.filter(isDel))
    assert(rows(s"$rootA/positional", "doc_id", "pos", "tok") ==
      rows(s"$rootB/positional", "doc_id", "pos", "tok"),
      "retried positional forget drifted")
    rmRoot(rootA); rmRoot(rootB)
  }

  test("d31: shingle forget == rebuild over survivors on all three artifacts; the dictionary is SUBTRACTIVE") {
    val docs = graft.sources.Tables.documents(spark, Sf)
      .filter(col("doc_id") % DedupOps.EvalMod =!= 0)
    val rootA = "target/graft-index/spec-d31-forget"
    val rootB = "target/graft-index/spec-d31-rebuild"
    rmRoot(rootA); rmRoot(rootB)
    DedupOps.writeShingleIndex(spark, rootA, docs)
    val dictBefore = rows(s"$rootA/shset", "h")
    DedupOps.forgetShingleIndex(spark, rootA, docs.filter(isDel))
    DedupOps.writeShingleIndex(spark, rootB, docs.filter(!isDel))
    assert(rows(s"$rootA/postings", "doc_id", "h", "sh_bucket") ==
      rows(s"$rootB/postings", "doc_id", "h", "sh_bucket"),
      "shingle postings forget != rebuild over survivors")
    assert(rows(s"$rootA/shset", "h", "sh_bucket") ==
      rows(s"$rootB/shset", "h", "sh_bucket"),
      "shingle dictionary forget != rebuild over survivors")
    assert(rows(s"$rootA/docstats", "doc_id", "n_shingles") ==
      rows(s"$rootB/docstats", "doc_id", "n_shingles"),
      "shingle docstats forget != rebuild over survivors")
    // subtraction is REAL on this fixture: some hash's last posting
    // died, so the dictionary shrank (an additive dict would keep it
    // and d12's membership audit would flag deleted content forever)
    assert(rows(s"$rootA/shset", "h").size < dictBefore.size,
      "fixture regression: no hash left the dictionary — subtraction untested")
    rmRoot(rootA); rmRoot(rootB)
  }

  test("d31: shingle build(A) → append(B) → forget(D) == build((A ∪ B) − D) on all three artifacts") {
    val docs = graft.sources.Tables.documents(spark, Sf)
      .filter(col("doc_id") % DedupOps.EvalMod =!= 0)
    val isNew = col("doc_id") % DedupOps.IncomingMod === 0
    assert(docs.filter(isDel && isNew).count() > 0 &&
      docs.filter(isDel && !isNew).count() > 0,
      "fixture regression: the request misses one side of the append")
    val rootA = "target/graft-index/spec-d31-compose"
    val rootB = "target/graft-index/spec-d31-compose-rebuild"
    rmRoot(rootA); rmRoot(rootB)
    DedupOps.writeShingleIndex(spark, rootA, docs.filter(!isNew))
    DedupOps.appendShingleIndex(spark, rootA, docs.filter(isNew))
    CacheScope.drain()
    DedupOps.forgetShingleIndex(spark, rootA, docs.filter(isDel))
    DedupOps.writeShingleIndex(spark, rootB, docs.filter(!isDel))
    for ((art, cols) <- Seq("postings" -> Seq("doc_id", "h", "sh_bucket"),
        "shset" -> Seq("h", "sh_bucket"),
        "docstats" -> Seq("doc_id", "n_shingles")))
      assert(rows(s"$rootA/$art", cols: _*) == rows(s"$rootB/$art", cols: _*),
        s"shingle $art after build→append→forget != rebuild")
    rmRoot(rootA); rmRoot(rootB)
  }

  test("d32: winnow forget == rebuild; a hash dropped back under the cap RE-ADMITS rows an earlier eviction removed") {
    import spark.implicits._
    // 12 docs share one boilerplate text (all its hashes nd = 12 >
    // cap 10 → evicted from kept); 20 distinct docs around them. The
    // forget deletes 3 boilerplate copies → nd = 9 ≤ cap → the 9
    // surviving copies' rows must RE-ENTER kept.
    val boiler = "the quick brown fox jumps over the lazy dog while " +
      "seven wizards brew strong potions behind the old stone wall today"
    val docs = ((1 to 12).map(i => (i.toLong, boiler)) ++
      (101 to 120).map(i =>
        (i.toLong, s"unique document body number $i with words " +
          s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i " +
          s"theta$i iota$i kappa$i lambda$i mu$i")))
      .toDF("doc_id", "text")
    val rootA = "target/graft-index/spec-d32-forget"
    val rootB = "target/graft-index/spec-d32-rebuild"
    rmRoot(rootA); rmRoot(rootB)
    DedupOps.writeWinnowIndex(spark, rootA, docs)
    val keptBefore = rows(s"$rootA/kept", "doc_id")
    assert(!keptBefore.exists(_.head.asInstanceOf[Long] <= 12L),
      "fixture regression: boilerplate rows were never evicted at build")
    val del = col("doc_id").isin(1L, 2L, 3L)
    DedupOps.forgetWinnowIndex(spark, rootA, docs.filter(del))
    DedupOps.writeWinnowIndex(spark, rootB, docs.filter(!del))
    Seq(("wfp", Seq("doc_id", "h", "h_bucket")),
        ("wdf", Seq("h", "nd", "h_bucket")),
        ("kept", Seq("doc_id", "h", "h_bucket"))).foreach { case (t, cs) =>
      assert(rows(s"$rootA/$t", cs: _*) == rows(s"$rootB/$t", cs: _*),
        s"winnow $t forget != rebuild over survivors")
    }
    // the re-admission happened: the 9 surviving boilerplate copies
    // are back in the serving table
    val keptAfter = rows(s"$rootA/kept", "doc_id")
      .map(_.head.asInstanceOf[Long])
    assert((4L to 12L).forall(keptAfter.contains),
      "surviving boilerplate rows were not re-admitted after the cap re-check")
    // rerun a no-op
    DedupOps.forgetWinnowIndex(spark, rootA, docs.filter(del))
    assert(rows(s"$rootA/kept", "doc_id", "h") ==
      rows(s"$rootB/kept", "doc_id", "h"),
      "retried winnow forget drifted")
    rmRoot(rootA); rmRoot(rootB)
  }

  test("d33: simhash forget == rebuild over survivors; untouched chunk buckets byte-identical") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val rootA = "target/graft-index/spec-d33-forget"
    val rootB = "target/graft-index/spec-d33-rebuild"
    rmRoot(rootA); rmRoot(rootB)
    DedupOps.writeSimhashIndex(spark, rootA, docs)
    DedupOps.forgetSimhashIndex(spark, rootA, docs.filter(isDel))
    DedupOps.writeSimhashIndex(spark, rootB, docs.filter(!isDel))
    assert(rows(s"$rootA/chunks", "doc_id", "simhash", "band", "chunk", "chunk_bucket") ==
      rows(s"$rootB/chunks", "doc_id", "simhash", "band", "chunk", "chunk_bucket"),
      "simhash forget != rebuild over survivors")
    // request-bounded minimality needs a request-sized request: a TWO
    // doc takedown touches ≤ 8 of 16 chunk buckets, and every other
    // bucket's files survive byte-identical
    val twoIds = spark.read.parquet(s"$rootB/chunks")
      .select(col("doc_id")).distinct().orderBy(col("doc_id")).limit(2)
      .collect().map(_.getLong(0)).toSeq
    val before = bucketSig(s"$rootB/chunks", "chunk_bucket")
    DedupOps.forgetSimhashIndex(spark, rootB,
      docs.filter(col("doc_id").isin(twoIds: _*)))
    val after = bucketSig(s"$rootB/chunks", "chunk_bucket")
    val rewritten = before.keySet.filter(b => after.get(b) != before.get(b))
    assert(rewritten.size <= 8,
      s"a 2-doc takedown rewrote ${rewritten.size} chunk buckets")
    (before.keySet -- rewritten).foreach { b =>
      assert(after.get(b) == before.get(b),
        s"untouched chunk bucket $b was rewritten by the forget")
    }
    rmRoot(rootA); rmRoot(rootB)
  }

  test("x33: SQ8 append touches no standing cell file; forget == rebuild-over-survivors on the codes rows") {
    val emb = graft.sources.Tables.embeddings(spark, Sf)
    val S = SimilarityOps
    val isBatch = col("vec_id") % DedupOps.IncomingMod === 0 &&
      col("vec_id") >= S.NumQueries + S.NumCentroids
    val isDelV = col("vec_id") % S.DeleteMod === S.DeleteRem
    val rootA = "target/graft-index/spec-x33-life"
    val rootB = "target/graft-index/spec-x33-rebuild"
    rmRoot(rootA); rmRoot(rootB)
    S.buildSq8Maintained(spark, rootA, emb.filter(!isBatch))
    val before = bucketSig(s"$rootA/codes", "cell_id")
    S.appendSq8Maintained(spark, rootA, emb.filter(isBatch))
    val afterAppend = bucketSig(s"$rootA/codes", "cell_id")
    // append-only: every standing file survives byte-identical (the
    // frozen grid is what makes appended codes comparable at all)
    before.foreach { case (b, files) =>
      val now = afterAppend.getOrElse(b, Seq.empty)
      files.foreach { f =>
        assert(now.contains(f),
          s"append rewrote standing file ${f._1} in cell $b")
      }
    }
    // a retried append is a row-level no-op
    S.appendSq8Maintained(spark, rootA, emb.filter(isBatch))
    assert(bucketSig(s"$rootA/codes", "cell_id") == afterAppend,
      "retried SQ8 append changed the table")
    S.forgetSq8Maintained(spark, rootA, emb.filter(isDelV))
    // file-level determinism: an independent replay of the same
    // lifecycle lands row-identical codes (the genuine rebuild-over-
    // survivors-with-FROZEN-grid reference lives in x33's DuckDB
    // oracle, which relearns nothing); then the compliance pins
    S.buildSq8Maintained(spark, rootB, emb.filter(!isBatch))
    S.appendSq8Maintained(spark, rootB, emb.filter(isBatch))
    S.forgetSq8Maintained(spark, rootB, emb.filter(isDelV))
    def codeRows(r: String) = spark.read.parquet(s"$r/codes")
      .select(col("vec_id"), hex(col("codes")).as("cx"), col("cell_id"))
      .collect().map(_.toSeq).toSet
    assert(codeRows(rootA) == codeRows(rootB),
      "x33 lifecycle is not deterministic across replays")
    val ids = spark.read.parquet(s"$rootA/codes").select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(!ids.exists(i => i % S.DeleteMod == S.DeleteRem),
      "a deleted vector survived in the codes table")
    assert(!spark.read.parquet(s"$rootA/queries").select(col("vec_id"))
        .collect().map(_.getLong(0)).exists(i => i % S.DeleteMod == S.DeleteRem),
      "a deleted vector survived in the pre-encoded queries")
    rmRoot(rootA); rmRoot(rootB)
  }

  test("ly4: z-order forget == rebuild over survivors (rows AND stats); untouched cell dirs byte-identical; rerun a no-op") {
    val ev = graft.sources.Tables.events(spark, Sf)
    val lo = graft.operators.LayoutOps
    val rootA = "target/graft-index/spec-ly4-forget"
    val rootB = "target/graft-index/spec-ly4-rebuild"
    rmRoot(rootA); rmRoot(rootB)
    lo.writeZorder(spark, rootA, ev)
    val before = bucketSig(s"$rootA/rows", "cell")
    // a TWO-user request: targets are the two u stripes' cells only
    val delUs = Seq(5L, 18L)
    lo.forgetZorder(spark, rootA, delUs)
    val uCol = col("user_id").bitwiseAND(lit(65535L)) // zCoords' DimMask
    lo.writeZorder(spark, rootB, ev.filter(!uCol.isin(delUs: _*)))
    assert(rows(s"$rootA/rows", "event_id", "u", "day", "cell") ==
      rows(s"$rootB/rows", "event_id", "u", "day", "cell"),
      "ly4 rows forget != rebuild over survivors")
    assert(rows(s"$rootA/stats", "cell", "n_rows", "u_min", "u_max",
        "day_min", "day_max") ==
      rows(s"$rootB/stats", "cell", "n_rows", "u_min", "u_max",
        "day_min", "day_max"),
      "ly4 stats forget != rebuild over survivors (subtractive recount broken)")
    // untouched cells' files never moved (the rectangle bounds the IO)
    val after = bucketSig(s"$rootA/rows", "cell")
    val rewritten = before.keySet.filter(b => after.get(b) != before.get(b))
    assert(rewritten.nonEmpty, "fixture regression: the forget rewrote nothing")
    (before.keySet -- rewritten).foreach { b =>
      assert(after.get(b) == before.get(b),
        s"untouched z cell $b was rewritten by the forget")
    }
    // rerun: sweeps nothing, recounts the same stats
    lo.forgetZorder(spark, rootA, delUs)
    assert(rows(s"$rootA/stats", "cell", "n_rows") ==
      rows(s"$rootB/stats", "cell", "n_rows"),
      "retried ly4 forget drifted the stats")
    rmRoot(rootA); rmRoot(rootB)
  }

  test("champion tier: ir22's postings forget propagates — the champion serve equals a fresh build over survivors") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val rootA = "target/graft-index/spec-champ-forget"
    val rootB = "target/graft-index/spec-champ-rebuild"
    rmRoot(rootA); rmRoot(rootB)
    RetrievalOps.writePostingsIndex(spark, rootA, docs)
    RetrievalOps.forgetPostingsIndex(spark, rootA, docs.filter(isDel))
    val served = RetrievalOps.championServeFrom(spark, rootA).collect().toSeq
    CacheScope.drain()
    RetrievalOps.writePostingsIndex(spark, rootB, docs.filter(!isDel))
    val rebuilt = RetrievalOps.championServeFrom(spark, rootB).collect().toSeq
    CacheScope.drain()
    assert(served == rebuilt,
      "the champion serve over the forgotten index diverged from the survivor rebuild")
    rmRoot(rootA); rmRoot(rootB)
  }
}
