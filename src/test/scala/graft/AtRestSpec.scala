package graft

import org.apache.spark.sql.functions._
import graft.operators.AtRest

/** Unit pins for the shared maintenance verbs themselves — the four
  * traps [[graft.operators.AtRest.overwriteBuckets]] exists to own
  * (empty-partition drop, canonical column order, unpinned-stage
  * self-read, stray bucket) and the delta verb
  * [[graft.operators.AtRest.sweepBuckets]] and the footer-typed reader
  * [[graft.operators.AtRest.read]] — exercised directly on a
  * synthetic table, so a regression in the verb fails HERE with a
  * one-table reproduction instead of inside some family's 30-second
  * lifecycle test. */
class AtRestSpec extends SparkSpec {

  private def rmRoot(root: String): Unit = {
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    ()
  }

  private def seed(root: String): Unit = {
    import spark.implicits._
    (0L until 40L).map(i => (i, s"v$i", (i % 4).toInt))
      .toDF("id", "payload", "b")
      .write.mode("overwrite").partitionBy("b").parquet(root)
  }

  private def rows(root: String): Set[(Long, String, Int)] =
    spark.read.parquet(root).select(col("id"), col("payload"), col("b"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  test("overwriteBuckets: an affected bucket staging ZERO rows has its directory dropped; others replaced exactly") {
    import spark.implicits._
    val root = "target/graft-index/spec-atrest-drop"
    rmRoot(root); seed(root)
    // replace buckets 1 and 2; stage rows only for bucket 1
    val staged = Seq((100L, "new", 1)).toDF("id", "payload", "b")
    val present = AtRest.overwriteBuckets(spark, root, "b",
      Seq(1, 2), staged)
    assert(present == Set(1))
    assert(!new java.io.File(s"$root/b=2").exists(),
      "the zero-survivor bucket kept its stale directory")
    val r = rows(root)
    assert(r.count(_._3 == 1) == 1 && r.exists(_._1 == 100L),
      "bucket 1 was not replaced by the staged row")
    assert(r.count(_._3 == 0) == 10 && r.count(_._3 == 3) == 10,
      "an untouched bucket changed")
  }

  test("overwriteBuckets: staged columns re-order to the table's canonical file order (the d23 trap)") {
    import spark.implicits._
    val root = "target/graft-index/spec-atrest-order"
    rmRoot(root); seed(root)
    // staged frame deliberately in the WRONG column order
    val staged = Seq((1, "scrambled", 200L)).toDF("b", "payload", "id")
    AtRest.overwriteBuckets(spark, root, "b", Seq(1), staged)
    // a subsequent read must see ONE consistent schema and the row
    // under its right columns
    val r = spark.read.parquet(root)
      .filter(col("b") === 1).collect()
    assert(r.length == 1 && r.head.getAs[Long]("id") == 200L &&
      r.head.getAs[String]("payload") == "scrambled",
      s"column order scrambled the replacement row: ${r.toSeq}")
    // an APPEND with permuted columns lands in the files' order too:
    // every data file, old and new, keeps (id, payload)
    AtRest.land(spark, root, "b",
      Seq(("late", 2, 300L)).toDF("payload", "b", "id"), "append")
    val fileCols = new java.io.File(root).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.getPath).columns.toSeq).toSet
    assert(fileCols == Set(Seq("id", "payload")),
      s"the append mixed field orders into the table: $fileCols")
    val late = spark.read.parquet(root).filter(col("id") === 300L).collect()
    assert(spark.read.parquet(root).columns.toSeq == Seq("id", "payload", "b") &&
      late.length == 1 && late.head.getAs[String]("payload") == "late" &&
      late.head.getAs[Int]("b") == 2,
      s"the permuted append read back wrong: ${late.toSeq}")
  }

  test("overwriteBuckets: the staged plan may READ the very buckets it replaces (the unpinned-stage trap)") {
    val root = "target/graft-index/spec-atrest-selfread"
    rmRoot(root); seed(root)
    // staged = a pure function of the table's own bucket-1 rows — the
    // verb must pin it before the overwrite destroys its inputs
    val staged = spark.read.parquet(root)
      .filter(col("b") === 1)
      .withColumn("payload", concat(col("payload"), lit("!")))
    AtRest.overwriteBuckets(spark, root, "b", Seq(1), staged)
    val r = rows(root).filter(_._3 == 1)
    assert(r.size == 10 && r.forall(_._2.endsWith("!")),
      s"self-read staging lost rows: ${r.take(3)}")
  }

  test("land: a wide frame lands ONE file per bucket, and the sortCols order holds within each file") {
    import spark.implicits._
    val root = "target/graft-index/spec-atrest-land-wide"
    rmRoot(root)
    val wide = (0L until 400L)
      .map(i => (i, ((i * 7) % 13).toInt, (i % 4).toInt))
      .toDF("id", "k", "b").repartition(8)
    assert(wide.rdd.getNumPartitions == 8, "fixture regression: not wide")
    AtRest.land(spark, root, "b", wide, "overwrite",
      sortCols = Seq(col("k"), col("id")))
    for (b <- 0 until 4) {
      val files = new java.io.File(s"$root/b=$b").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"bucket $b landed ${files.length} files from an 8-task frame")
      val inFile = spark.read.parquet(files.head.getPath)
        .select(col("k"), col("id")).collect()
        .map(r => (r.getInt(0), r.getLong(1)))
      assert(inFile.length == 100 && inFile.sameElements(inFile.sortBy(identity)),
        s"bucket $b's file lost the (k, id) sort")
    }
  }

  test("land: a self-reading append (anti-join against its own target, no caller pin) lands exactly once; a retry is a no-op") {
    import spark.implicits._
    val root = "target/graft-index/spec-atrest-land-self"
    rmRoot(root); seed(root)
    // ids 30..49: 30..39 already stand, 40..49 are new
    val batch = (30L until 50L).map(i => (i, s"v$i", (i % 4).toInt))
      .toDF("id", "payload", "b")
    def fresh = batch.join(spark.read.parquet(root).select(col("id")),
      Seq("id"), "left_anti")
    // the pin rule reads the plan: the anti-join scans the target (and
    // every directory under it), a bucket-directory read scans part of
    // it, a pinned copy scans nothing, and none scans another table
    assert(AtRest.readsTable(spark, fresh, root) &&
      AtRest.readsTable(spark, fresh, s"$root/b=1") &&
      AtRest.readsTable(spark, spark.read.parquet(s"$root/b=1"), root))
    assert(!AtRest.readsTable(spark, fresh.localCheckpoint(), root) &&
      !AtRest.readsTable(spark, fresh, s"$root-other"))
    AtRest.land(spark, root, "b", fresh, "append")
    val all = (0L until 50L).map(i => (i, s"v$i", (i % 4).toInt)).toSet
    assert(spark.read.parquet(root).count() == 50 && rows(root) == all,
      "the self-reading append did not land each new row exactly once")
    def files = new java.io.File(root).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).map(_.getName).filter(_.endsWith(".parquet"))
      .toSet
    val landed = files
    AtRest.land(spark, root, "b", fresh, "append")
    assert(spark.read.parquet(root).count() == 50 && rows(root) == all &&
      files == landed, "a retried append was not a no-op")
  }

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  test("guard: AtRest.land is the only bucketed parquet writer in src/main") {
    // a literal bucket column (`partitionBy("b")`) — every
    // Window.partitionBy takes col(...) — or, on a code line, any
    // argument that is neither col(...) nor empty (a writer handed a
    // variable)
    val literal = raw"""partitionBy\("""".r
    val variable = raw"""partitionBy\((?!col\(|\))""".r
    val hits = for {
      f <- scalaFiles(new java.io.File("src/main/scala"))
      if f.getName != "AtRest.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines()
        .toSeq.zipWithIndex
      code = !Seq("*", "/*", "//").exists(line.trim.startsWith)
      if literal.findFirstIn(line).nonEmpty ||
        (code && variable.findFirstIn(line).nonEmpty)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      s"partitioned writers outside AtRest.land:\n${hits.mkString("\n")}")
  }

  test("guard: AtRest.land is the only appending writer in graft.operators") {
    // every operator table is bucketed, and a plain append into a
    // partitioned table lands at its root, where a partitioned read
    // never looks (the flat per-doc stats appends lost their rows so)
    val append = raw"""mode\(\s*("append"|SaveMode\.Append)""".r
    val hits = for {
      f <- scalaFiles(new java.io.File("src/main/scala/graft/operators"))
      if f.getName != "AtRest.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines()
        .toSeq.zipWithIndex
      if !Seq("*", "/*", "//").exists(line.trim.startsWith)
      if append.findFirstIn(line).nonEmpty
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      s"appending writers outside AtRest.land:\n${hits.mkString("\n")}")
  }

  test("guard: AtRest.read is the only at-rest reader in graft.operators") {
    // a plain read starts a schema-inference job per call, and a
    // hand-declared schema is a second copy of the table's layout
    val reader = raw"""\.read\.(parquet|schema)\(""".r
    val hits = for {
      f <- scalaFiles(new java.io.File("src/main/scala/graft/operators"))
      if f.getName != "AtRest.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines()
        .toSeq.zipWithIndex
      code = !Seq("*", "/*", "//").exists(line.trim.startsWith)
      if reader.findFirstIn(line).nonEmpty ||
        (code && line.trim.endsWith(".read"))
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      s"at-rest reads outside AtRest.read:\n${hits.mkString("\n")}")
  }

  test("read: the footer-typed scan has a plain read's schema and starts no Spark job") {
    import spark.implicits._
    val base = "target/graft-index/spec-atrest-read"
    val cases = Seq[(String, String => Unit)](
      "bucketed" -> seed,
      "flat" -> (root => (0L until 10L).map(i => (i, s"v$i"))
        .toDF("id", "payload").write.mode("overwrite").parquet(root)),
      "array<long>" -> (root => (0L until 20L)
        .map(i => (i, Seq(i, i + 1), (i % 4).toInt)).toDF("doc_id", "bg", "b")
        .write.mode("overwrite").partitionBy("b").parquet(root)))
    val sc = spark.sparkContext
    for (((name, write), i) <- cases.zipWithIndex) {
      val root = s"$base-$i"
      rmRoot(root); write(root)
      sc.setJobGroup(s"atrest-read-$i", name)
      val typed = try AtRest.read(spark, root).schema
        finally sc.clearJobGroup()
      // the plain read's inference job, submitted AFTER the verb's
      // read, is the witness that the listener has caught up
      sc.setJobGroup(s"plain-read-$i", name)
      val plain = try spark.read.parquet(root).schema
        finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (sc.statusTracker.getJobIdsForGroup(s"plain-read-$i").isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(sc.statusTracker.getJobIdsForGroup(s"plain-read-$i").nonEmpty,
        s"$name: the plain read's inference job never showed")
      assert(typed == plain, s"$name: $typed != $plain")
      assert(sc.statusTracker.getJobIdsForGroup(s"atrest-read-$i").isEmpty,
        s"$name: AtRest.read started a Spark job")
    }
  }

  test("read: a table with no data file fails as a plain read does") {
    val root = "target/graft-index/spec-atrest-read-empty"
    rmRoot(root)
    new java.io.File(s"$root/b=0").mkdirs()
    val plain = intercept[Exception](spark.read.parquet(root))
    val verb = intercept[Exception](AtRest.read(spark, root))
    assert(verb.getClass == plain.getClass &&
      verb.getMessage == plain.getMessage)
  }

  test("sweepBuckets: drops exactly the keyed rows from exactly the affected buckets; empty affected is a no-op") {
    import spark.implicits._
    val root = "target/graft-index/spec-atrest-sweep"
    rmRoot(root); seed(root)
    // ids 1 and 5 live in bucket 1; id 2 lives in bucket 2 — sweeping
    // ONLY bucket 1 must not touch id 2 even though it is in the drop
    // frame (the affected list bounds the IO, the caller owns it)
    val drop = Seq(1L, 5L, 2L).toDF("id")
    AtRest.sweepBuckets(spark, root, "b", Seq(1), drop, Seq("id"))
    val r = rows(root)
    assert(!r.exists(t => t._1 == 1L || t._1 == 5L), "swept rows survive")
    assert(r.exists(_._1 == 2L), "a row outside the affected buckets was dropped")
    assert(r.size == 38)
    assert(AtRest.sweepBuckets(spark, root, "b", Nil, drop, Seq("id")).isEmpty,
      "empty affected list must be a pure no-op")
    assert(rows(root).size == 38)
  }

  test("sweepBuckets: sortCols re-asserts the per-file row order through the rewrite (the ir21 trap)") {
    import spark.implicits._
    val root = "target/graft-index/spec-atrest-sort"
    rmRoot(root)
    // two files per bucket, each internally sorted on (k, id)
    def write(lo: Long): Unit =
      (lo until lo + 20L).map(i => (i, (i % 7).toInt, (i % 2).toInt))
        .toDF("id", "k", "b")
        .sortWithinPartitions(col("b"), col("k"), col("id"))
        .write.mode("append").partitionBy("b").parquet(root)
    write(0L); write(100L)
    AtRest.sweepBuckets(spark, root, "b", Seq(0, 1),
      Seq(2L, 104L).toDF("id"), Seq("id"),
      sortCols = Seq(col("k"), col("id")))
    for (b <- Seq(0, 1)) {
      val files = new java.io.File(s"$root/b=$b").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty)
      files.foreach { f =>
        val inFile = spark.read.parquet(f.getPath)
          .select(col("k"), col("id")).collect()
          .map(r => (r.getInt(0), r.getLong(1)))
        assert(inFile.sameElements(inFile.sortBy(identity)),
          s"file ${f.getName} in bucket $b lost the (k, id) sort")
      }
    }
    assert(!rows3(root).exists(t => t._1 == 2L || t._1 == 104L),
      "swept ids survive")
  }

  test("sweepBuckets: an EMPTIED table (every bucket already dropped) no-ops instead of throwing; stale dirs clean up") {
    import spark.implicits._
    val root = "target/graft-index/spec-atrest-emptied"
    rmRoot(root); seed(root)
    // total forget: every row of every bucket sweeps → all dirs drop
    val all = (0L until 40L).toDF("id")
    AtRest.sweepBuckets(spark, root, "b", Seq(0, 1, 2, 3), all, Seq("id"))
    assert(new java.io.File(root).exists(), "table root should remain")
    assert((0 to 3).forall(b => !new java.io.File(s"$root/b=$b").exists()),
      "a total sweep must drop every bucket directory")
    // the r17 ADVICE guard: a RERUN of the forget on the emptied table
    // must no-op (the survivor read has no files to infer a schema
    // from) — and clean a stale empty dir if one exists
    new java.io.File(s"$root/b=2").mkdirs()
    val swept = AtRest.sweepBuckets(spark, root, "b", Seq(1, 2), all,
      Seq("id"))
    assert(swept.isEmpty, "an emptied-table sweep must stage nothing")
    assert(!new java.io.File(s"$root/b=2").exists(),
      "the rerun must delete a stale empty affected dir")
    // overwriteBuckets on the emptied table: staged rows (a re-seed)
    // write with the STAGED frame's own column order as canonical
    val staged = Seq((7L, "reseed", 1)).toDF("id", "payload", "b")
    val present = AtRest.overwriteBuckets(spark, root, "b", Seq(1), staged)
    assert(present == Set(1) && rows(root) == Set((7L, "reseed", 1)),
      "re-seeding an emptied table through overwriteBuckets failed")
  }

  private def fileSig(root: String): Map[String, (Long, Long)] =
    new java.io.File(root).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap

  test("overwriteBuckets: a staged row OUTSIDE affected fails, naming the bucket, before any file changes") {
    import spark.implicits._
    val root = "target/graft-index/spec-atrest-stray"
    rmRoot(root); seed(root)
    val before = fileSig(root)
    val rowsBefore = rows(root)
    // bucket 3 is not affected: writing it would replace its 10
    // standing rows with the one staged row
    val staged = Seq((100L, "new", 1), (103L, "stray", 3))
      .toDF("id", "payload", "b")
    val e = intercept[IllegalArgumentException] {
      AtRest.overwriteBuckets(spark, root, "b", Seq(1, 2), staged)
    }
    assert(e.getMessage.contains("b 3"), s"error does not name bucket 3: ${e.getMessage}")
    assert(fileSig(root) == before && rows(root) == rowsBefore,
      "a rejected stage changed the table")
  }

  test("sweepBuckets: a remove+add sweep replaces exactly the keyed rows, leaves untouched buckets byte-identical, and reruns as a row-level no-op") {
    import spark.implicits._
    val root = "target/graft-index/spec-atrest-delta"
    rmRoot(root); seed(root)
    def untouchedFiles = fileSig(root)
      .filter(f => f._1.contains("/b=0/") || f._1.contains("/b=3/"))
    val untouched = untouchedFiles
    // id 1 (bucket 1) is replaced, id 2 (bucket 2) removed, id 102
    // added to bucket 2; id 5 (bucket 1) is neither keyed nor added
    val drop = Seq(1L, 2L).toDF("id")
    val add = Seq((1L, "v1-new", 1), (102L, "added", 2))
      .toDF("id", "payload", "b")
    def sweep() = AtRest.sweepBuckets(spark, root, "b", Seq(1, 2), drop,
      Seq("id"), add = Some(add))
    assert(sweep() == Set(1, 2))
    val expected = (0L until 40L).filterNot(Set(1L, 2L))
      .map(i => (i, s"v$i", (i % 4).toInt)).toSet +
      ((1L, "v1-new", 1)) + ((102L, "added", 2))
    assert(rows(root) == expected, "the delta replaced the wrong rows")
    assert(untouchedFiles == untouched, "an untouched bucket's files changed")
    sweep()
    assert(rows(root) == expected, "a rerun of the delta changed rows")
  }

  test("sweepBuckets: on an EMPTIED table the added rows land, exactly those") {
    import spark.implicits._
    val root = "target/graft-index/spec-atrest-emptied-add"
    rmRoot(root); seed(root)
    val all = (0L until 40L).toDF("id")
    AtRest.sweepBuckets(spark, root, "b", Seq(0, 1, 2, 3), all, Seq("id"))
    new java.io.File(s"$root/b=2").mkdirs() // a stale empty affected dir
    val present = AtRest.sweepBuckets(spark, root, "b", Seq(1, 2), all,
      Seq("id"), add = Some(Seq((7L, "reseed", 1)).toDF("id", "payload", "b")))
    assert(present == Set(1) && rows(root) == Set((7L, "reseed", 1)),
      s"the emptied-table delta landed ${rows(root)}")
    assert(!new java.io.File(s"$root/b=2").exists(),
      "the stale empty affected dir survived")
  }

  test("guard: every delta of a maintained table stages through AtRest.sweepBuckets") {
    // an overwriteBuckets call whose stage hand-rolls the anti-join, or
    // comes from a per-family survivor/scan helper, is a second copy of
    // the delta verb (and must list the added rows' buckets by hand)
    val helper = raw"""\b\w+(Survivors|Scan)\(""".r
    def argsAt(text: String, open: Int): String = {
      var depth = 0; var i = open; var inStr = false
      val sb = new StringBuilder
      while (i < text.length && !(depth == 0 && i > open)) {
        val c = text(i)
        if (inStr) { if (c == '"' && text(i - 1) != '\\') inStr = false }
        else if (c == '"') inStr = true
        else if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        sb += c; i += 1
      }
      sb.toString
    }
    val call = "AtRest.overwriteBuckets("
    val hits = for {
      f <- scalaFiles(new java.io.File("src/main/scala/graft/operators"))
      text = scala.io.Source.fromFile(f, "UTF-8").mkString
      at <- Iterator.iterate(text.indexOf(call))(i => text.indexOf(call, i + 1))
        .takeWhile(_ >= 0).toSeq
      args = argsAt(text, at + call.length - 1)
      if args.contains("\"left_anti\"") || helper.findFirstIn(args).nonEmpty
    } yield s"${f.getPath}:${text.take(at).count(_ == '\n') + 1}"
    assert(hits.isEmpty,
      s"hand-rolled sweep stages outside AtRest.sweepBuckets:\n${hits.mkString("\n")}")
  }

  test("healDerived: the derivation may READ the very table it replaces (the pin), partitioned and flat") {
    // the plain read and AtRest.read's typed read must both carry the
    // relation readsTable pins on — a typed read it missed would let
    // land overwrite the very files the derivation is reading
    val readers = Seq[(String, String => org.apache.spark.sql.DataFrame)](
      "spark.read.parquet" -> (spark.read.parquet(_)),
      "AtRest.read" -> (AtRest.read(spark, _)))
    for ((name, read) <- readers) {
      val root = "target/graft-index/spec-atrest-heal"
      rmRoot(root); seed(root)
      // a self-reading derivation: the recount reads `root` and
      // overwrites `root` — exactly what an unpinned stage would
      // self-destruct on (read the files mid-replacement)
      AtRest.healDerived(spark, root,
        read(root).filter(col("id") < 20L), Seq("b"))
      assert(rows(root) ==
        (0L until 20L).map(i => (i, s"v$i", (i % 4).toInt)).toSet,
        s"$name: partitioned self-read heal lost or duplicated rows")
      // flat form: derive a one-row summary FROM the table into a
      // sibling, then a self-read rewrite of that sibling
      val flat = s"$root-consts"
      rmRoot(flat)
      AtRest.healDerived(spark, flat,
        read(root).agg(count(lit(1)).as("n")))
      AtRest.healDerived(spark, flat,
        read(flat).select((col("n") + 1).as("n")))
      assert(spark.read.parquet(flat).collect()(0).getLong(0) == 21L,
        s"$name: flat self-read heal diverged")
    }
  }

  // ---- the RE-BUCKET migration verb, pinned on a crafted table ----
  // keys chosen so under 4 → 8 buckets: bucket 0 holds ONLY stayers
  // (k ≡ 0 mod 8), bucket 1 is MIXED, bucket 2 is ALL movers (k ≡ 6
  // mod 8 — its directory must drop), bucket 3 is mixed.
  private val RbKeys = Seq(0L, 8L, 16L, // b0: all stay
    1L, 5L, 9L, 13L, // b1: 1,9 stay; 5,13 move to b5
    6L, 14L, 22L, // b2: all move to b6 — dir drops
    3L, 11L, 7L, 15L) // b3: 3,11 stay; 7,15 move to b7
  private def seedRb(root: String): Unit = {
    import spark.implicits._
    RbKeys.map(k => (k, s"v$k", (k % 4).toInt)).toDF("id", "payload", "b")
      .write.mode("overwrite").partitionBy("b").parquet(root)
  }
  private def rbFiles(root: String, b: Int): Set[(String, Long, Long)] = {
    val d = new java.io.File(s"$root/b=$b")
    if (!d.exists()) Set.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet
  }
  private def dirOf(root: String): Map[Long, Int] =
    spark.read.parquet(root).select(col("id"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("rebucketTable: rows land in their new-modulus dirs, an all-movers dir drops, a no-movers bucket survives byte-identical, rerun is a no-op") {
    val root = "target/graft-index/spec-atrest-rebucket"
    rmRoot(root); seedRb(root)
    val b0Before = rbFiles(root, 0)
    AtRest.rebucketTable(spark, root, "b", 4, 8,
      pmod(col("id"), lit(8)).cast("int"), Seq("id"))
    val d = dirOf(root)
    assert(d.keySet == RbKeys.toSet, "migration lost or duplicated rows")
    assert(d.forall { case (k, b) => b == (k % 8).toInt },
      s"a row sits outside its new-modulus bucket: $d")
    assert(!new java.io.File(s"$root/b=2").exists(),
      "the all-movers bucket kept its directory")
    assert(rbFiles(root, 0) == b0Before,
      "a bucket with no movers was rewritten")
    // idempotence: a second migration touches no file
    val all = (0 to 7).map(b => b -> rbFiles(root, b)).toMap
    AtRest.rebucketTable(spark, root, "b", 4, 8,
      pmod(col("id"), lit(8)).cast("int"), Seq("id"))
    assert((0 to 7).forall(b => rbFiles(root, b) == all(b)),
      "a completed migration's rerun touched files")
  }

  test("rebucketTable: the planted land→resolve crash converges by rerun; old-modulus and union-probe serves stay correct mid-flight") {
    val root = "target/graft-index/spec-atrest-rebucket-crash"
    rmRoot(root); seedRb(root)
    val before = spark.read.parquet(root)
      .select(col("id"), col("payload"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    AtRest.rebucketTable(spark, root, "b", 4, 8,
      pmod(col("id"), lit(8)).cast("int"), Seq("id"), crashAfterLand = true)
    // crash window: movers hold copies in BOTH dirs
    val mid = spark.read.parquet(root).select(col("id")).collect()
      .map(_.getLong(0))
    assert(mid.length > before.size, "fixture regression: nothing landed")
    // the OLD-modulus probe is exactly correct through phase 1: every
    // row's old dir still holds it, and landed copies sit in dirs an
    // old-modulus IN list never includes
    val oldServe = spark.read.parquet(root).filter(col("b") < 4)
      .select(col("id"), col("payload"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(oldServe == before, "old-modulus serve diverged mid-land")
    // a both-moduli union-probe with key dedup is correct in EVERY
    // intermediate state (the resolve-window serving form)
    val union = spark.read.parquet(root)
      .filter(col("b") === pmod(col("id"), lit(8)).cast("int") ||
        col("b") === pmod(col("id"), lit(4)).cast("int"))
      .dropDuplicates("id")
      .select(col("id"), col("payload"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(union == before, "union-probe serve diverged mid-migration")
    // recovery = plain rerun
    AtRest.rebucketTable(spark, root, "b", 4, 8,
      pmod(col("id"), lit(8)).cast("int"), Seq("id"))
    val d = dirOf(root)
    assert(d.keySet == RbKeys.toSet &&
      spark.read.parquet(root).count() == RbKeys.size,
      "crash-rerun left duplicates or lost rows")
    assert(d.forall { case (k, b) => b == (k % 8).toInt },
      "crash-rerun left a row outside its new-modulus bucket")
    assert(!new java.io.File(s"$root/b=2").exists(),
      "crash-rerun kept the all-movers directory")
  }

  test("bucketCountFor: the sizing rule is a power of two, covers the byte target, and is monotone in table size") {
    assert(AtRest.bucketCountFor(1L, 1L << 30) == 1)
    assert(AtRest.bucketCountFor(100L * 1000 * 1000 * 1000 * 1000,
      1L << 30) == 131072) // 100 TB at 1 GiB buckets → 2^17
    for (bytes <- Seq(1L, 1000L, 123456789L, 1L << 40)) {
      val n = AtRest.bucketCountFor(bytes, 1L << 28)
      assert((n & (n - 1)) == 0, s"$n is not a power of two")
      assert(n.toLong * (1L << 28) >= bytes || n == (1 << 30),
        s"$n buckets leave directories over target at $bytes bytes")
      assert(AtRest.bucketCountFor(bytes * 2, 1L << 28) >= n,
        "sizing rule is not monotone")
    }
  }

  test("compactBucketedTable byte-target mode: accreted buckets pack to ≤ their byte plan, rows untouched, rerun a no-op") {
    import spark.implicits._
    val root = "target/graft-index/spec-atrest-bytepack"
    rmRoot(root)
    // accrete 6 small files into each of 2 buckets
    for (gen <- 0 until 6)
      (0L until 20L).map(i => (gen * 100L + i, s"v$gen-$i", (i % 2).toInt))
        .toDF("id", "payload", "b").coalesce(1)
        .write.mode("append").partitionBy("b").parquet(root)
    val before = spark.read.parquet(root)
      .select(col("id"), col("payload"), col("b"))
      .collect().map(_.toSeq).toSet
    def filesOf(b: Int) = new java.io.File(s"$root/b=$b").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert((0 to 1).forall(filesOf(_).length == 6))
    // pick a byte target that plans ~2-3 files per bucket, from the
    // real listed sizes (the same arithmetic the mode runs)
    val perBucket = (0 to 1).map(b => b -> filesOf(b).map(_.length).sum).toMap
    val target = perBucket.values.max / 2
    val plan = perBucket.map { case (b, sz) =>
      b -> math.max(1L, (sz + target - 1) / target).toInt }
    assert(plan.values.forall(n => n >= 2 && n < 6),
      s"fixture regression: degenerate byte plan $plan")
    val affected = AtRest.compactBucketedTable(spark, root, "b",
      targetBytes = target)
    assert(affected == Seq(0, 1))
    (0 to 1).foreach { b =>
      val n = filesOf(b).length
      assert(n <= plan(b) && n >= 1,
        s"bucket $b packed to $n files, plan was ${plan(b)}")
    }
    assert(spark.read.parquet(root)
      .select(col("id"), col("payload"), col("b"))
      .collect().map(_.toSeq).toSet == before, "byte pack changed rows")
    assert(AtRest.compactBucketedTable(spark, root, "b",
      targetBytes = target).isEmpty,
      "a packed bucket re-listed as accreted")
  }

  private def rows3(root: String): Set[(Long, Int, Int)] =
    spark.read.parquet(root).select(col("id"), col("k"), col("b"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

  test("inParallel: every chain settles before the join rethrows the first failure, later ones suppressed") {
    val firstThrown = new java.util.concurrent.CountDownLatch(1)
    @volatile var laterSettled = false
    val e = intercept[IllegalStateException] {
      AtRest.inParallel(
        () => {
          // later in the argument list, earlier to settle
          Thread.sleep(200)
          laterSettled = true
          throw new IllegalArgumentException("later")
        },
        () => {
          try throw new IllegalStateException("first")
          finally firstThrown.countDown()
        })
    }
    assert(firstThrown.getCount === 0)
    assert(laterSettled, "the join rethrew before every chain settled")
    assert(e.getMessage === "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("later"))
  }

  test("inParallel: an interrupted join still awaits every chain, then rethrows with the flag restored") {
    val started = new java.util.concurrent.CountDownLatch(2)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var settledChains = 0
    @volatile var outcome: (Throwable, Int, Boolean) = null
    val joiner = new Thread(() => {
      val chain = () => {
        started.countDown()
        release.await()
        synchronized { settledChains += 1 }
      }
      val thrown =
        try { AtRest.inParallel(chain, chain); null }
        catch { case t: Throwable => t }
      outcome = (thrown, settledChains, Thread.currentThread().isInterrupted)
    })
    joiner.start()
    started.await()
    joiner.interrupt()
    Thread.sleep(100)
    assert(outcome == null, "the join returned while both chains were still running")
    release.countDown()
    joiner.join(30000)
    val (thrown, settled, flag) = outcome
    assert(thrown.isInstanceOf[InterruptedException])
    assert(settled === 2)
    assert(flag, "the interrupt flag must be restored")
  }
}
