package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import java.util.concurrent.{CancellationException, ExecutionException,
  ExecutorCompletionService, Executors}

/** Shared maintenance for the bucket-partitioned at-rest index
  * layouts, and their ONE reader and ONE writer. Every scan of an
  * at-rest table in `graft.operators` goes through [[AtRest.read]],
  * which types the scan from one data file's footer on the driver, so
  * no read starts a schema-inference job (AtRestSpec's guard fails on
  * any other parquet read there). Every bucketed parquet write in the
  * program — a family's build, append, forget, heal, compaction and
  * re-bucketing — lands through [[AtRest.land]] (AtRestSpec's guard
  * fails on a partitioned writer anywhere else in `src/main`; the
  * byte-target compaction stage is the one in-file exception).
  * `land` owns, once, the rules each call site used to re-argue:
  *   1. CANONICAL COLUMN ORDER: an append or dynamic overwrite into a
  *      table that already has files projects the column order
  *      [[AtRest.read]] returns, so a directory never mixes two field
  *      orders (the d23 trap); a whole-table overwrite keeps the
  *      frame's order;
  *   2. CLUSTER BY BUCKET: one `repartition(bucket)` exchange, so each
  *      bucket lands as ONE file instead of tasks × buckets files;
  *   3. PIN ONLY WHEN NEEDED: the frame is `localCheckpoint`ed exactly
  *      when its analyzed plan reads the target table (or a path under
  *      or above it — the self-read / refreshByPath trap), derived
  *      from the plan;
  *   4. PER-FILE ORDER: `sortWithinPartitions(bucket +: sortCols)`, the
  *      bucket leading so the writer's own required ordering cannot
  *      destroy a family's promised file order (the ir21 lesson).
  *
  * Every DELTA of a maintained table — a forget's removal, an
  * update's or takedown's replace, an enforcement's suppression —
  * stages through ONE verb, [[AtRest.sweepBuckets]]: remove the keyed
  * rows from the affected buckets, add the fresh ones, drop emptied
  * bucket directories. Its tail, [[AtRest.overwriteBuckets]], rejects
  * a stage holding a bucket outside the affected list before writing,
  * and is called directly only by stages that RECOUNT a bucket from
  * another table or migrate rows (AtRestSpec's sweep guard fails on a
  * direct call that hand-rolls the anti-join).
  *
  * Every maintained family (postings, positional, shingle, bands,
  * winnow, SAX, z-order, vector cells) appends ≥1 new data
  * file per touched bucket per batch, so a daily-ingest deployment
  * accretes small files until reads pay per-file open cost — the
  * bin-pack here is ir19's compaction (RetrievalOps) extracted so the
  * identical pass applies to EVERY family instead of being
  * re-implemented per layout (SCALE.md's admitted gap, closed):
  * AFFECTED buckets (more data files than `targetFiles`) are read
  * with a STATIC partition predicate (only their directories are
  * listed), repartitioned so each bucket lands as ONE file, staged
  * beside the table, and written back with DYNAMIC partition
  * overwrite — untouched buckets' files are never rewritten
  * (CompactionSpec pins their file sets byte-identical per family).
  *
  * Restart-safe without a log (the crash points are spec-exercised,
  * not just argued): a crash BEFORE the staging write changes
  * nothing; a crash BETWEEN staging and the overwrite reruns from the
  * top (staging rebuilds from the intact table); a crash MID-
  * overwrite leaves some buckets compacted (1 file — the rerun's
  * listing skips them) and some not (still >targetFiles — the rerun
  * re-stages exactly those), and every replaced partition holds the
  * same rows it held before, so a serve at ANY intermediate state
  * answers exactly what it answered before compaction began.
  */
object AtRest {

  /** The filesystem of `path` — resolved from the path, NOT the
    * default FS (they differ when the index lives on an object
    * store). */
  private[graft] def fsOf(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Run INDEPENDENT maintenance chains concurrently (guide §2.6:
    * Spark's scheduler happily overlaps jobs submitted from several
    * threads — actions are only sequential because driver code calls
    * them sequentially). The at-rest verbs are chains of small
    * fixed-cost jobs over disjoint tables (postings metadata vs
    * doclen/consts; the clusters vs members projections; docsets vs
    * bands), so overlapping the independent chains cuts a verb's wall
    * by roughly the shorter chain, and the tail of one chain's stages
    * back-fills cores the other frees. Callers guarantee the chains
    * touch DISJOINT outputs and that any frame a chain reads from a
    * table the other replaces is pinned (localCheckpoint) before this
    * call — the same self-read discipline the serial forms already
    * follow. The join awaits EVERY chain, then rethrows the first
    * failure to settle with each later one attached via
    * `addSuppressed` (no torn half-verb beyond what the serial form's
    * crash contract already covers — each family's heal recounts from
    * the base of record either way). An interrupt of the joining
    * thread counts as a failure: the join keeps awaiting the chains,
    * then restores the thread's interrupt flag before rethrowing. */
  private[graft] def inParallel(work: (() => Unit)*): Unit = {
    if (work.sizeIs <= 1) { work.foreach(_.apply()); return }
    val pool = Executors.newFixedThreadPool(work.size)
    try {
      // completion order, so "first" means first to settle
      val settled = new ExecutorCompletionService[Unit](pool)
      work.foreach(w => settled.submit(() => w()))
      var failures = Vector.empty[Throwable]
      var interrupted = false
      var pending = work.size
      while (pending > 0) {
        try {
          val f = settled.take()
          pending -= 1
          try f.get() catch {
            case e: ExecutionException => failures :+= e.getCause
            case e: CancellationException => failures :+= e
          }
        } catch {
          case e: InterruptedException =>
            if (!interrupted) failures :+= e
            interrupted = true
        }
      }
      if (interrupted) Thread.currentThread().interrupt()
      failures.headOption.foreach { first =>
        failures.tail.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      }
    } finally { pool.shutdown(); () }
  }

  /** Doc-bucket count of the per-doc stats tables (the postings
    * index's `doclen`, the shingle index's `docstats`). Like the term
    * and shingle bucket counts, 16 is harness sizing — the targeting
    * is correct at any count. */
  val DocBuckets = 16

  /** THE doc-bucket rule of every per-doc stats table: a pure function
    * of doc_id, so a forget request's target partitions come from the
    * request's own ids (the c6 shard rule applied to index metadata),
    * and an append lands each doc where a later forget looks for it. */
  private[graft] def docBucketCol: Column =
    pmod(col("doc_id"), lit(DocBuckets.toLong)).cast("int")

  /** The doc buckets a request's `doc_id`s fall in — a per-doc stats
    * forget's target list, O(DocBuckets) driver metadata. */
  private[graft] def docBucketsOf(ids: DataFrame): Seq[Int] =
    ids.select(docBucketCol).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

  /** Data files per bucket partition of a partitioned table —
    * driver-side FS listing, O(#files) layout metadata (the same
    * bookkeeping a table format's manifest gives for free). A missing
    * table directory (never built, or every bucket dropped by earlier
    * forgets) is the empty layout, not an error. */
  private[graft] def bucketFiles(s: SparkSession, table: String,
      partitionCol: String): Map[Int, Seq[FileStatus]] = {
    val fs = fsOf(s, table)
    if (!fs.exists(new Path(table))) return Map.empty
    fs.listStatus(new Path(table)).iterator
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$partitionCol="))
      .map(d => d.getPath.getName.stripPrefix(s"$partitionCol=").toInt ->
        fs.listStatus(d.getPath).toSeq
          .filter(_.getPath.getName.endsWith(".parquet")))
      .toMap
  }

  /** The first data file of `table` — at its root, or in a `<col>=<n>`
    * bucket directory, whose column comes with it — skipping the
    * `_`/`.` names Spark's own listing skips; None for a missing or
    * file-less table. One driver-side walk, stopped at the first file. */
  private[graft] def firstDataFile(s: SparkSession,
      table: String): Option[(FileStatus, Option[String])] = {
    val fs = fsOf(s, table)
    def listed(p: Path) = fs.listStatus(p).iterator
      .filterNot(st => "_.".contains(st.getPath.getName.head))
    if (!fs.exists(new Path(table))) None
    else listed(new Path(table)).flatMap { st =>
      val name = st.getPath.getName
      if (st.isFile) Iterator(st -> Option.empty[String])
      else if (name.contains("=")) listed(st.getPath).filter(_.isFile)
        .map(_ -> Some(name.takeWhile(_ != '=')))
      else Iterator.empty
    }.nextOption()
  }

  /** The schema a read of `table` returns — the Spark row schema in one
    * data file's footer, then the bucket column as `int`, the type
    * partition inference gives it — read on the driver, so no Spark job
    * runs; None while the table holds no data file. */
  private def schemaOf(s: SparkSession, table: String): Option[StructType] =
    firstDataFile(s, table).map { case (st, bucketCol) =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st,
        s.sparkContext.hadoopConfiguration))
      val data = try DataType.fromJson(r.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY)).asInstanceOf[StructType]
        finally r.close()
      bucketCol.fold(data)(data.add(_, IntegerType))
    }

  /** THE at-rest reader: a scan of `table` typed from [[schemaOf]], so
    * it starts no Spark job of its own and still carries a
    * `HadoopFsRelation` ([[readsTable]] sees it). A table with no data
    * file fails exactly as a plain read does. */
  private[graft] def read(s: SparkSession, table: String): DataFrame =
    schemaOf(s, table).fold(s.read.parquet(table))(
      s.read.schema(_).parquet(table))

  /** Whether `df`'s analyzed plan (subqueries included) scans `table`,
    * a path under it, or a directory holding it — the frames a write
    * to `table` would destroy the inputs of mid-flight. */
  private[graft] def readsTable(s: SparkSession, df: DataFrame,
      table: String): Boolean = {
    val t = fsOf(s, table).makeQualified(new Path(table)).toString
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.exists {
      case h: HadoopFsRelation => h.location.rootPaths.exists { r =>
        val p = r.toString
        p == t || p.startsWith(s"$t/") || t.startsWith(s"$p/")
      }
      case _ => false
    }
  }

  /** THE bucketed at-rest writer (see the object doc for the four
    * rules it owns; rule 1's order is the schema [[read]] takes from
    * the table's footer). `mode` is `append`, `overwrite` (the whole table)
    * or `dynamic` (dynamic partition overwrite: only the buckets
    * present in `df` are replaced). */
  private[graft] def land(s: SparkSession, table: String, bucketCol: String,
      df: DataFrame, mode: String, sortCols: Seq[Column] = Nil): Unit = {
    require(Set("append", "overwrite", "dynamic")(mode),
      s"land mode must be append, overwrite or dynamic: $mode")
    val ordered =
      if (mode == "overwrite") df
      else schemaOf(s, table)
        .fold(df)(t => df.select(t.fieldNames.toSeq.map(col): _*))
    val clustered = ordered.repartition(col(bucketCol))
    val stable =
      if (readsTable(s, df, table)) clustered.localCheckpoint() else clustered
    val w = stable.sortWithinPartitions(col(bucketCol) +: sortCols: _*)
      .write.mode(if (mode == "append") "append" else "overwrite")
    (if (mode == "dynamic") w.option("partitionOverwriteMode", "dynamic")
     else w).partitionBy(bucketCol).parquet(table)
  }

  /** The buckets whose directories have accreted past `targetFiles`
    * data files — the rerun-safe work list (a bucket already
    * compacted to ≤ targetFiles files never re-lists as affected). */
  private[graft] def accretedBuckets(s: SparkSession, table: String,
      partitionCol: String, targetFiles: Int): Seq[Int] =
    bucketFiles(s, table, partitionCol)
      .filter(_._2.size > targetFiles).keys.toSeq.sorted

  /** Stage the affected buckets, bin-packed to one file each, beside
    * the table (`<table>_staging`). Pure layout: the staged rows ARE
    * the buckets' rows. Families that promise a PER-FILE row order
    * (the positional lists' (tok, doc_id, pos)) pass it as
    * `sortCols` — the partition column leads the sort so
    * FileFormatWriter's own required ordering is already satisfied
    * and cannot destroy the promised order (the ir21 lesson). */
  private[graft] def stageCompaction(s: SparkSession, table: String,
      partitionCol: String, buckets: Seq[Int],
      sortCols: Seq[Column] = Nil): Unit =
    land(s, s"${table}_staging", partitionCol,
      read(s, table).filter(col(partitionCol).isin(buckets: _*)),
      "overwrite", sortCols)

  /** Replace exactly the staged buckets via dynamic partition
    * overwrite; the staging dir is dropped after a completed apply
    * (a crash before the drop leaves it — the next compaction's
    * staging write overwrites it wholesale). */
  private[graft] def applyCompaction(s: SparkSession, table: String,
      partitionCol: String, sortCols: Seq[Column] = Nil): Unit = {
    land(s, table, partitionCol, read(s, s"${table}_staging"),
      "dynamic", sortCols)
    fsOf(s, table).delete(new Path(s"${table}_staging"), true)
    ()
  }

  /** Bin-pack a bucket-partitioned table back to ≤ `targetFiles` data
    * files per bucket directory. Row content is untouched — serves
    * before, during and after compaction answer identically; only
    * accreted buckets are listed, read, staged or rewritten. Returns
    * the compacted bucket ids (Nil = nothing to do, and the call did
    * no IO beyond the directory listing).
    *
    * `targetBytes > 0` switches to BYTE-TARGET mode (the 100 TB
    * form): instead of one file per bucket — absurd when a bucket
    * directory is gigabytes — each accreted bucket bin-packs to
    * `ceil(bucketBytes / targetBytes)` files (sizes from the same
    * [[FileStatus]] listing), a bucket is accreted only when it
    * holds MORE files than that plan, and the stage spreads each
    * bucket's rows over its planned file count with a round-robin
    * salt — so rewrite parallelism tracks data volume, not the
    * bucket-count constant. The per-bucket plan is an exact UPPER
    * bound on the resulting file count (each (bucket, salt) pair
    * lands in exactly one shuffle partition), and the mode is
    * idempotent like the file-count mode: a compacted bucket never
    * re-lists as accreted. */
  def compactBucketedTable(s: SparkSession, table: String,
      partitionCol: String, targetFiles: Int = 1,
      sortCols: Seq[Column] = Nil, targetBytes: Long = 0L): Seq[Int] = {
    if (targetBytes > 0L) {
      val files = bucketFiles(s, table, partitionCol)
        .filter(_._2.nonEmpty)
      val plan = files.map { case (b, fl) =>
        b -> math.max(1L, (fl.map(_.getLen).sum + targetBytes - 1)
          / targetBytes).toInt
      }
      val affected = plan
        .filter { case (b, n) => files(b).size > n }.keys.toSeq.sorted
      if (affected.nonEmpty) {
        val aPlan = affected.map(b => b -> plan(b)).toMap
        val nOf = element_at(
          map(aPlan.toSeq.sortBy(_._1)
            .flatMap { case (b, n) => Seq(lit(b), lit(n)) }: _*),
          col(partitionCol))
        // the byte-target stage spreads a bucket over several files ON
        // PURPOSE, so it and its apply write directly, not through land
        // (whose one-exchange cluster would fold each bucket to 1 file)
        def spreadWrite(df: DataFrame, out: String, overwrite: String) =
          df.write.mode("overwrite")
            .option("partitionOverwriteMode", overwrite)
            .partitionBy(partitionCol).parquet(out)
        spreadWrite(read(s, table)
          .filter(col(partitionCol).isin(affected: _*))
          .withColumn("__salt", pmod(monotonically_increasing_id(), nOf))
          .repartition(math.max(1, aPlan.values.sum),
            col(partitionCol), col("__salt"))
          .drop("__salt")
          .transform(d => if (sortCols.isEmpty) d
            else d.sortWithinPartitions(col(partitionCol) +: sortCols: _*)),
          s"${table}_staging", "static")
        spreadWrite(read(s, s"${table}_staging"), table, "dynamic")
        fsOf(s, table).delete(new Path(s"${table}_staging"), true)
      }
      return affected
    }
    val affected = accretedBuckets(s, table, partitionCol, targetFiles)
    if (affected.nonEmpty) {
      stageCompaction(s, table, partitionCol, affected, sortCols)
      applyCompaction(s, table, partitionCol, sortCols)
    }
    affected
  }

  // ---------------------------------------------------------------
  // The shared maintenance OVERWRITE verb. Every maintained family's
  // update/forget ends the same way: stage the affected buckets'
  // replacement rows, dynamic-overwrite them, and explicitly drop the
  // affected buckets that staged ZERO rows (dynamic overwrite only
  // touches partitions PRESENT in the data — the x17/d27/c6
  // empty-partition trap). Hand-rolled per family, this four-step
  // tail re-risks four traps the repo has each caught at least once:
  //   - the EMPTY-PARTITION drop: a bucket whose rows all vanish
  //     keeps its stale directory unless deleted explicitly;
  //   - the COLUMN-ORDER mismatch: a staged frame whose column order
  //     differs from the written files' corrupts the mixed read (the
  //     d23 lesson);
  //   - the UNPINNED-STAGE self-read: the staged plan reads the very
  //     files the overwrite replaces, so it must materialize before
  //     the write begins (the refreshByPath trap);
  //   - the STRAY BUCKET: a staged row outside `affected` would
  //     replace its bucket wholesale with the stage's rows, silently
  //     wiping that bucket's standing rows (the dq9 coinciding-
  //     bucket trap) — rejected before anything is written.
  // overwriteBuckets owns the drop and the stray check; land owns the
  // column order and the self-read pin — the stage is pinned here
  // regardless, because the present set (drop set and stray check)
  // must be read off it before the write.
  // ---------------------------------------------------------------

  /** Replace exactly the `affected` buckets of a bucket-partitioned
    * `table` with `staged`'s rows (any column order; any subset of
    * `affected` may actually stage rows: an affected bucket with no
    * staged rows has its directory dropped). A staged row in a bucket
    * OUTSIDE `affected` fails the call, naming the bucket, before
    * anything is written. Returns the bucket ids that received rows.
    * Families that promise a PER-FILE row order pass it as `sortCols`
    * ([[land]]'s rule 4). A maintained table's delta (remove keyed
    * rows, add fresh ones) goes through [[sweepBuckets]]; this form
    * is for stages that RECOUNT a bucket from another table (a
    * dictionary, a stats table, a bottom-k) or migrate rows.
    *
    * EMPTIED-TABLE guard: when every partition directory of `table`
    * has already been dropped (a rerun after a total forget), the
    * table has no files to read a canonical column order from — the
    * staged frame's own order becomes canonical (there are no
    * existing files to mix with), and the affected-dir cleanup still
    * runs, so the rerun no-ops instead of throwing schema-inference
    * errors. */
  private[graft] def overwriteBuckets(s: SparkSession, table: String,
      partitionCol: String, affected: Seq[Int], staged: DataFrame,
      sortCols: Seq[Column] = Nil): Set[Int] = {
    // pinned BEFORE land clusters it: land's exchange then reads the
    // pin, so the stage still crosses exactly one shuffle
    val pinned = staged.localCheckpoint()
    val present = pinned.select(col(partitionCol)).distinct()
      .collect().map(_.getInt(0)).toSet
    val stray = (present -- affected).toSeq.sorted
    require(stray.isEmpty, s"overwriteBuckets on $table staged rows in " +
      s"$partitionCol ${stray.mkString(", ")} outside the affected " +
      "buckets; their standing rows would be replaced wholesale")
    if (present.nonEmpty)
      land(s, table, partitionCol, pinned, "dynamic", sortCols)
    val fs = fsOf(s, table)
    (affected.toSet -- present).foreach { b =>
      fs.delete(new Path(s"$table/$partitionCol=$b"), true)
      ()
    }
    present
  }

  /** The sweep's survivor frame: the `affected` buckets' rows minus
    * every row whose `keys` match a row of `drop` — exposed separately
    * so PlanContractSpec can pin, per family, the STATIC `IN`
    * partition predicate on the table scan (only the affected
    * buckets' directories are listed or read) and the broadcast
    * anti-join. */
  private[graft] def sweepSurvivors(s: SparkSession, table: String,
      partitionCol: String, affected: Seq[Int], drop: DataFrame,
      keys: Seq[String]): DataFrame =
    read(s, table)
      .filter(col(partitionCol).isin(affected: _*))
      .join(broadcast(drop), keys, "left_anti")

  /** The bucket-count SIZING RULE (SCALE.md's scaling law, one
    * definition): the smallest power-of-two bucket count that keeps
    * every bucket directory at or under `targetBucketBytes` for a
    * table of `tableBytes`. Power-of-two counts make every growth
    * step an integer-factor split [[rebucketTable]] can execute
    * (hash mod 2N refines hash mod N), and the fixture constants
    * (16/64) are this rule evaluated at harness scale — production
    * re-evaluates it as the table grows and migrates with the
    * re-bucket verb when the answer changes. */
  def bucketCountFor(tableBytes: Long, targetBucketBytes: Long): Int = {
    require(targetBucketBytes > 0, "targetBucketBytes must be positive")
    val need = math.max(1L,
      (tableBytes + targetBucketBytes - 1) / targetBucketBytes)
    var n = 1
    while (n < need && n < (1 << 30)) n <<= 1
    n
  }

  /** The RE-BUCKET migration verb (r17 verdict #1): grow a
    * bucket-partitioned table from `oldN` to `newN` buckets, `newN`
    * an integer multiple of `oldN`, with `newBucket` the family's own
    * bucket expression evaluated at the NEW modulus. The arithmetic
    * that makes this a safe in-place migration: for h the family's
    * row hash, (h mod newN) mod oldN == h mod oldN — so every STAYER
    * (new bucket == current dir) is already in its correct directory
    * under the new modulus, and every MOVER's target bucket is
    * >= oldN, a FRESH directory that never collides with a standing
    * one. The migration is dq9's land-then-resolve shape with one
    * simplification that removes the intent manifest entirely: a
    * row's correct location is a PURE FUNCTION of the row (the value
    * does not change, unlike dq9's generalization), so every
    * intermediate state is self-describing and a rerun recomputes
    * exactly the remaining work:
    *   1. LAND: movers (rows in dirs < oldN whose `newBucket` differs
    *      from their dir) append to their new buckets behind a `keys`
    *      anti-join exactly-once guard against rows already landed in
    *      dirs >= oldN;
    *   2. RESOLVE: the mover-holding old buckets (pinned driver-side
    *      before the land) overwrite with their stayers through
    *      [[overwriteBuckets]] — an all-movers bucket's directory
    *      drops.
    * Crash convergence (spec-planted): a crash mid-land reruns behind
    * the guard; a crash between land and resolve leaves movers in
    * BOTH dirs — a rerun's mover set still sees the old copies (their
    * dir ≠ their new bucket) and the guard drops the landed ones; a
    * crash mid-resolve leaves some buckets resolved (no movers — the
    * rerun skips them) and some not. Serve stability: during phase 1
    * the OLD-modulus probe is exactly correct (every row still has
    * its old-dir copy, and landed copies sit in dirs an old-modulus
    * probe never lists); after resolve the NEW-modulus probe is; a
    * deployment serving DURING the resolve window probes BOTH moduli
    * and dedups on `keys` — correct in every intermediate state
    * (AtRestSpec pins it at the planted crash point). A completed
    * migration is idempotent: a rerun finds no movers and touches no
    * file. */
  private[graft] def rebucketTable(s: SparkSession, table: String,
      partitionCol: String, oldN: Int, newN: Int, newBucket: Column,
      keys: Seq[String], sortCols: Seq[Column] = Nil,
      crashAfterLand: Boolean = false): Unit = {
    require(newN > oldN && newN % oldN == 0,
      s"re-bucket grows by an integer factor: $oldN -> $newN")
    if (firstDataFile(s, table).isEmpty) return // emptied: nothing to move
    val rows = read(s, table)
    val movers = rows.filter(col(partitionCol) < oldN)
      .withColumn("__nb", newBucket)
      .filter(col("__nb") =!= col(partitionCol))
    // the resolve work list, pinned BEFORE the land (O(oldN) driver
    // metadata) — after the land the mover old-copies still hold it,
    // so a rerun recomputes the same list
    val affected = movers.select(col(partitionCol)).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (affected.isEmpty) return // migrated already (or nothing moves)
    // 1. LAND, exactly-once: a landed copy already sits in a >= oldN
    // dir under the same keys (land pins the self-reading plan and
    // restores the canonical column order)
    land(s, table, partitionCol,
      movers
        .join(rows.filter(col(partitionCol) >= oldN)
            .select(keys.map(col(_)): _*),
          keys, "left_anti")
        .withColumn(partitionCol, col("__nb"))
        .drop("__nb"),
      "append", sortCols)
    if (crashAfterLand) return // spec-planted crash point: (1)→(2)
    // 2. RESOLVE: the affected old buckets keep exactly their stayers
    overwriteBuckets(s, table, partitionCol, affected,
      read(s, table)
        .filter(col(partitionCol).isin(affected: _*))
        .filter(newBucket === col(partitionCol)),
      sortCols)
    ()
  }

  /** The HEAL-BY-RECOUNT verb: overwrite one derived artifact at
    * `out` with `derived`, its wholesale recomputation from the
    * family's base of record — the recovery tail every maintained
    * family's heal used to hand-roll (healSaxIndex, healWinnowIndex,
    * refreshOccupancy, healPostingsMetadata — the r17 verdict's
    * copy-pasted-tail finding, extracted like the overwrite verb
    * was). The contract: derived tables are PURE functions of the
    * at-rest base, so a crash that left them stale (never wrong)
    * heals by recomputing — no log, no replay. A bucketed artifact
    * (one entry in `partitionCols`) lands through [[land]], which pins
    * exactly when the derivation reads the very table it replaces; the
    * flat form pins unconditionally (heals are recovery paths, off the
    * hot path). Chained heals (base → A → B where B derives from A)
    * call this once per artifact IN DEPENDENCY ORDER — each write
    * completes before the next derivation reads it. */
  private[graft] def healDerived(s: SparkSession, out: String,
      derived: DataFrame, partitionCols: Seq[String] = Nil): Unit =
    partitionCols match {
      case Seq() =>
        derived.localCheckpoint().write.mode("overwrite").parquet(out)
      case Seq(bucketCol) => land(s, out, bucketCol, derived, "overwrite")
    }

  /** THE DELTA VERB of every maintained at-rest table: in exactly the
    * `affected` buckets, remove every row whose `keys` match a row of
    * `drop` (broadcast — request-sized) and land the `add` rows; every
    * other row of those buckets stays byte-equal, and untouched
    * buckets are never listed or read. Forgets pass no `add`; updates
    * and takedowns pass the fresh rows, which must fall in `affected`
    * ([[overwriteBuckets]] rejects a stray bucket before writing).
    * An affected bucket left with no rows has its directory deleted.
    * The stage is (survivors ∪ add), the survivors scanned through
    * [[read]]: when `drop` keys every added row, a rerun with the same
    * `drop` and `add` removes the landed rows and lands them again — a
    * row-level no-op. */
  private[graft] def sweepBuckets(s: SparkSession, table: String,
      partitionCol: String, affected: Seq[Int], drop: DataFrame,
      keys: Seq[String], add: Option[DataFrame] = None,
      sortCols: Seq[Column] = Nil): Set[Int] = {
    if (affected.isEmpty) return Set.empty
    val stage =
      if (firstDataFile(s, table).nonEmpty) {
        val survivors =
          sweepSurvivors(s, table, partitionCol, affected, drop, keys)
        Some(add.fold(survivors)(survivors.unionByName(_)))
      } else add
    // EMPTIED table (every bucket already dropped — e.g. a forget rerun
    // after a total forget): no data file for the survivor read to take
    // a schema from, so only the added rows stage; with none, the stale
    // empty affected dirs are still deleted so the layout converges
    stage.fold {
      val fs = fsOf(s, table)
      affected.foreach { b =>
        fs.delete(new Path(s"$table/$partitionCol=$b"), true)
        ()
      }
      Set.empty[Int]
    }(overwriteBuckets(s, table, partitionCol, affected, _, sortCols))
  }
}
