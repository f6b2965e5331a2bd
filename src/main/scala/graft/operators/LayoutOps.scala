package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multi-dimensional data LAYOUT — the write-side technique SCALE.md's
  * read-side queries assume: sorting a 100 TB fact table on one key
  * gives min/max file pruning on that key and NOTHING on the second
  * query dimension (ScaleSpec's compaction test shows the one-key
  * form). Z-ORDER clustering (Morton-curve interleaving, the published
  * OPTIMIZE ZORDER technique in Delta/Iceberg/Hudi) maps each row to
  * the bit-interleaving of its two clustering keys, so rows close in
  * EITHER dimension land close in z — and every z-aligned cell is an
  * axis-aligned rectangle with a HARD span bound in BOTH dimensions.
  *
  * No counterpart in the reference (its sinks append row-at-a-time —
  * `/root/reference/src/main/java/com/thaihoc/sink/InvoiceSaveSink.java`);
  * this is the at-rest discipline a Spark lakehouse adds around the
  * same data.
  */
object LayoutOps {

  /** Bits per interleaved dimension (16 → a 32-bit z value). */
  val ZBits = 16

  /** Cell width exponent: a z cell freezes the top `ZBits - CellBits`
    * bits of BOTH dimensions, so every cell spans at most 2^CellBits
    * distinct values of each key — the guarantee LayoutSpec pins. */
  val CellBits = 5

  /** Per-dimension mask (low [[ZBits]] bits) — shared with sx5's
    * SQL-text restatement so a ZBits retune cannot desynchronize the
    * two paths. */
  private[operators] val DimMask = (1L << ZBits) - 1

  /** Spread the low [[ZBits]] bits of `c` to even bit positions — the
    * classic 4-step shift-mask bit dilation (Morton encoding; public
    * bit-twiddling identity). Pure codegen'd column arithmetic: no
    * UDF, no HOF lambda, constant work per row. */
  private[graft] def spread16(c: Column): Column = {
    val a = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FFL))
    val b = (a.bitwiseOR(shiftleft(a, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val d = (b.bitwiseOR(shiftleft(b, 2))).bitwiseAND(lit(0x33333333L))
    (d.bitwiseOR(shiftleft(d, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** The 32-bit Morton code of `(x, y)` (each masked to [[ZBits]]
    * bits): x's bits at even positions, y's at odd. */
  private[graft] def zValue(x: Column, y: Column): Column =
    spread16(x.bitwiseAND(lit(DimMask)))
      .bitwiseOR(shiftleft(spread16(y.bitwiseAND(lit(DimMask))), 1))

  /** LY1 — Z-order layout audit of events on (user_id, day): each row
    * maps to its Morton code and its z CELL (`z >> 2·CellBits` — the
    * aligned grid rectangle a clustered writer would emit as one file
    * or one file group); per cell: population and the min/max column
    * stats a file-skipping reader prunes on. The audit's claim is the
    * Morton guarantee itself: every cell's span is ≤ 2^CellBits in
    * BOTH dimensions (a user-major sort bounds only user_span and
    * leaves day_span at the full calendar — LayoutSpec measures the
    * contrast), so point/range filters on EITHER key skip cells.
    *
    * 100 TB plan: the z value is four shift-mask steps per row inside
    * the scan (codegen'd, no lambda), and the audit is ONE exchange —
    * the cell aggregate with map-side partials, bounded by occupied
    * cells, never rows. The layout job itself is
    * `repartitionByRange(z).sortWithinPartitions(z)` + write (equal
    * SIZE files from contiguous z runs — the production shape; the
    * fixed grid here is its deterministic, sort-free audit twin), and
    * re-clustering composes with x17's partition-rewriting compaction:
    * only cells whose stats regressed rewrite. */
  def zorderLayout(s: SparkSession, dir: String): DataFrame =
    cellSpans(cellAgg(zCoords(Tables.events(s, dir))))
      .transform(Common.presented(_, col("cell")))

  /** The (u, day, cell) projection of an events frame — the ONE
    * clustering-coordinate definition the audit, the at-rest writer
    * (ScaleSpec / ly2) and the streaming state share. `keep` carries
    * extra row-identity columns through (ly2 keeps event_id for the
    * row-level read-back surface); the coordinate trees stay single. */
  def zCoords(ev: DataFrame, keep: Column*): DataFrame =
    ev.select(keep ++ Seq(
        col("user_id").bitwiseAND(lit(DimMask)).as("u"),
        TimeSeriesOps.dayOf(ev).bitwiseAND(lit(DimMask)).as("day")): _*)
      .withColumn("cell",
        shiftright(zValue(col("u"), col("day")), 2 * CellBits))

  /** Per-cell population + column stats — count/min/max are all
    * associative, so this same aggregate IS a streaming aggregation's
    * standing state (LayoutSpec pins streamed == batch). */
  def cellAgg(coords: DataFrame): DataFrame =
    coords.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("u")).as("u_min"), max(col("u")).as("u_max"),
        min(col("day")).as("day_min"), max(col("day")).as("day_max"))

  /** The span projection over a cell-stats frame. */
  def cellSpans(stats: DataFrame): DataFrame =
    stats.select(col("cell"), col("n_rows"),
      col("u_min"), col("u_max"), col("day_min"), col("day_max"),
      (col("u_max") - col("u_min") + 1).as("u_span"),
      (col("day_max") - col("day_min") + 1).as("day_span"))

  /** Driver-side Morton code of a CELL-grid coordinate pair — equal to
    * the `cell` id [[zCoords]] assigns every row inside that cell
    * (LayoutSpec pins the equality). */
  private def mortonCell(xc: Long, yc: Long): Long =
    (0 until (ZBits - CellBits)).foldLeft(0L) { (z, i) =>
      z | (((xc >> i) & 1L) << (2 * i)) | (((yc >> i) & 1L) << (2 * i + 1))
    }

  /** Enumerate the z cells intersecting the query rectangle
    * `[u0,u1] × [d0,d1]` — the driver-side PLANNING step of a z-order
    * range query: O(rectangle area in cells), independent of table
    * size. Against a cell-partitioned at-rest layout the resulting
    * `cell IN (...)` predicate prunes at the directory level on
    * EITHER dimension (ScaleSpec reads back exactly this way); the
    * exact `u/day BETWEEN` residual then filters inside the touched
    * cells only. */
  def cellsForRange(u0: Long, u1: Long, d0: Long, d1: Long): Seq[Long] =
    for {
      uc <- (u0 >> CellBits) to (u1 >> CellBits)
      dc <- (d0 >> CellBits) to (d1 >> CellBits)
    } yield mortonCell(uc, dc)

  /** ly2's fixed query rectangle `[U0,U1] × [D0,D1]` — inside the
    * harness envelope at every SF (user-id head × one 10-day window of
    * the 30-day calendar) and CROSSING a u-cell boundary (u 3..40 spans
    * u-cells 0 and 1 at CellBits = 5), so the pruned read provably
    * touches a multi-cell list, not one lucky directory. */
  val RectU0 = 3L
  val RectU1 = 40L
  val RectD0 = 19725L
  val RectD1 = 19734L

  /** LY2 — the READ half of the z-order layout (ly1 audits the write):
    * a rectangle query on (user, day) served from the at-rest
    * cell-partitioned table. BUILD is [[writeZorder]] — [[zCoords]]
    * (+ event_id) partitioned by cell, the clustered layout a z-order
    * writer emits, plus its stats sidecar; SERVE is [[rectangleRead]],
    * which plans the rectangle driver-side with
    * [[cellsForRange]] (O(rectangle cells), independent of table size)
    * into a STATIC `cell IN (...)` partition predicate — directory
    * pruning on EITHER dimension, no file of a non-intersecting cell
    * is listed or read — plus the exact BETWEEN residual inside the
    * touched cells (PlanContractSpec pins the partition filter; the
    * ScaleSpec twin proves the physical file-list bound). The output
    * is the row-level rectangle content, so the DuckDB twin is the
    * plain two-predicate filter — the pruning changes the PLAN, never
    * the rows.
    *
    * 100 TB plan: this is the x11 DPP discipline with STATIC pruning
    * (the cell list is known at plan time — no subquery needed): a
    * rectangle reads |cells ∩ rectangle| directories of a table
    * clustered once at write time, vs a full scan under any one-key
    * sort when filtering on the second dimension. */
  def zorderRangeRead(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/zorder"
    writeZorder(s, root, Tables.events(s, dir))
    rectangleRead(s, root)
  }

  /** BUILD/APPEND shared core of the at-rest z-order table: the
    * clustered rows under `rows/` (partitionBy cell) and the per-cell
    * file-skipping stats under `stats/` (count/min/max — all
    * associative, so the append merges them instead of recomputing).
    * The cell reads back as int (partition inference); cell < 2^22 by
    * construction, so the narrowing is lossless and a cell IN probe
    * stays on the bare attribute. */
  private[graft] def writeZorder(s: SparkSession, root: String,
      ev: DataFrame): Unit = {
    AtRest.land(s, s"$root/rows", "cell",
      zCoords(ev, col("event_id")).withColumn("cell", col("cell").cast("int")),
      "overwrite")
    cellAgg(AtRest.read(s, s"$root/rows"))
      .write.mode("overwrite").parquet(s"$root/stats")
  }

  private[graft] def appendZorder(s: SparkSession, root: String,
      batch: DataFrame): Unit = {
    val bc = CacheScope.persist(zCoords(batch, col("event_id"))
      .withColumn("cell", col("cell").cast("int")))
    AtRest.land(s, s"$root/rows", "cell", bc, "append")
    AtRest.read(s, s"$root/stats")
      .unionByName(cellAgg(bc))
      .groupBy(col("cell"))
      .agg(sum(col("n_rows")).as("n_rows"),
        min(col("u_min")).as("u_min"), max(col("u_max")).as("u_max"),
        min(col("day_min")).as("day_min"), max(col("day_max")).as("day_max"))
      // the pinned merge is KB-scale: land it as ONE sidecar file
      .localCheckpoint().coalesce(1)
      .write.mode("overwrite").parquet(s"$root/stats")
  }

  /** The rectangle read over a [[writeZorder]] layout — the serve of
    * ly2 (fresh build), ly3 (appended) and ly4 (forgotten): a STATIC
    * `cell IN (...)` predicate from [[cellsForRange]] plus the exact
    * BETWEEN residual. */
  private def rectangleRead(s: SparkSession, root: String): DataFrame = {
    val cells = cellsForRange(RectU0, RectU1, RectD0, RectD1)
    AtRest.read(s, s"$root/rows")
      .filter(col("cell").isin(cells.map(_.toInt): _*) &&
        col("u").between(RectU0, RectU1) &&
        col("day").between(RectD0, RectD1))
      .select(col("event_id"), col("u"), col("day"),
        col("cell").cast("long").as("cell"))
      .transform(Common.presented(_, col("event_id")))
  }

  /** LY3 — LAYOUT MAINTENANCE UNDER APPEND: the x19/ir16 discipline on
    * the z-order table. The z cell is a PER-ROW function of the
    * clustering keys, so an incoming batch routes to its cells as a
    * plain parquet APPEND — new files inside existing cell
    * directories, standing files untouched byte-for-byte (LayoutSpec
    * pins the file sets, x19's check) — and the file-skipping stats
    * merge associatively (sum/min/max; append == rebuild row-exact,
    * LayoutSpec pins it). This is what makes z-order clustering
    * OPERABLE at 100 TB: a daily ingest writes only its own rows and a
    * KB-scale stats merge, it never re-sorts the standing table
    * (re-clustering remains a per-cell x17-style rewrite for cells
    * whose spans regress — compaction, not maintenance). The SERVE is
    * ly2's rectangle read over the maintained layout — rows identical
    * to a fresh build, so the oracle is ly2's plain two-predicate
    * filter verbatim. */
  def zorderAppend(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/zorder3"
    val ev = Tables.events(s, dir)
    val isNew = col("event_id") % DedupOps.IncomingMod === 0
    writeZorder(s, root, ev.filter(!isNew))
    appendZorder(s, root, ev.filter(isNew))
    rectangleRead(s, root)
  }

  /** FORGET users from the z-order layout (ly4) — the RECTANGLE
    * forget, the x17 cell-targeted shape executed: a user's rows live
    * in exactly the cells of the degenerate rectangle
    * `[u,u] × [day_min, day_max]`, and the day bounds come from the
    * KB-scale stats sidecar — so the target-cell list is DRIVER-
    * computed from the request's keys plus index metadata
    * ([[cellsForRange]], the same planning step a range read uses),
    * no corpus read for targeting. The touched cells sweep by `u`
    * through the shared verb; their stats RECOUNT from the swept rows
    * (min/max cannot decrement — ir22's subtractive discipline) while
    * untouched cells' stats rows carry over verbatim; a cell emptied
    * entirely drops its directory and its stats row. Idempotent: a
    * rerun sweeps nothing and recounts the same stats. */
  private[graft] def forgetZorder(s: SparkSession, root: String,
      delUs: Seq[Long]): Unit = {
    if (delUs.isEmpty) return
    val b = AtRest.read(s, s"$root/stats")
      .agg(min(col("day_min")), max(col("day_max"))).collect()(0)
    if (b.isNullAt(0)) return
    val cells = delUs.flatMap(u => cellsForRange(u, u, b.getLong(0),
        b.getLong(1)))
      .distinct.sorted.map(_.toInt)
    val req = s.createDataFrame(
      s.sparkContext.parallelize(delUs.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("u",
          org.apache.spark.sql.types.LongType))))
    AtRest.sweepBuckets(s, s"$root/rows", "cell", cells, req, Seq("u"))
    AtRest.read(s, s"$root/stats")
      .filter(!col("cell").isin(cells: _*))
      .unionByName(cellAgg(AtRest.read(s, s"$root/rows")
        .filter(col("cell").isin(cells: _*))
        .select(col("u"), col("day"), col("cell"))))
      // the pinned merge is KB-scale: land it as ONE sidecar file
      .localCheckpoint().coalesce(1)
      .write.mode("overwrite").parquet(s"$root/stats")
  }

  /** LY4 — FORGET EXECUTED AGAINST THE Z-ORDER LAYOUT: build the
    * clustered table + stats sidecar, EXECUTE the user-delete cohort
    * ([[forgetZorder]] — target cells planned driver-side from the
    * request's u keys × the sidecar's day bounds), and serve ly2's
    * rectangle read from what remains. The oracle is ly2's two-
    * predicate filter over the SURVIVOR rows (the fixed rectangle
    * contains deleted users, so the forget provably bites).
    *
    * 100 TB plan: a user-forget touches the one u-cell column of the
    * grid (day-span cells of a single u stripe) — request-keys ×
    * calendar-bounded IO, never the table; the stats recount reads
    * only the touched cells' swept rows. */
  def zorderForget(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/zorder4"
    writeZorder(s, root, Tables.events(s, dir))
    // the request: every u ≡ ForgetRem (mod ForgetMod) in the indexed
    // u range — the range bound is one KB stats read, and the id list
    // is driver metadata (request-sized, the c6 convention)
    val maxU = AtRest.read(s, s"$root/stats")
      .agg(max(col("u_max"))).collect()(0).getLong(0)
    forgetZorder(s, root,
      (0L to maxU).filter(_ % TextOps.ForgetMod == TextOps.ForgetRem))
    rectangleRead(s, root)
  }

  /** The SQL-text form of [[spread16]], parameterized by the dialect's
    * shift-left syntax — ONE place holds the four shift-mask steps for
    * the DuckDB oracle (`x << n`) AND sx5's Spark-SQL restatement
    * (`shiftleft(x, n)`). */
  private[operators] def spreadSqlText(x: String,
      shl: (String, Int) => String): String = {
    val a = s"((($x) | ${shl(x, 8)}) & 16711935)"
    val b = s"((($a) | ${shl(a, 4)}) & 252645135)"
    val c = s"((($b) | ${shl(b, 2)}) & 858993459)"
    s"((($c) | ${shl(c, 1)}) & 1431655765)"
  }

  /** The DuckDB twin of [[spread16]]. */
  private def spreadSql(x: String): String =
    spreadSqlText(x, (e, n) => s"(($e) << $n)")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ly1_zorder_layout" -> (zorderLayout _),
    "ly2_zorder_read" -> (zorderRangeRead _),
    "ly3_zorder_append" -> (zorderAppend _),
    "ly4_zorder_forget" -> (zorderForget _))

  val oracles: Map[String, String] = Map(
    // identical integer bit arithmetic on both engines; day via the
    // shared epoch_ns day grid (WindowOps.DayNanos)
    "ly1_zorder_layout" ->
      s"""WITH base AS (
         |  SELECT user_id & $DimMask AS u,
         |         (epoch_ns(ts) // ${WindowOps.DayNanos}) & $DimMask AS day
         |  FROM events),
         |zt AS (SELECT u, day,
         |              (${spreadSql("u")} | (${spreadSql("day")} << 1))
         |                >> ${2 * CellBits} AS cell
         |       FROM base)
         |SELECT cell, count(*) AS n_rows,
         |       min(u) AS u_min, max(u) AS u_max,
         |       min(day) AS day_min, max(day) AS day_max,
         |       max(u) - min(u) + 1 AS u_span,
         |       max(day) - min(day) + 1 AS day_span
         |FROM zt GROUP BY cell
         |ORDER BY cell""".stripMargin,
    // the pruned read returns exactly the rectangle's rows — the cell
    // IN list is a plan-only device (it is implied by the residual:
    // every row in the rectangle lies in an enumerated cell), so the
    // twin is the plain two-predicate filter over the same coordinates
    "ly2_zorder_read" -> rectangleOracleSql,
    // ly3: build∘append∘read == rebuild∘read — appends route per-row
    // and the stats merge is associative, so the oracle is ly2's
    // verbatim (the x19/ir16 maintenance convention)
    "ly3_zorder_append" -> rectangleOracleSql,
    // ly4: build∘forget∘read == ly2's filter over the SURVIVORS — the
    // rectangle crosses deleted u stripes, so the forget provably bites
    "ly4_zorder_forget" -> rectangleOracleWhere(
      s"\n  AND u % ${TextOps.ForgetMod} <> ${TextOps.ForgetRem}"))

  /** ly2/ly3's twin — ONE definition for the fresh-build read and the
    * maintained-build read, which are row-identical. */
  private def rectangleOracleWhere(extra: String): String =
    s"""WITH base AS (
       |  SELECT event_id, user_id & $DimMask AS u,
       |         (epoch_ns(ts) // ${WindowOps.DayNanos}) & $DimMask AS day
       |  FROM events),
       |zt AS (SELECT event_id, u, day,
       |              (${spreadSql("u")} | (${spreadSql("day")} << 1))
       |                >> ${2 * CellBits} AS cell
       |       FROM base)
       |SELECT event_id, u, day, cell
       |FROM zt
       |WHERE u BETWEEN $RectU0 AND $RectU1
       |  AND day BETWEEN $RectD0 AND $RectD1$extra
       |ORDER BY event_id""".stripMargin

  private lazy val rectangleOracleSql: String = rectangleOracleWhere("")
}
