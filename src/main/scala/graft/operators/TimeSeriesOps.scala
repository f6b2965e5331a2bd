package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Time-series similarity search over the `events` table — per-user
  * daily activity series compared by EXACT INTEGER distance (builder
  * brief; theme from the retrieved corpus's "Time Series Similarity
  * Search for Streaming Data in Distributed Systems", EDBT 2019 — no
  * reference analog; the reference's closest shape is its per-key
  * stateful aggregation).
  *
  * Determinism: the series are integer count vectors on the shared day
  * grid (`tsMicros div DayMicros` == oracle `epoch_ns // DayNanos` —
  * the w-family contract), and the distance is squared-Euclidean over
  * those integers, so every compared value is exact integer arithmetic:
  * no float enters the output at all, the strongest form of the
  * engine's cross-engine contract.
  *
  * Sparse algebra instead of dense vectors: a user×day matrix at 100 TB
  * is mostly zeros, so SSE decomposes as
  * `Σ(cu−cp)² = Σcu² + Σcp² − 2·Σ cu·cp` — per-user self-energy from
  * one aggregate, the probe's energy a one-row broadcast, and the cross
  * term a broadcast join on the probe's ~30 day rows. Nothing
  * materializes a dense grid and no zero rows are ever generated.
  */
object TimeSeriesOps {

  /** ts1/ts2's probe entity. */
  val ProbeUser = 0L

  val TopK = 10

  /** ts2's motif length (the probe's trailing window, in days). */
  val MotifLen = 3

  /** The day-grid projection `ts → day index` — THE one definition of
    * "a day" for the whole ts family and its streaming fixtures (a
    * bucketing edit cannot desynchronize operators from the specs'
    * streamed state). */
  private[graft] def dayOf(ev: DataFrame): Column =
    expr(s"(${ScanOps.tsMicrosSql(ev)}) div ${WindowOps.DayMicros}")

  private[graft] def dayCounts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.select(col("user_id"), dayOf(ev).as("day"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The (user, day, cnt) collapse feeds 3 consumers in ts1 (energies,
    * probe, cross term) and 2 in ts2 — persist it so the events scan
    * and count shuffle run once (the d2-signature-table convention;
    * the harness clears the cache after each query, and at rest this
    * IS the persisted counts table). */
  private def cachedCounts(s: SparkSession, dir: String): DataFrame = {
    val c = dayCounts(s, dir)
    CacheScope.persist(c)
    c
  }

  /** TS1 — whole-series k-NN: the [[TopK]] users whose daily activity
    * series is nearest the probe user's by squared Euclidean distance
    * on the day grid. One (user, day) aggregate, one per-user energy
    * aggregate, the probe series broadcast onto the cross-term join,
    * and a TakeOrderedAndProject top-k — at 100 TB nothing shuffles
    * wider than the (user, day) count collapse. Output is all-integer
    * (sse, dot, energies, active-day counts). */
  def seriesKnn(s: SparkSession, dir: String): DataFrame =
    seriesKnnCore(cachedCounts(s, dir))

  /** ts1 over ANY (user_id, day, cnt) frame — the streaming twin serves
    * from the counts STATE a streaming aggregation maintains
    * (StreamingTimeSeriesSpec: standing state == batch collapse, and
    * serving from it reproduces ts1 exactly — integers throughout, so
    * this is equality, not tolerance). */
  private[graft] def seriesKnnCore(c: DataFrame): DataFrame = {
    val perUser = c.groupBy(col("user_id"))
      .agg(sum(col("cnt") * col("cnt")).as("sum_sq"),
        count(lit(1)).as("n_days"))
    val probe = c.filter(col("user_id") === ProbeUser)
      .select(col("day"), col("cnt").as("cp"))
    val probeEnergy = probe.agg(sum(col("cp") * col("cp")).as("sum_sq_p"))
    val dots = c.filter(col("user_id") =!= ProbeUser)
      .join(broadcast(probe), Seq("day"))
      .groupBy(col("user_id"))
      .agg(sum(col("cnt") * col("cp")).as("dot"))
    val top = perUser.filter(col("user_id") =!= ProbeUser)
      .join(dots, Seq("user_id"), "left")
      .withColumn("dot", coalesce(col("dot"), lit(0L)))
      .crossJoin(broadcast(probeEnergy))
      .withColumn("sse",
        col("sum_sq") + col("sum_sq_p") - lit(2L) * col("dot"))
      .orderBy(col("sse").asc, col("user_id")).limit(TopK)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("sse").asc, col("user_id"))))
      .select(col("rank"), col("user_id"), col("sse"), col("dot"),
        col("sum_sq"), col("n_days"))
      .transform(Common.presented(_, col("rank")))
  }

  /** TS2 — motif (subsequence) search: the probe's TRAILING
    * [[MotifLen]]-day window slides over every user's series; per user
    * the best-aligned window (min SSE, earliest start on ties), then
    * the [[TopK]] users by that best score — the UCR-suite subsequence
    * query restated relationally. The slide is an offset EXPLODE
    * (each (user, day, cnt) row contributes to [[MotifLen]] candidate
    * starts), so the pair space is rows×MotifLen, never users×days²;
    * windows where the user has no events at all are skipped by
    * construction (their SSE is the motif's own energy — not a match
    * candidate). The sparse identity per window:
    * `sse = Σmᵢ² + Σ_{i: cnt>0} ((cnt−mᵢ)² − mᵢ²)`, all integers. */
  def motifMatch(s: SparkSession, dir: String): DataFrame = {
    val c = cachedCounts(s, dir)
    val probe = c.filter(col("user_id") === ProbeUser)
    val pMax = probe.agg(max(col("day")).as("pmax"))
    // motif position i = 0..MotifLen-1 maps to day pmax-(MotifLen-1-i);
    // absent probe days read as count 0
    val offs = s.range(MotifLen).select(col("id").cast("long").as("i"))
    val motif = offs
      .crossJoin(broadcast(pMax))
      .join(broadcast(probe.select(col("day"), col("cnt"))),
        col("day") === col("pmax") - (lit(MotifLen - 1) - col("i")), "left")
      .select(col("i"), coalesce(col("cnt"), lit(0L)).as("m"))
    val motifSq = motif.agg(sum(col("m") * col("m")).as("msq"))
    val windows = c.filter(col("user_id") =!= ProbeUser)
      .crossJoin(broadcast(motif))
      .withColumn("wstart", col("day") - col("i"))
      .groupBy(col("user_id"), col("wstart"))
      .agg(sum((col("cnt") - col("m")) * (col("cnt") - col("m")) -
        col("m") * col("m")).as("delta"))
    val best = windows
      .crossJoin(broadcast(motifSq))
      .withColumn("sse", col("msq") + col("delta"))
      .withColumn("brn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("sse").asc, col("wstart"))))
      .filter(col("brn") === 1)
      .select(col("user_id"), col("wstart").as("best_start"), col("sse"))
      .orderBy(col("sse").asc, col("user_id")).limit(TopK)
    best
      .withColumn("rank", row_number().over(
        Window.orderBy(col("sse").asc, col("user_id"))))
      .select(col("rank"), col("user_id"), col("best_start"), col("sse"))
      .transform(Common.presented(_, col("rank")))
  }

  /** ts3's lag range (days). */
  val MaxLag = 7

  /** TS3 — seasonality probe: per event_type, the raw lag-ℓ
    * autocovariance numerator `Σ c(d)·c(d+ℓ)` of the GLOBAL daily count
    * series for ℓ = 1..[[MaxLag]], with the per-type peak lag flagged —
    * the weekly-rhythm detector a monitoring pipeline runs over its
    * metric streams. Raw (uncentered) products keep every compared
    * value integer (the centered/normalized form divides by variance —
    * a consumer-side step, the tx12 discipline); the peak flag is an
    * integer max comparison with smallest-lag tie-break. The daily
    * collapse (|types|×|days| rows) is the only wide aggregate; the
    * lag self-join runs on that collapsed frame, so cost is
    * independent of event volume. */
  /** The per-(event_type, day) daily collapse — ONE definition shared
    * by ts3's seasonality and ts7's changepoint (a day-bucketing edit
    * cannot desynchronize them), persisted because ts3 reads it twice
    * and a same-session ts7 reuses the cached plan. */
  private def cachedTypeDaily(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val daily = ev.select(col("event_type"), dayOf(ev).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt"))
    CacheScope.persist(daily)
    daily
  }

  def seasonality(s: SparkSession, dir: String): DataFrame =
    seasonalityCore(cachedTypeDaily(s, dir))

  /** ts3 over ANY (event_type, day, cnt) frame — the per-type daily
    * counts are streaming-aggregation state exactly like ts1's
    * per-user counts, and this core serves from that standing state
    * unchanged (StreamingTimeSeriesSpec). */
  private[graft] def seasonalityCore(daily: DataFrame): DataFrame = {
    // equi-join on (event_type, day+lag): the shifted day is a computed
    // key column, so Catalyst plans a hash join — never a per-type
    // cross of the day grid
    val lagged = daily
      .select(col("event_type"), col("cnt"),
        explode(sequence(lit(1), lit(MaxLag))).as("lag"),
        col("day"))
      .withColumn("day2", col("day") + col("lag"))
      .join(daily.select(col("event_type"), col("day").as("day2"),
          col("cnt").as("cnt2")),
        Seq("event_type", "day2"))
      .groupBy(col("event_type"), col("lag"))
      .agg(sum(col("cnt") * col("cnt2")).as("rnum"),
        count(lit(1)).as("n_pairs"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("rnum").desc, col("lag"))
    lagged
      .withColumn("is_peak",
        when(row_number().over(w) === 1, 1).otherwise(0))
      .select(col("event_type"), col("lag").cast("int").as("lag"),
        col("rnum"), col("n_pairs"), col("is_peak"))
      .transform(Common.presented(_, col("event_type"), col("lag")))
  }

  /** SAX geometry (ts4/ts5): [[NumSegs]] segments of [[SegDays]] days
    * each, segment activity quantized to 3 symbols {1,2,3} by the
    * integer breakpoints [[BpMid]]/[[BpHigh]] (picked at the observed
    * tertiles of per-segment activity so symbols spread; 0 is reserved
    * for an absent segment). A user's SAX word packs the [[NumSegs]]
    * symbols 2 bits apiece into ONE BIGINT — integer arithmetic both
    * engines shift identically, no string aggregation, and absent
    * segments contribute 0 without ever materializing a day grid. */
  val NumSegs = 4
  val SegDays = 8
  val BpMid = 14L
  val BpHigh = 19L

  /** Per-user (word, n_active_segs) over any (user_id, day, cnt) frame.
    * ONE hash shuffle on user_id: the [[NumSegs]] segment sums are
    * stated as conditional aggregates of a single groupBy(user) (the
    * x8 fold-the-pivot-into-the-agg trick — a (user, seg) pre-aggregate
    * would spend a second exchange re-keying to user), and the
    * symbol/packing arithmetic runs on the aggregated row with STATIC
    * shift amounts. An absent segment's sum is NULL → symbol 0. */
  private[graft] def saxWords(c: DataFrame): DataFrame =
    saxWordsWith(c, c.agg(min(col("day")).as("d0")))

  /** [[saxWords]] with the day-grid origin passed in — the ts5 probe
    * side aggregates ONLY the probe user's rows but must share the
    * GLOBAL origin, or its segments would shift. */
  private[graft] def saxWordsWith(c: DataFrame, dmin: DataFrame): DataFrame = {
    def segSum(i: Int) =
      sum(when(col("seg") === i, col("cnt"))).as(s"s$i")
    def sym(i: Int): Column =
      when(col(s"s$i") >= BpHigh, lit(3L))
        .when(col(s"s$i") >= BpMid, lit(2L))
        .when(col(s"s$i").isNotNull, lit(1L)).otherwise(lit(0L))
    c.crossJoin(broadcast(dmin))
      .select(col("user_id"),
        expr(s"(day - d0) div $SegDays").as("seg"), col("cnt"))
      .filter(col("seg") < NumSegs)
      .groupBy(col("user_id"))
      .agg(segSum(0), (1 until NumSegs).map(segSum): _*)
      .select(col("user_id"),
        (0 until NumSegs).map(i => sym(i) * (1L << (2 * i)))
          .reduce(_ + _).as("word"),
        (0 until NumSegs).map(i =>
          when(col(s"s$i").isNotNull, 1L).otherwise(0L))
          .reduce(_ + _).as("n_active_segs"))
  }

  /** TS4 — SAX symbolic index over the per-user daily series (PAA →
    * breakpoint quantization → word, Lin/Keogh's SAX restated on
    * integer segment SUMS so every value is exact): each user's series
    * collapses to a [[NumSegs]]-symbol word packed into one BIGINT, and
    * the word IS the index key — users sharing a word are
    * coarse-profile equals, the time-series twin of x2's LSH bucket /
    * d3's simhash band. A user active ONLY beyond the indexed window
    * (every day clips at seg ≥ [[NumSegs]]) has no word row — not
    * active in the window means not indexed, on both engines
    * (fuzz-pinned). Output: each user's word, active-segment count,
    * the word's bucket occupancy, and whether the user shares the probe
    * user's bucket. At 100 TB the index build is two keyed integer
    * aggregates over the counts collapse (nothing wider than ts1's
    * first shuffle), and the words table it emits is ~16 bytes/user —
    * the standing index ts5 probes. */
  def saxIndex(s: SparkSession, dir: String): DataFrame =
    saxIndexTail(saxWords(cachedCounts(s, dir)))

  /** ts4's presentation tail over ANY (user_id, word, n_active_segs)
    * words frame — ONE tree for the in-memory build (ts4) and the
    * maintained at-rest serve (ts10), so the two cannot drift. */
  private[graft] def saxIndexTail(words: DataFrame): DataFrame = {
    val probe = words.filter(col("user_id") === ProbeUser)
      .select(col("word").as("pw"))
    // bucket occupancy as a window count over the word partition — one
    // exchange on word, where a groupBy(word)+join-back would shuffle
    // the words twice
    words
      .withColumn("n_bucket", count(lit(1)).over(
        Window.partitionBy(col("word"))))
      .crossJoin(broadcast(probe))
      .select(col("user_id"), col("word"), col("n_active_segs"),
        col("n_bucket"),
        when(col("word") === col("pw"), lit(1)).otherwise(lit(0))
          .as("is_probe_bucket"))
      .transform(Common.presented(_, col("user_id")))
  }

  /** The ts5 band keys: word with symbol position b (2 bits) zeroed,
    * for b = 0..[[NumSegs]]-1 — two users share a band key iff their
    * words agree on every OTHER position, i.e. symbol-Hamming ≤ 1
    * (d3b's pigeonhole argument on the SAX alphabet). */
  private[graft] def bandKeys(words: DataFrame): DataFrame =
    words.select(col("user_id"),
        explode(sequence(lit(0), lit(NumSegs - 1))).as("b"), col("word"))
      .select(col("user_id"), col("b"),
        expr("word - shiftleft(shiftright(word, cast(2 * b as int)) & 3, " +
          "cast(2 * b as int))").as("bk"))

  /** TS5 — k-NN SERVED FROM the SAX index: candidates are the users
    * within symbol-Hamming 1 of the probe's word (the banded join over
    * [[bandKeys]] — exact by pigeonhole, never a scan of the user
    * space), then the exact integer SSE of ts1 verifies and ranks ONLY
    * those candidates. The x2/x3 index-serve discipline transplanted to
    * time series: the index prunes, the exact distance decides, and the
    * verify cost scales with the bucket, not the population. Same
    * output shape as ts1 restricted to the candidate set, so the two
    * are directly comparable: every ts5 row's sse equals its ts1 twin
    * for the same user (TimeSeriesSpec pins it). */
  def saxKnn(s: SparkSession, dir: String): DataFrame =
    saxKnnCore(s, cachedCounts(s, dir))

  /** ts5 over ANY (user_id, day, cnt) frame — like [[seriesKnnCore]],
    * the streaming twin serves from the standing counts STATE
    * (StreamingTimeSeriesSpec: index + verify from streamed state ==
    * the batch rule, exactly). */
  private[graft] def saxKnnCore(s: SparkSession, c: DataFrame): DataFrame = {
    // the probe's word aggregates ONLY its own ~30 count rows (global
    // grid origin shared via dmin); the full saxWords pass runs once,
    // on the non-probe side
    val dmin = c.agg(min(col("day")).as("d0"))
    val cand = bandKeys(saxWordsWith(c.filter(col("user_id") =!= ProbeUser), dmin))
      .join(broadcast(
        bandKeys(saxWordsWith(c.filter(col("user_id") === ProbeUser), dmin))
          .select(col("b"), col("bk"))), Seq("b", "bk"))
      .select(col("user_id")).distinct()
    // the verify core reads its counts frame three times (energies,
    // probe slice, cross term); PERSISTING the candidate-restricted
    // counts (tiny: |bucket|×~30 rows) makes the index pipeline run
    // ONCE at materialization — without it each consumer re-expands
    // the whole band-join subtree into its own AQE broadcast build
    // (measured: 23 independent broadcast compilations, ~3.4 s at
    // sf0.1 vs ~1.1 s persisted). The d2-signature-table convention;
    // the harness clears the cache after each query.
    val cc = c.join(broadcast(cand.unionByName(
        s.range(1).select(lit(ProbeUser).as("user_id")))), Seq("user_id"))
    CacheScope.persist(cc)
    seriesKnnCore(cc)
  }

  /** TS6 — lead/lag alignment: for every user, the shift ℓ ∈
    * ±[[MaxLag]] days that best aligns their activity with the probe
    * user's, by the raw cross-covariance `r(ℓ) = Σ_d c_u(d)·c_p(d+ℓ)`
    * — "who moves with the probe, and who moves N days before/after
    * it" (ts3's autocovariance turned cross-user; the uncentered
    * integer form for the same tx12 reason). The probe's series
    * explodes to its (day−ℓ, cp, ℓ) alignment table — ~days×(2L+1)
    * rows, BROADCAST — so the per-user work is one broadcast join on
    * the computed day key plus one (user, lag) aggregate; no user×user
    * pair space, no dense grid, cost independent of the population
    * beyond the counts collapse. Best lag per user by (dot desc,
    * |lag|, lag) — the zero-shift reading wins ties. Output covers
    * users with ≥1 overlapping active day in the window (no overlap →
    * no alignment evidence → no row, matching the join semantics on
    * both engines). */
  def leadLag(s: SparkSession, dir: String): DataFrame =
    leadLagCore(cachedCounts(s, dir))

  /** ts6 over ANY (user_id, day, cnt) frame — the third serving path
    * off the standing counts state (StreamingTimeSeriesSpec binds it
    * beside ts1/ts5). */
  private[graft] def leadLagCore(c: DataFrame): DataFrame = {
    val probe = c.filter(col("user_id") === ProbeUser)
      .select(col("day").as("pd"), col("cnt").as("cp"))
    val aligned = probe
      .select(col("pd"), col("cp"),
        explode(sequence(lit(-MaxLag), lit(MaxLag))).as("lag"))
      .select((col("pd") - col("lag")).as("day"), col("cp"), col("lag"))
    val dots = c.filter(col("user_id") =!= ProbeUser)
      .join(broadcast(aligned), Seq("day"))
      .groupBy(col("user_id"), col("lag"))
      .agg(sum(col("cnt") * col("cp")).as("dot"),
        count(lit(1)).as("n_overlap"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("dot").desc, abs(col("lag")), col("lag"))
    dots.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("lag").cast("int").as("best_lag"),
        col("dot").as("best_dot"), col("n_overlap"))
      .transform(Common.presented(_, col("user_id")))
  }

  /** TS7 — CUSUM changepoint detection, integer-exact: per event_type,
    * the day where the cumulative deviation of the daily count from the
    * series mean peaks in magnitude — "when did this metric's level
    * shift" (Page's CUSUM, the classic monitoring changepoint
    * statistic, over ts3's daily collapse). The mean is a DIVISION, so
    * the statistic is restated scaled by the day count N:
    * `cusum_scaled(d) = Σ_{d'≤d} (N·cnt(d') − total)` — exactly
    * N·(classic CUSUM), same argmax, every value an exact integer (the
    * tx12 discipline: the consumer divides by N·1 if it wants the
    * classic units). Peak by (|cusum| desc, day asc). Days with no
    * events contribute deviation −total — the relational form never
    * materializes them, so the statistic is defined over the ACTIVE-day
    * sequence (both engines state the same rule). One daily collapse +
    * one per-type window cumsum + one peak aggregate; at 100 TB only
    * the collapse sees event volume (|types|×|days| rows after). */
  def changepoint(s: SparkSession, dir: String): DataFrame =
    changepointCore(cachedTypeDaily(s, dir))

  /** ts7 over ANY (event_type, day, cnt) frame — serves from the same
    * standing daily-counts state as [[seasonalityCore]]. */
  private[graft] def changepointCore(daily: DataFrame): DataFrame = {
    val stats = Window.partitionBy(col("event_type"))
    val cum = Window.partitionBy(col("event_type"))
      .orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peak = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("cusum")).desc, col("day"))
    daily
      .withColumn("n_days", count(lit(1)).over(stats))
      .withColumn("total", sum(col("cnt")).over(stats))
      .withColumn("cusum",
        sum(col("cnt") * col("n_days") - col("total")).over(cum))
      .withColumn("rn", row_number().over(peak))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("peak_day"),
        col("cusum").as("peak_cusum"), col("n_days"), col("total"))
      .transform(Common.presented(_, col("event_type")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts1_series_knn" -> (seriesKnn _),
    "ts2_motif_match" -> (motifMatch _),
    "ts3_seasonality" -> (seasonality _),
    "ts4_sax_index" -> (saxIndex _),
    "ts5_sax_knn" -> (saxKnn _),
    "ts6_lead_lag" -> (leadLag _),
    "ts7_changepoint" -> (changepoint _),
    "ts8_sax_discord" -> (saxDiscord _),
    "ts9_sax_atrest" -> (saxKnnAtRest _),
    "ts12_sax_forget" -> (saxForget _),
    "ts10_sax_maintained" -> (saxIndexMaintained _),
    "ts11_sax_multiprobe" -> (saxMultiProbe _))

  /** ts8's window geometry and DAY-level breakpoints (the segment
    * breakpoints [[BpMid]]/[[BpHigh]] quantize 8-day sums; discord
    * windows quantize single days — observed day counts run 1..10
    * with median 2 at every harness SF, so 3/5 splits the occupied
    * range into three live symbols; 0 = inactive day). */
  val DiscordLen = 3
  val DayBpMid = 3L
  val DayBpHigh = 5L

  /** TS8 — SAX DISCORD ranking (the HOT SAX outer heuristic, Keogh,
    * Lin & Fu 2005): every [[DiscordLen]]-day sliding window of every
    * user's series collapses to a SAX word (per-day symbols, integer
    * breakpoints), and windows are ranked by how RARE their word is
    * corpus-wide — rarest first. That word-occupancy ordering is
    * exactly the published discord candidate order ("subsequences with
    * the least-frequent words first"); the exact-distance verify that
    * HOT SAX runs over candidates is ts5's banded-SSE machinery,
    * composable downstream. All-integer (counts, words, occupancies),
    * so the ranking is bit-stable across engines. Windows with no
    * active day are not indexed (ts4's not-active-not-indexed rule);
    * ties break (word, user, wstart) for determinism.
    *
    * 100 TB plan: SPARSE window generation — each active (user, day)
    * count row explodes to its ≤ [[DiscordLen]] covering windows
    * (slot = offset, no range join), so row volume is
    * activity × L, never users × calendar (the dense-grid anti-shape
    * the ts-family header bans). One (user, wstart) collapse, one
    * word-keyed exchange over the COLLAPSED window rows for
    * occupancy, and the top-k is TakeOrderedAndProject. The word
    * table is the standing artifact: a streaming ingest maintains the
    * (user, wstart, word) rows incrementally (day counts are
    * associative) and re-ranks occupancy per batch. */
  def saxDiscord(s: SparkSession, dir: String): DataFrame =
    saxDiscordCore(cachedCounts(s, dir))

  private[graft] def saxDiscordCore(c: DataFrame): DataFrame = {
    val bounds = c.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val slots = c.crossJoin(broadcast(bounds))
      .select(col("user_id"), (col("day") - col("d0")).as("rel"),
        (col("d1") - col("d0")).as("span"), col("cnt"))
      .select(col("user_id"), col("rel"), col("span"), col("cnt"),
        explode(sequence(lit(0), lit(DiscordLen - 1))).as("off"))
      .select(col("user_id"), (col("rel") - col("off")).as("wstart"),
        col("span"), col("off"), col("cnt"))
      .filter(col("wstart") >= 0 &&
        col("wstart") <= col("span") - (DiscordLen - 1))
    def slotSum(i: Int) =
      sum(when(col("off") === i, col("cnt"))).as(s"c$i")
    def sym(i: Int): Column =
      when(col(s"c$i") >= DayBpHigh, lit(3L))
        .when(col(s"c$i") >= DayBpMid, lit(2L))
        .when(col(s"c$i").isNotNull, lit(1L)).otherwise(lit(0L))
    val words = slots.groupBy(col("user_id"), col("wstart"))
      .agg(slotSum(0), (1 until DiscordLen).map(slotSum): _*)
      .select(Seq(col("user_id"), col("wstart"),
        (0 until DiscordLen).map(i => sym(i) * (1L << (2 * i)))
          .reduce(_ + _).as("word")) ++
        (0 until DiscordLen).map(i =>
          coalesce(col(s"c$i"), lit(0L)).as(s"c$i")): _*)
    val ord = Seq(col("n_bucket"), col("word"), col("user_id"), col("wstart"))
    words
      .withColumn("n_bucket", count(lit(1)).over(
        Window.partitionBy(col("word"))))
      .orderBy(ord: _*).limit(TopK)
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)))
      .select(Seq(col("rank"), col("user_id"), col("wstart"), col("word"),
        col("n_bucket")) ++
        (0 until DiscordLen).map(i => col(s"c$i")): _*)
      .transform(Common.presented(_, col("rank")))
  }

  // ---------------------------------------------------------------
  // The at-rest SAX index (ts9/ts10): the physical half of the
  // time-series serving tier — the LAST index family computed in
  // memory per query gets its written form. Four artifacts:
  //   - counts/ — the (user_id, day, cnt) collapse, PARTITIONED BY
  //     u_bucket: the base of record every heal recounts from, and
  //     the verify-side series ts5's exact SSE fetches by id (x30's
  //     id-bucketed fetch discipline on time series).
  //   - consts/ — ONE row: the day-grid origin d0. Words are defined
  //     relative to it, so it is an index-level constant, not a
  //     per-query aggregate.
  //   - words/  — the DERIVED (user_id, word, n_active_segs) SAX
  //     words, PARTITIONED BY u_bucket.
  //   - bands/  — the Hamming-1 band keys of every word, PARTITIONED
  //     BY the band bucket: the LSH candidate index a probe
  //     partition-prunes into (d24's banded layout on the SAX
  //     alphabet).
  // What makes this family NEW: words are derived PER-USER FACTS that
  // CHANGE when a user's series extends — every other at-rest family
  // appends immutable facts. Maintenance is therefore an UPDATE:
  // recompute ONLY the touched users' words and dynamic-overwrite
  // ONLY their buckets (the d27 eviction shape applied to updates),
  // with one documented wholesale path — a batch older than the grid
  // origin shifts d0 and every user's segment mapping with it.
  // ---------------------------------------------------------------

  /** User-bucket / band-bucket counts of the at-rest SAX layout — 16,
    * the family constant. */
  val SaxUserBuckets = 16
  val SaxBandBuckets = 16

  private[graft] def userBucketCol(u: Column): Column =
    pmod(u, lit(SaxUserBuckets.toLong)).cast("int")

  /** The band partition attribute: packed words are SMALL integers
    * (2 bits × [[NumSegs]]), so a plain modulus of any linear mix
    * would key the bucket off a couple of symbol bits and skew the
    * layout (d24's `band + sig` trick works there because minhash
    * sigs are already uniform) — Murmur3 over (band, key) spreads the
    * sub-indexes evenly. Engine-internal layout only: the bucket
    * never reaches an output or an oracle. */
  private[graft] def saxBandBucketCol(b: Column, bk: Column): Column =
    pmod(hash(b, bk), lit(SaxBandBuckets)).cast("int")

  /** Rebuild the DERIVED artifacts (words + bands) from the WRITTEN
    * counts base and the GIVEN origin frame — the build's second half,
    * the origin-shift wholesale path, and the heal, all one tree. The
    * origin arrives as a frame (not a consts read) so the shift paths
    * can rebuild the derived tables FIRST and persist consts LAST —
    * consts-matches-the-base is then a reliable "rebuild committed"
    * flag a mid-crash rerun re-checks (the r16 ADVICE ordering). */
  private def rebuildSaxDerived(s: SparkSession, root: String,
      consts: DataFrame): Unit = {
    AtRest.land(s, s"$root/words", "u_bucket",
      saxWordsWith(
          s.read.parquet(s"$root/counts")
            .select(col("user_id"), col("day"), col("cnt")),
          consts)
        .withColumn("u_bucket", userBucketCol(col("user_id"))),
      "overwrite")
    AtRest.land(s, s"$root/bands", "bb_bucket",
      bandKeys(s.read.parquet(s"$root/words"))
        .withColumn("bb_bucket", saxBandBucketCol(col("b"), col("bk")))
        .select(col("user_id"), col("b"), col("bk"), col("bb_bucket")),
      "overwrite")
  }

  /** The recomputed grid origin of the WRITTEN base, as a consts-shaped
    * frame: ONE row normally, ZERO rows when the base is empty — the
    * emptied-index marker (a NULL d0 row would poison every later
    * origin read; [[saxOrigin]] treats no-rows as "no origin"). */
  private def recountedOrigin(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/counts").agg(min(col("day")).as("d0"))
      .filter(col("d0").isNotNull)
      .localCheckpoint()

  /** The stored grid origin; None when the index is empty (consts
    * holds zero rows) or — defensively — when a legacy consts holds a
    * NULL row. Every consts read goes through here: maintenance on an
    * emptied store must re-seed rather than NPE (the r16 ADVICE
    * emptied-index arm). */
  private[graft] def saxOrigin(s: SparkSession, root: String): Option[Long] = {
    val r = s.read.parquet(s"$root/consts").collect()
    if (r.isEmpty || r(0).isNullAt(0)) None else Some(r(0).getLong(0))
  }

  /** BUILD: write all four artifacts; the origin and the derived
    * tables come from the WRITTEN base (one read of the new files —
    * ir15's no-second-corpus-pass rule). */
  private[graft] def writeSaxIndex(s: SparkSession, root: String,
      c: DataFrame): Unit = {
    AtRest.land(s, s"$root/counts", "u_bucket",
      c.select(col("user_id"), col("day"), col("cnt"),
        userBucketCol(col("user_id")).as("u_bucket")),
      "overwrite")
    val nc = recountedOrigin(s, root)
    nc.write.mode("overwrite").parquet(s"$root/consts")
    rebuildSaxDerived(s, root, nc)
  }

  /** UPDATE: fold a (user_id, day, cnt) batch into the standing index
    * — the first MAINTAINED-UPDATE at-rest family:
    *   1. the batch's count rows land in `counts` behind a
    *      (user_id, day) anti-join exactly-once guard (eager
    *      localCheckpoint — the refreshByPath trap). The supported
    *      ingest grain is WHOLE DAYS (a day closes before it ships —
    *      the daily-ingest contract), so a (user, day) key never
    *      straddles batches and landed rows are pure appends; a
    *      retried batch is a row-level no-op.
    *   2. if the batch reaches behind the grid origin (tested on the
    *      batch's OWN min so a rerun of a crashed shift re-enters the
    *      rebuild — the landed delta is empty on a retry), d0 shifts
    *      and EVERY user's segment mapping moves: the derived tables
    *      rebuild wholesale FIRST and consts persists LAST — the
    *      documented rare path (ingesting history older than
    *      everything indexed).
    *   3. otherwise only users whose landed days fall INSIDE the
    *      indexed window are TOUCHED (a day beyond seg [[NumSegs]]
    *      changes no word — daily ingest past the window touches
    *      nobody): their words recompute from the written base, and
    *      their user buckets rewrite via dynamic partition overwrite
    *      (untouched buckets' files survive byte-identical —
    *      SaxAtRestSpec pins paths+sizes+mtimes);
    *   4. `bands` rewrites the buckets holding the touched users' OLD
    *      band keys (pinned from the pre-update words BEFORE the
    *      overwrite) plus their NEW ones — both lists O(16) driver
    *      metadata, the d27 eviction-bookkeeping class.
    * Update == rebuild row-exactly on all four artifacts; a crash
    * between the base append and the derived rewrites leaves words
    * stale, never wrong — [[healSaxIndex]] recounts from the base. */
  private[graft] def updateSaxIndex(s: SparkSession, root: String,
      batch: DataFrame, crashBeforeConsts: Boolean = false): Unit = {
    // an EMPTIED store (zero-row consts — every user forgotten) has no
    // readable base to anti-join against: the batch re-SEEDS it, the
    // build verbatim (the r16 ADVICE emptied-index arm)
    if (saxOrigin(s, root).isEmpty) {
      writeSaxIndex(s, root,
        batch.select(col("user_id"), col("day"), col("cnt")))
      return
    }
    val landed = batch
      .select(col("user_id"), col("day"), col("cnt"),
        userBucketCol(col("user_id")).as("u_bucket"))
      .join(s.read.parquet(s"$root/counts")
          .select(col("user_id"), col("day")),
        Seq("user_id", "day"), "left_anti")
      // pinned for `touched` below: re-read after the append, the
      // anti-join would filter the landed rows out against themselves
      .localCheckpoint()
    AtRest.land(s, s"$root/counts", "u_bucket", landed, "append")
    // maintenance bookkeeping (the d27 sanctioned-collect class): the
    // stored origin and the BATCH's reach — two O(1) scalars. The
    // shift test reads the batch's own min, NOT the landed delta's
    // (the r17 ADVICE rerun hole): a rerun of a crashed shift update
    // lands nothing (anti-join guard), so a landed-min test would
    // take the else branch, touch nobody, and leave the stale consts
    // standing — the batch min is the same scalar on a first run
    // (whole-day grain: if the batch's min day were already landed,
    // the stored origin would already sit at or below it) and re-
    // enters the rebuild on the rerun, exactly like forgetSaxIndex's
    // consts-vs-base re-check.
    val d0 = saxOrigin(s, root).get
    val bminRow = batch.agg(min(col("day"))).collect()(0)
    if (!bminRow.isNullAt(0) && bminRow.getLong(0) < d0) {
      // the grid origin SHIFTED: every word is relative to d0, so the
      // derived tables rebuild wholesale from the (intact) base —
      // derived tables FIRST, consts LAST, so the consts-vs-base
      // mismatch survives a mid-crash and [[healSaxIndex]] (or any
      // origin check) still sees the rebuild as uncommitted
      val nc = recountedOrigin(s, root)
      rebuildSaxDerived(s, root, nc)
      if (crashBeforeConsts) return // spec-planted crash point
      nc.write.mode("overwrite").parquet(s"$root/consts")
    } else {
      // touched = users with landed activity INSIDE the indexed window
      val touched = landed
        .filter(expr(s"(day - ${d0}L) div $SegDays") < NumSegs)
        .select(col("user_id")).distinct()
        .localCheckpoint()
      val tBuckets = touched
        .select(userBucketCol(col("user_id")).as("u_bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      if (tBuckets.nonEmpty) {
        // the touched users' OLD band keys, pinned BEFORE the words
        // overwrite below replaces the files they derive from
        val oldWords = s.read.parquet(s"$root/words")
          .filter(col("u_bucket").isin(tBuckets: _*))
          .join(broadcast(touched), Seq("user_id"))
          .select(col("user_id"), col("word"))
          .localCheckpoint()
        val newWords = saxWordsWith(
            s.read.parquet(s"$root/counts")
              .filter(col("u_bucket").isin(tBuckets: _*))
              .join(broadcast(touched), Seq("user_id"))
              .select(col("user_id"), col("day"), col("cnt")),
            s.read.parquet(s"$root/consts"))
          .withColumn("u_bucket", userBucketCol(col("user_id")))
          .localCheckpoint() // feeds the words staging AND the bands delta
        // both derived rewrites stage from the PINNED old/new word
        // frames (never the files the other replaces) and land in
        // disjoint tables — overlap them (guide §2.6). Each side:
        // replace the touched buckets — every untouched user's row
        // survives, every touched user's row is REPLACED (canonical
        // order, stage pinning and the zero-survivor bucket drop all
        // live in the shared verb); bands' affected buckets = the
        // touched users' old ∪ new band keys' buckets
        // (≤ 2·NumSegs·|touched|, listed driver-side)
        AtRest.inParallel(
          () => {
            AtRest.overwriteBuckets(s, s"$root/words", "u_bucket", tBuckets,
              s.read.parquet(s"$root/words")
                .filter(col("u_bucket").isin(tBuckets: _*))
                .join(broadcast(touched), Seq("user_id"), "left_anti")
                .unionByName(newWords))
            ()
          },
          () => {
            val newBands = bandKeys(newWords)
              .withColumn("bb_bucket", saxBandBucketCol(col("b"), col("bk")))
              .select(col("user_id"), col("b"), col("bk"), col("bb_bucket"))
              .localCheckpoint()
            val bBuckets = bandKeys(oldWords)
              .select(saxBandBucketCol(col("b"), col("bk")).as("bb_bucket"))
              .unionByName(newBands.select(col("bb_bucket")))
              .distinct().collect().map(_.getInt(0)).toSeq.sorted
            AtRest.overwriteBuckets(s, s"$root/bands", "bb_bucket", bBuckets,
              s.read.parquet(s"$root/bands")
                .filter(col("bb_bucket").isin(bBuckets: _*))
                .join(broadcast(touched), Seq("user_id"), "left_anti")
                .unionByName(newBands))
            ()
          })
      }
    }
  }

  /** FORGET users from the SAX index (ts12) — the d30 shape on time
    * series, with the family's own wrinkle MIRRORED: ts10's wholesale
    * path fires when an append reaches BEHIND the grid origin; the
    * forget's fires when the origin's OWNER is deleted, shifting d0
    * FORWARD and moving every surviving user's segment mapping.
    * Stages:
    *  1. the deleted users' OLD band keys pin from their words rows
    *     (u-bucket-pruned — the index answers its own targeting);
    *  2. the counts base sweeps (user-bucketed — targets from the
    *     request's ids, all-deleted buckets drop);
    *  3. the origin recounts from the swept base: unchanged → the
    *     deleted users' words/bands rows sweep bucket-scoped; shifted
    *     → the derived tables rebuild wholesale FIRST and consts
    *     persists LAST ([[rebuildSaxDerived]], the documented rare
    *     path) — a crash between the two leaves consts != min(counts),
    *     so the rerun re-enters the rebuild rather than spuriously
    *     passing the shift check; an EMPTIED base (last users deleted)
    *     drops the derived dirs and writes zero-row consts, the marker
    *     [[updateSaxIndex]] re-seeds from.
    * Forget == rebuild-over-survivors on all four artifacts in BOTH
    * regimes (SaxAtRestSpec plants each); idempotent — a clean rerun
    * sweeps nothing and recounts the same origin, and every planted
    * crash point converges by rerun. */
  private[graft] def forgetSaxIndex(s: SparkSession, root: String,
      delUsers: DataFrame, crashBeforeConsts: Boolean = false): Unit = {
    // an already-emptied store (zero-row consts) holds nothing to
    // forget — and its counts/words dirs hold no readable files
    if (saxOrigin(s, root).isEmpty) return
    val ids = delUsers.select(col("user_id")).distinct().localCheckpoint()
    val uBuckets = ids.select(userBucketCol(col("user_id")).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (uBuckets.isEmpty) return
    val fs = AtRest.fsOf(s, root)
    val oldWords = s.read.parquet(s"$root/words")
      .filter(col("u_bucket").isin(uBuckets: _*))
      .join(broadcast(ids), Seq("user_id"))
      .select(col("user_id"), col("word"))
      .localCheckpoint()
    val d0 = saxOrigin(s, root).get
    // 1. the base of record sweeps first
    AtRest.sweepBuckets(s, s"$root/counts", "u_bucket", uBuckets,
      ids, Seq("user_id"))
    // 2. did the deleted users own the grid origin? (FS-listed first:
    // a forget of the LAST users leaves counts with no data files,
    // which no parquet read can infer a schema from)
    val baseEmpty = AtRest.bucketFiles(s, s"$root/counts", "u_bucket")
      .values.forall(_.isEmpty)
    if (baseEmpty) {
      // the index EMPTIED: drop the derived dirs wholesale and mark
      // consts with ZERO rows — never a NULL-d0 row, which every
      // origin read would trip over (the r16 ADVICE emptied arm).
      // The store stays re-seedable: [[updateSaxIndex]] reads the
      // zero-row consts as "no origin" and rebuilds from its batch.
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/words"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/bands"), true)
      s.read.parquet(s"$root/consts").filter(lit(false))
        .localCheckpoint()
        .write.mode("overwrite").parquet(s"$root/consts")
      return
    }
    val nc = recountedOrigin(s, root)
    if (nc.collect()(0).getLong(0) != d0) {
      // origin shifted: every surviving word is relative to the OLD
      // d0 — wholesale rebuild from the swept base. Derived tables
      // FIRST, consts LAST (the r16 ADVICE ordering): a crash between
      // the two leaves consts != min(counts), so the rerun re-enters
      // this branch and repeats the (idempotent) rebuild instead of
      // spuriously passing the shift check and sweeping nothing.
      rebuildSaxDerived(s, root, nc)
      if (crashBeforeConsts) return // spec-planted crash point
      nc.write.mode("overwrite").parquet(s"$root/consts")
    } else {
      // 3. bucket-scoped derived sweeps — disjoint tables, targets
      // from the pinned request/oldWords: overlap (guide §2.6)
      val bBuckets = bandKeys(oldWords)
        .select(saxBandBucketCol(col("b"), col("bk")).as("bb_bucket"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      AtRest.inParallel(
        () => {
          AtRest.sweepBuckets(s, s"$root/words", "u_bucket", uBuckets,
            ids, Seq("user_id"))
          ()
        },
        () => {
          AtRest.sweepBuckets(s, s"$root/bands", "bb_bucket", bBuckets,
            ids, Seq("user_id"))
          ()
        })
    }
  }

  /** TS12 — FORGET USERS FROM THE AT-REST SAX INDEX: build the full
    * index, EXECUTE the c4/c6 delete cohort ([[forgetSaxIndex]]), and
    * serve ts5's Hamming-1 k-NN from what remains. The oracle is
    * ts5's SQL over the SURVIVING users — and because SAX words are
    * defined relative to the corpus-min grid origin, the oracle's
    * dmin is the survivors' min too: when the cohort owned the
    * origin, the files must hold wholly re-derived words, which the
    * wholesale path provides (SaxAtRestSpec plants both regimes).
    *
    * 100 TB plan: the common case touches the cohort's user buckets
    * of counts/words plus its old band-key buckets — request-sized
    * IO; the origin-shift case is the documented rare rebuild, the
    * exact mirror of ts10's behind-the-origin append. */
  def saxForget(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/saxidx12"
    val c = dayCounts(s, dir)
    writeSaxIndex(s, root, c)
    forgetSaxIndex(s, root,
      c.filter(col("user_id") % TextOps.ForgetMod === TextOps.ForgetRem)
        .select(col("user_id")).distinct())
    saxServeFrom(s, root)
  }

  /** Crash recovery: origin and derived tables RECOUNT from the
    * at-rest base (counts → consts → words → bands) — the heal-by-
    * recount discipline. A crash between the base append and the
    * derived rewrites leaves them stale, never wrong; rerunning the
    * update (a row-level no-op) then this heal restores the exact
    * rebuilt state. */
  private[graft] def healSaxIndex(s: SparkSession, root: String): Unit = {
    val nc = recountedOrigin(s, root)
    rebuildSaxDerived(s, root, nc)
    AtRest.healDerived(s, s"$root/consts", nc)
  }

  /** ts9's serve core: ts5's Hamming-1 k-NN with BOTH index reads
    * replaced by the written files —
    *   - the probe's band keys derive from its OWN words row, read
    *     with a STATIC u_bucket literal (driver-computable from
    *     [[ProbeUser]] alone);
    *   - candidates come from the at-rest `bands` with the broadcast
    *     probe joined on the BARE bb_bucket partition attribute →
    *     dynamic partition pruning reads only the probe's band
    *     buckets;
    *   - the exact-SSE verify fetches ONLY the candidates' (plus the
    *     probe's) series from `counts`, DPP-pruned by user bucket
    *     (x30's two-stage fetch shape — PlanContractSpec pins both
    *     dynamicpruning filters).
    * The verify tail is [[seriesKnnCore]] unchanged, so the output is
    * BIT-IDENTICAL to ts5 (oracle verbatim). */
  private[graft] def saxServeFrom(s: SparkSession, root: String): DataFrame = {
    val probeBucket = (ProbeUser % SaxUserBuckets).toInt
    val probeBands = bandKeys(
        s.read.parquet(s"$root/words")
          .filter(col("u_bucket") === probeBucket)
          .filter(col("user_id") === ProbeUser))
      .select(col("b").as("p_b"), col("bk").as("p_bk"))
      .withColumn("p_bucket", saxBandBucketCol(col("p_b"), col("p_bk")))
      // load-bearing selective predicate (x17's lesson): without a
      // visible comparison the PartitionPruning rule never inserts
      // the pruning subquery
      .filter(col("p_bucket") >= 0)
    val cand = s.read.parquet(s"$root/bands")
      .join(broadcast(probeBands),
        col("bb_bucket") === col("p_bucket") && col("b") === col("p_b") &&
          col("bk") === col("p_bk"))
      .filter(col("user_id") =!= ProbeUser)
      .select(col("user_id")).distinct()
    // two fetch arms, because a Union on the BUILD side would block
    // the PartitionPruning rule: the candidates DPP-prune the counts
    // read, the probe's own series reads its one bucket STATICALLY
    // (both literals driver-computable)
    val want = cand
      .select(col("user_id").as("w_user"),
        userBucketCol(col("user_id")).as("w_bucket"))
      .filter(col("w_bucket") >= 0) // same load-bearing domain constraint
    val cc = s.read.parquet(s"$root/counts")
      .join(broadcast(want),
        col("u_bucket") === col("w_bucket") && col("user_id") === col("w_user"))
      .select(col("user_id"), col("day"), col("cnt"))
      .unionByName(s.read.parquet(s"$root/counts")
        .filter(col("u_bucket") === probeBucket &&
          col("user_id") === ProbeUser)
        .select(col("user_id"), col("day"), col("cnt")))
    // the verify core reads its counts frame three times (energies,
    // probe slice, cross term) — persist the tiny candidate-restricted
    // fetch so the band probe runs once (the ts5 convention)
    CacheScope.persist(cc)
    seriesKnnCore(cc)
  }

  /** TS9 — SAX k-NN SERVED FROM THE AT-REST INDEX: ts5's banded probe
    * + exact-integer verify with the index side replaced by the
    * WRITTEN files. BUILD pays the words/bands derivation once at
    * ingest ([[writeSaxIndex]]); the serve reads the probe's word
    * statically pruned, the candidate bands and the verify series
    * dynamically pruned. Output BIT-IDENTICAL to ts5 (oracle
    * verbatim, the ir15 path-substitution convention).
    *
    * 100 TB plan: a probe reads ≤ [[NumSegs]] of [[SaxBandBuckets]]
    * band directories plus ≤ |candidates| of [[SaxUserBuckets]] count
    * buckets — corpus-size-independent serve IO; the population is
    * never re-worded per query. */
  def saxKnnAtRest(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/saxidx9"
    writeSaxIndex(s, root, dayCounts(s, dir))
    saxServeFrom(s, root)
  }

  /** The multi-probe serve's cohort: users 0..NumProbes-1 — the
    * serving-frontend batch (probes are DATA, ir20's convention). */
  val NumProbes = 3

  /** TS11 — MULTI-PROBE SAX k-NN: a BATCH of probe users served from
    * the at-rest index in ONE plan — ir20's term-as-data discipline
    * transplanted to time series (ts9 serves one hard-wired probe; a
    * serving frontend gets a workload). The probes' own words read
    * with a STATIC user-bucket list (the cohort is known at plan
    * time), their ≤ NumProbes × [[NumSegs]] band keys broadcast onto
    * the at-rest bands (DPP), the candidates' series fetch
    * DPP-pruned by user bucket, and every (probe, candidate) pair
    * verifies by ts1's exact integer SSE — energies + one
    * day-equi-join dot per pair, never a dense grid. Per-probe top-k
    * is a rank window PARTITIONED by probe (WindowGroupLimit prunes
    * map-side).
    *
    * 100 TB plan: per-workload serve IO = the probes' count/word
    * buckets (static) plus the candidates' count buckets (dynamic) —
    * corpus-fraction bounded by band occupancy × probes; the
    * population is never re-worded, and adding probes grows only the
    * broadcast side. Oracle: the banded candidate rule is EXACT for
    * symbol-Hamming ≤ 1 (pigeonhole), so the SQL twin restates it
    * relationally per probe. */
  def saxMultiProbe(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/saxidx11"
    writeSaxIndex(s, root, dayCounts(s, dir))
    val pBuckets = (0 until NumProbes).map(_ % SaxUserBuckets).distinct
    val pBands = bandKeys(
        s.read.parquet(s"$root/words")
          .filter(col("u_bucket").isin(pBuckets: _*))
          .filter(col("user_id") < NumProbes))
      .select(col("user_id").as("p_user"), col("b").as("p_b"),
        col("bk").as("p_bk"))
      .withColumn("p_bucket", saxBandBucketCol(col("p_b"), col("p_bk")))
      // load-bearing selective predicate (x17's lesson)
      .filter(col("p_bucket") >= 0)
    val cand = s.read.parquet(s"$root/bands")
      .join(broadcast(pBands),
        col("bb_bucket") === col("p_bucket") && col("b") === col("p_b") &&
          col("bk") === col("p_bk"))
      .filter(col("user_id") =!= col("p_user"))
      .select(col("p_user"), col("user_id")).distinct()
    // pair list and both count fetches feed multiple verify arms —
    // persist the broadcast-sized frames (the ts5 convention)
    CacheScope.persist(cand)
    val want = cand.select(col("user_id").as("w_user")).distinct()
      .withColumn("w_bucket", userBucketCol(col("w_user")))
      .filter(col("w_bucket") >= 0) // same load-bearing domain constraint
    val candCounts = s.read.parquet(s"$root/counts")
      .join(broadcast(want),
        col("u_bucket") === col("w_bucket") && col("user_id") === col("w_user"))
      .select(col("user_id"), col("day"), col("cnt"))
    CacheScope.persist(candCounts)
    val probeCounts = s.read.parquet(s"$root/counts")
      .filter(col("u_bucket").isin(pBuckets: _*) &&
        col("user_id") < NumProbes)
      .select(col("user_id").as("p_user"), col("day"), col("cnt").as("cp"))
    CacheScope.persist(probeCounts)
    val pu = candCounts.groupBy(col("user_id"))
      .agg(sum(col("cnt") * col("cnt")).as("sum_sq"),
        count(lit(1)).as("n_days"))
    val pe = probeCounts.groupBy(col("p_user"))
      .agg(sum(col("cp") * col("cp")).as("sum_sq_p"))
    val dots = cand
      .join(candCounts, Seq("user_id"))
      .join(broadcast(probeCounts), Seq("p_user", "day"))
      .groupBy(col("p_user"), col("user_id"))
      .agg(sum(col("cnt") * col("cp")).as("dot"))
    val f = cand
      .join(pu, Seq("user_id"))
      .join(broadcast(pe), Seq("p_user"))
      .join(dots, Seq("p_user", "user_id"), "left")
      .withColumn("dot", coalesce(col("dot"), lit(0L)))
      .withColumn("sse",
        col("sum_sq") + col("sum_sq_p") - lit(2L) * col("dot"))
    f.withColumn("rank", row_number().over(
        Window.partitionBy(col("p_user"))
          .orderBy(col("sse").asc, col("user_id"))))
      .filter(col("rank") <= TopK)
      .select(col("p_user"), col("rank"), col("user_id"), col("sse"),
        col("dot"), col("sum_sq"), col("n_days"))
      .transform(Common.presented(_, col("p_user"), col("rank")))
  }

  /** TS10 — MAINTAINED SAX INDEX: the first at-rest family whose
    * maintenance must UPDATE derived facts rather than append. The
    * standing index builds from the days outside the re-ingest slice;
    * the batch (a scattered set of whole days — the adversarial case
    * for derived-fact maintenance, touching many users at once) folds
    * in through [[updateSaxIndex]]: counts append exactly-once, the
    * touched users' words RECOMPUTE and their buckets alone rewrite,
    * the bands follow. The registered output is ts4's index dump
    * served from the MAINTAINED words table, which must equal the
    * full-rebuild words bit-exactly (update == rebuild; the oracle is
    * ts4's SQL verbatim).
    *
    * 100 TB plan: daily maintenance cost tracks the batch's TOUCHED
    * users (days beyond the indexed window touch nobody), never the
    * population; the wholesale path exists only for a batch that
    * reaches behind the grid origin. */
  def saxIndexMaintained(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/saxidx10"
    val c = cachedCounts(s, dir)
    // whole-day split with the origin pinned to the standing side (a
    // batch behind the origin is the wholesale path, spec'd separately)
    val dmin = c.agg(min(col("day")).as("dmin0"))
    val standing = c.crossJoin(broadcast(dmin))
      .filter(col("day") === col("dmin0") ||
        pmod(col("day"), lit(5L)) =!= 0)
      .select(col("user_id"), col("day"), col("cnt"))
    val batch = c.crossJoin(broadcast(dmin))
      .filter(col("day") =!= col("dmin0") &&
        pmod(col("day"), lit(5L)) === 0)
      .select(col("user_id"), col("day"), col("cnt"))
    writeSaxIndex(s, root, standing)
    updateSaxIndex(s, root, batch)
    saxIndexTail(s.read.parquet(s"$root/words")
      .select(col("user_id"), col("word"), col("n_active_segs")))
  }

  private def daySql = s"epoch_ns(ts) // ${WindowOps.DayNanos}"

  /** Shared ts4/ts5 oracle prefix: counts → segments → symbols → packed
    * words (the SQL twin of [[saxWords]]). */
  private val saxWordSql =
    s"""c AS (SELECT user_id, $daySql AS day, count(*) AS cnt
       |           FROM events GROUP BY user_id, ($daySql)),
       |dmin AS (SELECT min(day) AS d0 FROM c),
       |seg AS (SELECT user_id, (day - d0) // $SegDays AS seg,
       |               CAST(sum(cnt) AS BIGINT) AS ssum
       |        FROM c, dmin WHERE (day - d0) // $SegDays < $NumSegs
       |        GROUP BY user_id, (day - d0) // $SegDays),
       |sym AS (SELECT user_id, seg,
       |               CASE WHEN ssum >= $BpHigh THEN 3
       |                    WHEN ssum >= $BpMid THEN 2 ELSE 1 END AS s
       |        FROM seg),
       |words AS (SELECT user_id,
       |                 CAST(sum(s * (CAST(1 AS BIGINT) << CAST(2 * seg AS INT))) AS BIGINT) AS word,
       |                 count(*) AS n_active_segs
       |          FROM sym GROUP BY user_id)""".stripMargin

  /** ts4's oracle — and verbatim ts10's (the maintained at-rest serve
    * is bit-identical by the update == rebuild contract). */
  private val TsIndexOracle =
    s"""WITH $saxWordSql,
       |b AS (SELECT word, count(*) AS n_bucket FROM words GROUP BY word),
       |p AS (SELECT word AS pw FROM words WHERE user_id = $ProbeUser)
       |SELECT user_id, word, n_active_segs, n_bucket,
       |       CASE WHEN word = pw THEN 1 ELSE 0 END AS is_probe_bucket
       |FROM words JOIN b USING (word), p
       |ORDER BY user_id""".stripMargin

  /** ts5's oracle — and verbatim ts9's (the at-rest serve is
    * bit-identical by the ir15 path-substitution convention). */
  private val TsKnnOracle =
    s"""WITH $saxWordSql,
       |bands AS (SELECT user_id, b,
       |                 word - (((word >> CAST(2 * b AS INT)) & 3)
       |                         << CAST(2 * b AS INT)) AS bk
       |          FROM words,
       |               (SELECT CAST(unnest(range($NumSegs)) AS BIGINT) AS b) bb),
       |cand AS (SELECT DISTINCT x.user_id FROM bands x
       |         JOIN bands pb ON pb.user_id = $ProbeUser
       |                      AND x.b = pb.b AND x.bk = pb.bk
       |         WHERE x.user_id <> $ProbeUser),
       |cc AS (SELECT * FROM c
       |       WHERE user_id IN (SELECT user_id FROM cand)
       |          OR user_id = $ProbeUser),
       |pu AS (SELECT user_id, CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq,
       |              count(*) AS n_days
       |       FROM cc GROUP BY user_id),
       |probe AS (SELECT day, cnt AS cp FROM cc WHERE user_id = $ProbeUser),
       |pe AS (SELECT CAST(sum(cp * cp) AS BIGINT) AS sum_sq_p FROM probe),
       |dots AS (SELECT user_id, CAST(sum(cnt * cp) AS BIGINT) AS dot
       |         FROM cc JOIN probe USING (day)
       |         WHERE user_id <> $ProbeUser GROUP BY user_id),
       |f AS (SELECT pu.user_id, coalesce(dot, 0) AS dot, sum_sq, n_days,
       |             sum_sq + sum_sq_p - 2 * coalesce(dot, 0) AS sse
       |      FROM pu LEFT JOIN dots ON dots.user_id = pu.user_id, pe
       |      WHERE pu.user_id <> $ProbeUser),
       |top AS (SELECT * FROM f ORDER BY sse ASC, user_id LIMIT $TopK)
       |SELECT CAST(row_number() OVER (ORDER BY sse ASC, user_id) AS INT) AS rank,
       |       user_id, sse, dot, sum_sq, n_days
       |FROM top ORDER BY rank""".stripMargin

  val oracles: Map[String, String] = Map(
    // ts9 serves ts5 from the written index and ts10 serves ts4 from
    // the maintained words table — BIT-IDENTICAL by contract, so the
    // oracles are ts5's/ts4's SQL verbatim (the ir15 convention: the
    // index is a layout, not a semantics)
    "ts9_sax_atrest" -> TsKnnOracle,
    // ts12: build∘forget∘serve == ts5 over the SURVIVORS — the one
    // FROM events site carries the cohort filter, so the oracle's
    // grid origin (dmin) is the survivors' min exactly as the forget's
    // origin-shift path re-derives it
    "ts12_sax_forget" -> TsKnnOracle.replace("FROM events",
      s"FROM events WHERE user_id % ${TextOps.ForgetMod} <> ${TextOps.ForgetRem}"),
    "ts10_sax_maintained" -> TsIndexOracle,
    // ts11: the per-probe banded candidate rule (exact for
    // symbol-Hamming <= 1 by pigeonhole) + ts1's integer SSE verify,
    // generalized over the probe cohort with per-probe top-k
    "ts11_sax_multiprobe" ->
      s"""WITH $saxWordSql,
         |bands AS (SELECT user_id, b,
         |                 word - (((word >> CAST(2 * b AS INT)) & 3)
         |                         << CAST(2 * b AS INT)) AS bk
         |          FROM words,
         |               (SELECT CAST(unnest(range($NumSegs)) AS BIGINT) AS b) bb),
         |cand AS (SELECT DISTINCT pb.user_id AS p_user, x.user_id
         |         FROM bands x
         |         JOIN bands pb ON pb.user_id < $NumProbes
         |                      AND x.b = pb.b AND x.bk = pb.bk
         |         WHERE x.user_id <> pb.user_id),
         |pu AS (SELECT user_id, CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq,
         |              count(*) AS n_days
         |       FROM c GROUP BY user_id),
         |pc AS (SELECT user_id AS p_user, day, cnt AS cp FROM c
         |       WHERE user_id < $NumProbes),
         |pe AS (SELECT p_user, CAST(sum(cp * cp) AS BIGINT) AS sum_sq_p
         |       FROM pc GROUP BY p_user),
         |dots AS (SELECT cd.p_user, cd.user_id,
         |                CAST(sum(c.cnt * pc.cp) AS BIGINT) AS dot
         |         FROM cand cd
         |         JOIN c ON c.user_id = cd.user_id
         |         JOIN pc ON pc.p_user = cd.p_user AND pc.day = c.day
         |         GROUP BY cd.p_user, cd.user_id),
         |f AS (SELECT cd.p_user, cd.user_id, coalesce(dot, 0) AS dot,
         |             sum_sq, n_days,
         |             sum_sq + sum_sq_p - 2 * coalesce(dot, 0) AS sse
         |      FROM cand cd
         |      JOIN pu ON pu.user_id = cd.user_id
         |      JOIN pe ON pe.p_user = cd.p_user
         |      LEFT JOIN dots ON dots.p_user = cd.p_user
         |                    AND dots.user_id = cd.user_id),
         |rk AS (SELECT p_user, user_id, sse, dot, sum_sq, n_days,
         |              CAST(row_number() OVER (PARTITION BY p_user
         |                     ORDER BY sse ASC, user_id) AS INT) AS rank
         |       FROM f)
         |SELECT p_user, rank, user_id, sse, dot, sum_sq, n_days
         |FROM rk WHERE rank <= $TopK ORDER BY p_user, rank""".stripMargin,
    // ts8: sparse window generation restated via the offset unnest;
    // every compared value is integer (words, counts, occupancies)
    "ts8_sax_discord" -> {
      val symSql = (i: Int) =>
        s"CASE WHEN c$i >= $DayBpHigh THEN 3 WHEN c$i >= $DayBpMid THEN 2 " +
          s"WHEN c$i IS NOT NULL THEN 1 ELSE 0 END"
      val slotSums = (0 until DiscordLen).map(i =>
        s"CAST(sum(CASE WHEN off = $i THEN cnt END) AS BIGINT) AS c$i")
        .mkString(",\n       |               ")
      s"""WITH c AS (SELECT user_id, $daySql AS day, count(*) AS cnt
         |           FROM events GROUP BY user_id, ($daySql)),
         |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
         |sl AS (SELECT user_id, (day - d0) - u.off AS wstart,
         |              CAST(u.off AS INT) AS off, cnt
         |       FROM c, b, unnest(range($DiscordLen)) AS u(off)
         |       WHERE (day - d0) - u.off >= 0
         |         AND (day - d0) - u.off <= (d1 - d0) - ${DiscordLen - 1}),
         |w AS (SELECT user_id, wstart,
         |               $slotSums
         |      FROM sl GROUP BY user_id, wstart),
         |w2 AS (SELECT user_id, wstart,
         |              CAST(${(0 until DiscordLen)
                  .map(i => s"(${symSql(i)}) * ${1L << (2 * i)}")
                  .mkString(" + ")} AS BIGINT) AS word,
         |              ${(0 until DiscordLen)
                  .map(i => s"coalesce(c$i, 0) AS c$i").mkString(", ")}
         |       FROM w),
         |w3 AS (SELECT *, count(*) OVER (PARTITION BY word) AS n_bucket
         |       FROM w2),
         |top AS (SELECT * FROM w3
         |        ORDER BY n_bucket, word, user_id, wstart LIMIT $TopK)
         |SELECT CAST(row_number() OVER (ORDER BY n_bucket, word, user_id,
         |              wstart) AS INT) AS rank,
         |       user_id, wstart, word, n_bucket,
         |       ${(0 until DiscordLen).map(i => s"c$i").mkString(", ")}
         |FROM top ORDER BY rank""".stripMargin
    },
    "ts7_changepoint" ->
      s"""WITH daily AS (SELECT event_type, $daySql AS day, count(*) AS cnt
         |               FROM events GROUP BY event_type, ($daySql)),
         |st AS (SELECT *, count(*) OVER (PARTITION BY event_type) AS n_days,
         |              CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
         |                AS total
         |       FROM daily),
         |cu AS (SELECT *, CAST(sum(cnt * n_days - total)
         |                       OVER (PARTITION BY event_type ORDER BY day
         |                             ROWS BETWEEN UNBOUNDED PRECEDING
         |                             AND CURRENT ROW) AS BIGINT) AS cusum
         |       FROM st)
         |SELECT event_type, day AS peak_day, cusum AS peak_cusum,
         |       n_days, total
         |FROM cu
         |QUALIFY row_number() OVER (PARTITION BY event_type
         |                           ORDER BY abs(cusum) DESC, day) = 1
         |ORDER BY event_type""".stripMargin,
    "ts6_lead_lag" ->
      s"""WITH c AS (SELECT user_id, $daySql AS day, count(*) AS cnt
         |           FROM events GROUP BY user_id, ($daySql)),
         |aligned AS (SELECT pd - lag AS day, cp, lag
         |            FROM (SELECT day AS pd, cnt AS cp FROM c
         |                  WHERE user_id = $ProbeUser) p
         |            CROSS JOIN (SELECT CAST(unnest(range(-$MaxLag, ${MaxLag + 1})) AS BIGINT) AS lag) l),
         |dots AS (SELECT user_id, lag,
         |                CAST(sum(cnt * cp) AS BIGINT) AS dot,
         |                count(*) AS n_overlap
         |         FROM c JOIN aligned USING (day)
         |         WHERE user_id <> $ProbeUser
         |         GROUP BY user_id, lag)
         |SELECT user_id, CAST(lag AS INT) AS best_lag, dot AS best_dot,
         |       n_overlap
         |FROM dots
         |QUALIFY row_number() OVER (PARTITION BY user_id
         |                           ORDER BY dot DESC, abs(lag), lag) = 1
         |ORDER BY user_id""".stripMargin,
    "ts4_sax_index" -> TsIndexOracle,
    "ts5_sax_knn" -> TsKnnOracle,
    "ts1_series_knn" ->
      s"""WITH c AS (SELECT user_id, $daySql AS day, count(*) AS cnt
         |           FROM events GROUP BY user_id, ($daySql)),
         |pu AS (SELECT user_id, CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq,
         |              count(*) AS n_days
         |       FROM c GROUP BY user_id),
         |probe AS (SELECT day, cnt AS cp FROM c WHERE user_id = $ProbeUser),
         |pe AS (SELECT CAST(sum(cp * cp) AS BIGINT) AS sum_sq_p FROM probe),
         |dots AS (SELECT user_id, CAST(sum(cnt * cp) AS BIGINT) AS dot
         |         FROM c JOIN probe USING (day)
         |         WHERE user_id <> $ProbeUser GROUP BY user_id),
         |f AS (SELECT pu.user_id, coalesce(dot, 0) AS dot, sum_sq, n_days,
         |             sum_sq + sum_sq_p - 2 * coalesce(dot, 0) AS sse
         |      FROM pu LEFT JOIN dots ON dots.user_id = pu.user_id, pe
         |      WHERE pu.user_id <> $ProbeUser),
         |top AS (SELECT * FROM f ORDER BY sse ASC, user_id LIMIT $TopK)
         |SELECT CAST(row_number() OVER (ORDER BY sse ASC, user_id) AS INT) AS rank,
         |       user_id, sse, dot, sum_sq, n_days
         |FROM top ORDER BY rank""".stripMargin,
    "ts3_seasonality" ->
      s"""WITH daily AS (SELECT event_type, $daySql AS day, count(*) AS cnt
         |               FROM events GROUP BY event_type, ($daySql)),
         |lagged AS (SELECT a.event_type, l.lag,
         |                  CAST(sum(a.cnt * b.cnt) AS BIGINT) AS rnum,
         |                  count(*) AS n_pairs
         |           FROM daily a
         |           CROSS JOIN (SELECT CAST(unnest(range(1, ${MaxLag + 1})) AS BIGINT) AS lag) l
         |           JOIN daily b ON b.event_type = a.event_type
         |                       AND b.day = a.day + l.lag
         |           GROUP BY a.event_type, l.lag)
         |SELECT event_type, CAST(lag AS INT) AS lag, rnum, n_pairs,
         |       CASE WHEN row_number() OVER (PARTITION BY event_type
         |                                    ORDER BY rnum DESC, lag) = 1
         |            THEN 1 ELSE 0 END AS is_peak
         |FROM lagged ORDER BY event_type, lag""".stripMargin,
    "ts2_motif_match" ->
      s"""WITH c AS (SELECT user_id, $daySql AS day, count(*) AS cnt
         |           FROM events GROUP BY user_id, ($daySql)),
         |probe AS (SELECT day, cnt FROM c WHERE user_id = $ProbeUser),
         |pm AS (SELECT max(day) AS pmax FROM probe),
         |offs AS (SELECT CAST(unnest(range($MotifLen)) AS BIGINT) AS i),
         |motif AS (SELECT i, CAST(coalesce(cnt, 0) AS BIGINT) AS m
         |          FROM (SELECT i, pmax - (${MotifLen - 1} - i) AS md
         |                FROM offs, pm) o
         |          LEFT JOIN probe ON probe.day = o.md),
         |msq AS (SELECT CAST(sum(m * m) AS BIGINT) AS msq FROM motif),
         |win AS (SELECT user_id, day - i AS wstart,
         |               CAST(sum((cnt - m) * (cnt - m) - m * m) AS BIGINT) AS delta
         |        FROM c CROSS JOIN motif
         |        WHERE user_id <> $ProbeUser
         |        GROUP BY user_id, day - i),
         |best AS (SELECT user_id, wstart AS best_start, msq + delta AS sse
         |         FROM win, msq
         |         QUALIFY row_number() OVER (PARTITION BY user_id
         |                                    ORDER BY msq + delta ASC, wstart) = 1),
         |top AS (SELECT * FROM best ORDER BY sse ASC, user_id LIMIT $TopK)
         |SELECT CAST(row_number() OVER (ORDER BY sse ASC, user_id) AS INT) AS rank,
         |       user_id, best_start, sse
         |FROM top ORDER BY rank""".stripMargin)
}
