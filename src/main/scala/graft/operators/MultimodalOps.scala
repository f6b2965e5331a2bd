package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal-column operators (builder brief; no reference analog).
  *
  * Media payloads are opaque `binary` columns with a typed metadata
  * struct alongside — the 100 TB design keeps bytes and metadata in one
  * row so a scan that only needs metadata prunes the (huge) binary
  * column away for free, while decode stages read both. The harness has
  * no image/audio libraries, so the DECODE step is a clearly-marked
  * deterministic STUB ([[StubCodec]]); everything around it — schema,
  * batch iteration shape, partition-parallel execution, typed Encoders —
  * is real and tested.
  *
  * The synthetic media table derives from `events`: `props` bytes play
  * the payload, `event_type` picks the modality, frame counts come from
  * event arithmetic — deterministic on both engines.
  */
object MultimodalOps {

  /** Fixed sampling stride for [[frameSample]] (one frame per second of
    * 30 fps video). */
  val FrameStep = 30

  /** Synthetic media table: one row per event.
    *   - kind:  click→image, view→video, else audio
    *   - payload: UTF-8 bytes of `props` (opaque binary stand-in)
    *   - n_frames: video length proxy, 1 + event_id % 240
    */
  def media(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id").as("media_id"),
      when(col("event_type") === "click", lit("image"))
        .when(col("event_type") === "view", lit("video"))
        .otherwise(lit("audio")).as("kind"),
      encode(col("props"), "UTF-8").as("payload"),
      struct(
        (lit(1) + col("event_id") % 240).cast("int").as("n_frames"),
        (col("event_id") % 1000).cast("int").as("width"),
        (col("event_id") % 800).cast("int").as("height")).as("meta"))

  /** M1 — metadata projection over binary payloads: byte length and a
    * content digest, no decode. Catalyst prunes `payload` reads down to
    * this projection — the metadata-only scan pattern. */
  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    media(s, dir).select(
      col("media_id"), col("kind"),
      length(col("payload")).as("n_bytes"),
      md5(col("payload")).as("digest"),
      col("meta.n_frames").as("n_frames"))
      .transform(Common.presented(_, col("media_id")))

  /** M2 — frame sampling: videos explode to one row per sampled frame
    * index (stride [[FrameStep]]) — the shape a frame-extract UDF stage
    * consumes. Narrow (generator, no shuffle). */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .filter(col("kind") === "video")
      .select(col("media_id"), col("meta.n_frames").as("n_frames"),
        posexplode(sequence(lit(0), col("meta.n_frames") - 1, lit(FrameStep))))
      .select(col("media_id"), col("n_frames"), col("pos").as("sample_seq"),
        col("col").as("frame_idx"))
      .transform(Common.presented(_, col("media_id"), col("sample_seq")))

  /** M5 — exact dedup of media payloads per modality: d1's
    * hash-groupBy over the BINARY column (re-encoded assets, mirrored
    * uploads and re-crawled media are byte-identical far more often
    * than text is). One shuffle on (kind, digest) with map-side
    * partial agg; the payload bytes never cross the exchange — only
    * the 32-char digest does, which is the whole point of hashing
    * before grouping at 100 TB. */
  def mediaDedup(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .groupBy(col("kind"), mediaDigest.as("digest"))
      .agg(min(col("media_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        max(length(col("payload"))).as("n_bytes"))
      .transform(Common.presented(_, col("kind"), col("keep_id")))

  /** m5's dedup key over a `payload` column — ONE definition shared by
    * the batch groupBy and the streaming stateful-dedup binding
    * (MultimodalOpsSpec), so a digest change cannot desynchronize
    * them. */
  private[graft] def mediaDigest: Column = md5(col("payload"))

  /** One decoded-media feature row (what a real image/audio decoder
    * would emit per payload). */
  case class MediaFeature(
      media_id: Long, kind: String, n_bytes: Int, checksum: Long,
      feature: Array[Float])

  /** Decode interface. Real deployments plug an image/audio codec in;
    * the harness container has none, so [[StubCodec]] stands in. */
  trait MediaCodec extends Serializable {
    def decode(mediaId: Long, kind: String, payload: Array[Byte]): MediaFeature
  }

  /** STUB: deterministic fake decode — byte sum as checksum, first 4
    * bytes scaled to [0,1) as the "feature vector". Replace with a real
    * codec (JavaCV / TwelveMonkeys / soundlibs) outside the harness. */
  object StubCodec extends MediaCodec {
    def decode(mediaId: Long, kind: String, payload: Array[Byte]): MediaFeature = {
      var sum = 0L
      var i = 0
      while (i < payload.length) { sum += payload(i) & 0xff; i += 1 }
      val feat = payload.take(4).map(b => (b & 0xff) / 256.0f)
      MediaFeature(mediaId, kind, payload.length, sum, feat)
    }
  }

  /** M3 — partition-parallel decode: the Spark-side plumbing for a
    * decode/feature-extract stage. `mapPartitions` keeps one codec
    * instance per partition (real codecs are expensive to init) and
    * streams rows through it — the Scala analog of a batched Pandas-UDF
    * stage; swap [[StubCodec]] via the `codec` parameter. */
  def decodeFeatures(s: SparkSession, dir: String,
      codec: MediaCodec = StubCodec): Dataset[MediaFeature] = {
    import s.implicits._
    media(s, dir)
      .select(col("media_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        val c = codec // one instance per partition
        it.map { case (id, kind, bytes) => c.decode(id, kind, bytes) }
      }
  }

  /** M3 as a registered query. The `mapPartitions` stage itself is not
    * SQL, but the stub's byte-sum/length outputs ARE deterministic and
    * restatable as ascii-sum arithmetic — the oracle below does exactly
    * that, and the unit spec pins the checksum contract too. */
  def decodeStub(s: SparkSession, dir: String): DataFrame =
    decodeFeatures(s, dir).toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"), col("checksum"))
      .transform(Common.presented(_, col("media_id")))

  /** Resize target (longest edge). */
  val FitEdge = 256

  /** M4 — resize planning: aspect-fit target dimensions from the typed
    * metadata, integer math only (floor-div by the longest edge;
    * degenerate 0-dims clamp via greatest(...,1)). The pixel-level
    * resample itself belongs to the codec stage — [[downsampleBytes]]
    * carries its Spark-side plumbing. */
  def resizePlan(s: SparkSession, dir: String): DataFrame = {
    val w = col("meta.width")
    val h = col("meta.height")
    val longest = greatest(w, h, lit(1))
    media(s, dir)
      .filter(col("kind") =!= "audio")
      .select(col("media_id"), col("kind"), w.as("width"), h.as("height"),
        when(w <= FitEdge && h <= FitEdge, w)
          .otherwise(expr(s"meta.width * $FitEdge div greatest(meta.width, meta.height, 1)"))
          .cast("int").as("target_w"),
        when(w <= FitEdge && h <= FitEdge, h)
          .otherwise(expr(s"meta.height * $FitEdge div greatest(meta.width, meta.height, 1)"))
          .cast("int").as("target_h"))
      .transform(Common.presented(_, col("media_id")))
  }

  /** Byte-level downsample (the resample stage a real codec would do):
    * keep every stride-th byte so payloads cap at `maxBytes` —
    * deterministic, partition-parallel, same `mapPartitions` shape as
    * [[decodeFeatures]]. Unit-tested (ByteOps are not SQL-restatable in
    * the oracle dialect at reasonable cost). */
  def downsampleBytes(s: SparkSession, dir: String, maxBytes: Int): DataFrame = {
    import s.implicits._
    media(s, dir)
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val stride = math.max(1, (bytes.length + maxBytes - 1) / maxBytes)
        val out = Array.range(0, bytes.length, stride).map(bytes)
        (id, out, bytes.length, out.length)
      })
      .toDF("media_id", "payload", "orig_bytes", "new_bytes")
  }

  /** M6 — perceptual NEAR-dup of media: the fuzzy stage after M5's
    * exact dedup, mirroring the text pipeline's d1→d3b laddering.
    * Byte-identical copies first collapse to ONE representative per
    * (kind, digest) — this is what keeps the banded join out of
    * quadratic territory on duplicate-heavy media (every identical
    * payload shares a signature, so skipping this step would put whole
    * copy-groups into one LSH bucket). Representatives then compare by
    * banded hamming over a 60-bit perceptual signature, d3b's exact
    * pigeonhole machinery (4×15-bit bands recall every pair at hamming
    * ≤ 3), kind-scoped so image/audio/video never cross-match. The
    * signature derives from the STUB decode (payload → UTF-8 token
    * stream → [[graft.functions.SimHashLong]]); a real deployment
    * swaps the token stream for decoded DCT/chroma features — the
    * representative-collapse, banding and recall guarantee are the
    * production part. */
  def mediaNearDup(s: SparkSession, dir: String): DataFrame =
    phashPairs(phashChunks(s, dir))
      .transform(Common.presented(_, col("kind"), col("a"), col("b")))

  /** m6's band-chunk rows (kind, rep_id, n_copies, phash, band,
    * chunk): byte-identical copies collapse to one representative per
    * (kind, digest), the 60-bit perceptual signature splits into
    * d3b's 4×15-bit pigeonhole bands. ONE definition — m6 audits this
    * frame in memory, m7 WRITES it as the at-rest index. */
  /** The 60-bit perceptual signature of a `payload` column — ONE
    * definition for the build, the probe and the takedown's
    * request-side facts. */
  private[graft] def phashCol: Column = {
    import org.apache.spark.sql.GraftSqlBridge
    import graft.functions.TextFunctions.tokens
    GraftSqlBridge.column(graft.functions.SimHashLong(
      GraftSqlBridge.expression(tokens(decode(col("payload"), "UTF-8"))),
      DedupOps.Simhash60Bits))
  }

  /** The collapsed representative rows (kind, digest, rep_id,
    * n_copies, phash) of any media frame — byte-identical copies
    * collapse to min-id reps; the group key is (kind, digest). */
  private[graft] def mediaReps(med: DataFrame): DataFrame =
    med.select(col("media_id"), col("kind"),
        md5(col("payload")).as("digest"), phashCol.as("phash"))
      .groupBy(col("kind"), col("digest"))
      .agg(min(col("media_id")).as("rep_id"),
        count(lit(1)).as("n_copies"),
        min(col("phash")).as("phash")) // identical payloads → identical phash

  private[graft] def phashChunks(s: SparkSession, dir: String): DataFrame =
    repChunks(mediaReps(media(s, dir)).drop("digest"))

  /** A representative's 4 pigeonhole band-chunk rows — split from
    * [[phashChunks]] so a STREAMED probe can expand already-collapsed
    * rep rows per micro-batch (StreamingBandSpec: a rep's verdict
    * depends only on its own phash and the frozen index, so streamed
    * == batched under any batch cut of REP rows). */
  private[graft] def repChunks(reps: DataFrame): DataFrame = {
    val bandBits = DedupOps.Simhash60BandBits
    reps.select(col("kind"), col("rep_id"), col("n_copies"),
      col("phash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("phash"), bandBits * i)
          .bitwiseAND((1 << bandBits) - 1)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
  }

  /** The banded-hamming pair audit over any band-chunk frame — shared
    * by m6 (in-memory) and m7 (at-rest), so the two paths cannot
    * drift. */
  private def phashPairs(chunks: DataFrame): DataFrame = {
    val cand = chunks.as("x").join(chunks.as("y"),
        col("x.kind") === col("y.kind") && col("x.band") === col("y.band") &&
          col("x.chunk") === col("y.chunk") &&
          col("x.rep_id") < col("y.rep_id"))
      .select(col("x.kind").as("kind"),
        col("x.rep_id").as("a"), col("y.rep_id").as("b"),
        col("x.phash").as("pa"), col("y.phash").as("pb"),
        col("x.n_copies").as("n_copies_a"), col("y.n_copies").as("n_copies_b"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("int"))
      .select(col("kind"), col("a"), col("b"), col("hamming"),
        when(col("hamming") <= DedupOps.SimhashMaxHamming, 1).otherwise(0)
          .as("is_near_dup"),
        col("n_copies_a"), col("n_copies_b"))
  }

  /** Band-chunk bucket count of the at-rest pHash layout — 16, the
    * TermBuckets/BandBuckets family constant. */
  val ChunkBuckets = 16

  /** M7 — MEDIA NEAR-DUP AUDIT FROM THE AT-REST pHASH INDEX: d24's
    * discipline mirrored onto m6's perceptual bands. The ingest-time
    * BUILD decodes + signs every payload ONCE and writes the
    * denormalized band-chunk rows PARTITIONED BY chunk bucket; the
    * audit then runs ENTIRELY from the files — the kind-scoped banded
    * self-join and hamming verify never touch a payload again (the
    * phash and copy counts ride the index rows). Output BIT-IDENTICAL
    * to m6 (oracle verbatim, the ir15 path-substitution convention).
    *
    * 100 TB plan: payloads (the heavy column) are read exactly once
    * per media item's lifetime; every re-audit and every incoming
    * batch probe (the d25 shape: broadcast probe on the bare
    * chunk_bucket attribute → DPP — MultimodalOpsSpec pins the pruned
    * probe) costs slim signature IO bounded by band-bucket occupancy,
    * never a decode. */
  def phashAtRest(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/phashidx"
    AtRest.land(s, s"$root/bands", "chunk_bucket",
      phashChunks(s, dir).withColumn("chunk_bucket", chunkBucketCol),
      "overwrite")
    phashPairs(s.read.parquet(s"$root/bands").drop("chunk_bucket"))
      .transform(Common.presented(_, col("kind"), col("a"), col("b")))
  }

  /** m7's incremental probe core (the d25 shape for media): an
    * incoming batch of band-chunk rows probes the FROZEN at-rest
    * index with the broadcast probe joined on the bare chunk_bucket
    * partition attribute — DPP reads only the probe's buckets. Spec
    * surface (MultimodalOpsSpec pins verdicts == the full audit's
    * pairs restricted to the batch, and the dynamicpruning filter). */
  private[graft] def phashProbeFrom(s: SparkSession, root: String,
      probe: DataFrame): DataFrame = {
    val p = probe
      .select(col("kind").as("p_kind"), col("rep_id").as("a"),
        col("phash").as("pa"), col("n_copies").as("n_copies_a"),
        col("band").as("p_band"), col("chunk").as("p_chunk"))
      .withColumn("p_bucket",
        pmod(col("p_chunk") + col("p_band"), lit(ChunkBuckets)).cast("int"))
    s.read.parquet(s"$root/bands")
      .join(broadcast(p),
        col("chunk_bucket") === col("p_bucket") &&
          col("kind") === col("p_kind") && col("band") === col("p_band") &&
          col("chunk") === col("p_chunk") && col("rep_id") =!= col("a"))
      .select(col("kind"), col("a"), col("rep_id").as("b"),
        col("pa"), col("phash").as("pb"),
        col("n_copies_a"), col("n_copies").as("n_copies_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("int"))
      .select(col("kind"), col("a"), col("b"), col("hamming"),
        when(col("hamming") <= DedupOps.SimhashMaxHamming, 1).otherwise(0)
          .as("is_near_dup"), col("n_copies_a"), col("n_copies_b"))
  }

  // ---------------------------------------------------------------
  // m8 — TAKEDOWN executed against the at-rest pHash index. The
  // interesting half: the index rows are DERIVED GROUP FACTS
  // (rep_id = min media_id of a (kind, digest) copy group; n_copies =
  // its size), so a takedown is an UPDATE, not a delete — removing a
  // copy decrements its group, removing the min-id copy RELABELS the
  // group's representative, and only removing the last copy deletes
  // the group's band rows (content with surviving copies keeps
  // matching, which is the correct takedown semantics: the BYTES are
  // still published). ts10 pioneered maintained-update for per-user
  // facts; m8 is the group-fact form, and it needs a second artifact:
  // members/ (kind, digest, media_id) partitioned by digest bucket —
  // the reverse map from a takedown id to its group that the
  // chunk-bucketed bands cannot answer without a full scan.
  // ---------------------------------------------------------------

  /** Digest-bucket count of the members artifact. */
  val DigestBuckets = 16

  /** The members table's partition attribute — first 4 hex chars of
    * the (already-md5) digest, mod [[DigestBuckets]]: a pure function
    * of the row's own group key, so takedown targets come from the
    * request's decoded digests alone. */
  private[graft] def digestBucketCol: Column =
    (conv(substring(col("digest"), 1, 4), 16, 10).cast("int")
      % DigestBuckets).cast("int")

  private def chunkBucketCol: Column =
    pmod(col("chunk") + col("band"), lit(ChunkBuckets)).cast("int")

  /** BUILD the takedown-capable store: m7's band-chunk index plus the
    * members reverse map. Payloads decode ONCE here; nothing below
    * ever reads one again. */
  private[graft] def writePhashStore(s: SparkSession, root: String,
      med: DataFrame): Unit = {
    AtRest.land(s, s"$root/members", "dg_bucket",
      med.select(col("kind"), md5(col("payload")).as("digest"),
          col("media_id"))
        .withColumn("dg_bucket", digestBucketCol),
      "overwrite")
    AtRest.land(s, s"$root/bands", "chunk_bucket",
      repChunks(mediaReps(med).drop("digest"))
        .withColumn("chunk_bucket", chunkBucketCol),
      "overwrite")
  }

  /** The bands sweep's pruned scan — exposed so PlanContractSpec can
    * pin the STATIC chunk_bucket predicate (only the affected groups'
    * band directories are listed or read). */
  private[graft] def bandsTakedownScan(s: SparkSession, root: String,
      targets: Seq[Int]): DataFrame =
    s.read.parquet(s"$root/bands")
      .filter(col("chunk_bucket").isin(targets: _*))

  /** EXECUTE a takedown request against the store. Stages (the order
    * is the compliance order — bands first, so the serve is correct
    * the moment the visible artifact lands):
    *
    *  1. REQUEST FACTS: the requested media rows decode to (kind,
    *     digest, phash) — batch-bounded, the build path's per-row
    *     cost. Digest buckets target the members read; the groups'
    *     phash keys target the bands read. Both STATIC predicates.
    *  2. GROUP RECOMPUTE: the affected groups' old reps (min over
    *     current members) and new reps (min/count over members minus
    *     the request) — attribute-bounded frames.
    *  3. BANDS REWRITE: affected buckets drop every row keyed by an
    *     affected group's OLD OR NEW rep (the both-keys anti-join is
    *     what makes a rerun from ANY crash point converge instead of
    *     duplicating relabeled rows), then the recomputed groups'
    *     fresh chunk rows land — same phash, so fresh rows fall in
    *     exactly the swept buckets. Emptied buckets drop their dirs.
    *  4. MEMBERS REWRITE: the request's digest buckets minus the
    *     requested ids (c6's sweep on the reverse map).
    *
    * Idempotent under rerun at every crash point: stage 2's facts are
    * a fixed point of (members, request) whether members were already
    * rewritten or not, and stage 3 removes both key generations
    * before inserting the canonical rows (MultimodalOpsSpec pins the
    * bands-done/members-stale state converging by rerun). */
  private[graft] def takedownPhash(s: SparkSession, root: String,
      req: DataFrame): Unit = {
    val reqFacts = req.select(col("media_id"), col("kind"),
        md5(col("payload")).as("digest"), phashCol.as("phash"))
      .withColumn("dg_bucket", digestBucketCol)
      .localCheckpoint()
    val dBuckets = reqFacts.select(col("dg_bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (dBuckets.isEmpty) return
    val groups = reqFacts
      .select(col("kind"), col("digest"), col("phash")).distinct()
      .localCheckpoint()
    val memb = s.read.parquet(s"$root/members")
      .filter(col("dg_bucket").isin(dBuckets: _*))
    val affected = memb.join(broadcast(groups.select(col("kind"),
      col("digest"))), Seq("kind", "digest"), "left_semi")
    val oldReps = affected.groupBy(col("kind"), col("digest"))
      .agg(min(col("media_id")).as("rep_id"))
      .localCheckpoint()
    val newReps = affected
      .join(broadcast(reqFacts.select(col("media_id"))),
        Seq("media_id"), "left_anti")
      .groupBy(col("kind"), col("digest"))
      .agg(min(col("media_id")).as("rep_id"),
        count(lit(1)).as("n_copies"))
      .join(broadcast(groups), Seq("kind", "digest"))
      .localCheckpoint()
    // stage 3 — bands: target buckets from the groups' own band keys
    val gChunks = repChunks(groups
        .withColumn("rep_id", lit(0L)).withColumn("n_copies", lit(0L)))
      .withColumn("chunk_bucket", chunkBucketCol)
    val cBuckets = gChunks.select(col("chunk_bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val dropKeys = oldReps.select(col("kind"), col("rep_id"))
      .unionByName(newReps.select(col("kind"), col("rep_id"))).distinct()
    val freshRows = repChunks(newReps
        .select(col("kind"), col("rep_id"), col("n_copies"), col("phash")))
      .withColumn("chunk_bucket", chunkBucketCol)
    AtRest.overwriteBuckets(s, s"$root/bands", "chunk_bucket", cBuckets,
      bandsTakedownScan(s, root, cBuckets)
        .join(broadcast(dropKeys), Seq("kind", "rep_id"), "left_anti")
        .unionByName(freshRows))
    // stage 4 — members
    AtRest.overwriteBuckets(s, s"$root/members", "dg_bucket", dBuckets,
      memb
        .join(broadcast(reqFacts.select(col("media_id"))),
          Seq("media_id"), "left_anti")
        .select(col("kind"), col("digest"), col("media_id"),
          col("dg_bucket")))
  }

  /** M8 — TAKEDOWN EXECUTED AGAINST THE AT-REST pHASH INDEX: build
    * the store, EXECUTE the c4/c6 request cohort against it
    * ([[takedownPhash]]), and serve m6's banded near-dup audit from
    * what remains. The oracle restates m6 over the surviving media —
    * reps, counts and representative ids RE-DERIVE from survivors —
    * so the files must hold exactly the survivor groups' rows:
    * decremented counts, relabeled min-id reps, vanished last-copy
    * groups and all.
    *
    * 100 TB plan: a takedown of B items touches their digest buckets
    * of the slim members map and their groups' ≤4·B band buckets —
    * payloads are never re-read (the request's own rows re-sign at
    * batch cost), cold buckets never listed. Copy groups whose OTHER
    * copies survive keep matching — the honest semantics when the
    * bytes are still published under other ids. */
  def phashTakedown(s: SparkSession, dir: String): DataFrame = {
    val root = SimilarityOps.indexRoot(s, dir) + "/phashidx8"
    val med = media(s, dir)
    writePhashStore(s, root, med)
    takedownPhash(s, root,
      med.filter(col("media_id") % TextOps.ForgetMod === TextOps.ForgetRem))
    phashPairs(s.read.parquet(s"$root/bands").drop("chunk_bucket"))
      .transform(Common.presented(_, col("kind"), col("a"), col("b")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m8_phash_takedown" -> (phashTakedown _),
    "m6_media_neardup" -> (mediaNearDup _),
    "m7_phash_atrest" -> (phashAtRest _),
    "m1_media_meta" -> (mediaMeta _),
    "m2_frame_sample" -> (frameSample _),
    "m3_decode_stub" -> ((s, d) => decodeStub(s, d)),
    "m4_resize_plan" -> (resizePlan _),
    "m5_media_dedup" -> (mediaDedup _))

  /** m6's oracle — shared VERBATIM by the at-rest serve m7, and over
    * the survivor cohort by the takedown m8 (reps/counts/ids
    * re-derive from whatever media the `where` keeps). */
  private def m6SqlOver(where: String): String = {
      val bandBits = DedupOps.Simhash60BandBits
      val mask = (1 << bandBits) - 1
      s"""WITH m AS (SELECT event_id AS media_id,
         |                  CASE WHEN event_type = 'click' THEN 'image'
         |                       WHEN event_type = 'view' THEN 'video'
         |                       ELSE 'audio' END AS kind,
         |                  props, md5(props) AS digest
         |           FROM events$where),
         |sig AS (${DedupOps.simhashSqlOver(DedupOps.Simhash60Bits,
                      "media_id", "props", "m")}),
         |reps AS (SELECT kind, digest, min(m.media_id) AS rep_id,
         |                count(*) AS n_copies, min(simhash) AS phash
         |         FROM m JOIN sig USING (media_id)
         |         GROUP BY kind, digest),
         |chunks AS (SELECT kind, rep_id, n_copies, phash, u.band,
         |                  (phash >> ($bandBits * u.band)) & $mask AS chunk
         |           FROM reps, unnest([0, 1, 2, 3]) AS u(band)),
         |cand AS (SELECT DISTINCT x.kind AS kind,
         |                x.rep_id AS a, y.rep_id AS b,
         |                x.phash AS pa, y.phash AS pb,
         |                x.n_copies AS n_copies_a, y.n_copies AS n_copies_b
         |         FROM chunks x JOIN chunks y
         |           ON x.kind = y.kind AND x.band = y.band
         |              AND x.chunk = y.chunk AND x.rep_id < y.rep_id)
         |SELECT kind, a, b,
         |       CAST(bit_count(xor(pa, pb)) AS INT) AS hamming,
         |       CASE WHEN bit_count(xor(pa, pb)) <= ${DedupOps.SimhashMaxHamming}
         |            THEN 1 ELSE 0 END AS is_near_dup,
         |       n_copies_a, n_copies_b
         |FROM cand ORDER BY kind, a, b""".stripMargin
  }

  private val m6Sql: String = m6SqlOver("")

  val oracles: Map[String, String] = Map(
    // m8: build∘takedown∘serve == m6 over the SURVIVING media — the
    // oracle re-derives every rep, count and representative id from
    // the survivors, so the at-rest files must hold exactly the
    // updated group facts (decremented counts, relabeled min-id reps,
    // vanished last-copy groups)
    "m8_phash_takedown" -> m6SqlOver(
      s" WHERE event_id % ${TextOps.ForgetMod} <> ${TextOps.ForgetRem}"),
    // d3b's 60-bit bit-vote fold + banded-hamming restatement over the
    // media stand-in (props IS the decoded payload under the stub
    // codec); counts stay BIGINT on both engines
    "m6_media_neardup" -> m6Sql,
    // the at-rest serve must be bit-identical to the in-memory audit —
    // oracle VERBATIM (the ir15 convention)
    "m7_phash_atrest" -> m6Sql,
    "m1_media_meta" ->
      """SELECT event_id AS media_id,
        |       CASE WHEN event_type = 'click' THEN 'image'
        |            WHEN event_type = 'view' THEN 'video'
        |            ELSE 'audio' END AS kind,
        |       CAST(octet_length(encode(props)) AS INT) AS n_bytes,
        |       md5(props) AS digest,
        |       CAST(1 + event_id % 240 AS INT) AS n_frames
        |FROM events ORDER BY media_id""".stripMargin,
    // length() on the Spark binary column is BYTE length -> octet_length
    "m5_media_dedup" ->
      """SELECT CASE WHEN event_type = 'click' THEN 'image'
        |            WHEN event_type = 'view' THEN 'video'
        |            ELSE 'audio' END AS kind,
        |       md5(props) AS digest,
        |       min(event_id) AS keep_id,
        |       count(*) AS n_copies,
        |       CAST(max(octet_length(encode(props))) AS INT) AS n_bytes
        |FROM events
        |GROUP BY kind, digest
        |ORDER BY kind, keep_id""".stripMargin,
    "m2_frame_sample" ->
      """SELECT media_id, n_frames,
        |       CAST(u.f // 30 AS INT) AS sample_seq,
        |       CAST(u.f AS INT) AS frame_idx
        |FROM (SELECT event_id AS media_id, CAST(1 + event_id % 240 AS INT) AS n_frames
        |      FROM events WHERE event_type = 'view') v,
        |     unnest(generate_series(0, v.n_frames - 1, 30)) AS u(f)
        |ORDER BY media_id, sample_seq""".stripMargin,
    // props is ASCII JSON, so the stub's byte sum equals the sum of
    // per-char ascii codes (octet_length == length for ASCII).
    "m3_decode_stub" ->
      """SELECT event_id AS media_id,
        |       CASE WHEN event_type = 'click' THEN 'image'
        |            WHEN event_type = 'view' THEN 'video'
        |            ELSE 'audio' END AS kind,
        |       CAST(octet_length(encode(props)) AS INT) AS n_bytes,
        |       list_reduce(list_transform(string_split(props, ''),
        |         c -> CAST(ascii(c) AS BIGINT)), (a, b) -> a + b) AS checksum
        |FROM events ORDER BY media_id""".stripMargin,
    "m4_resize_plan" ->
      """SELECT media_id, kind, width, height,
        |       CAST(CASE WHEN width <= 256 AND height <= 256 THEN width
        |            ELSE width * 256 // greatest(width, height, 1) END AS INT) AS target_w,
        |       CAST(CASE WHEN width <= 256 AND height <= 256 THEN height
        |            ELSE height * 256 // greatest(width, height, 1) END AS INT) AS target_h
        |FROM (SELECT event_id AS media_id,
        |             CASE WHEN event_type = 'click' THEN 'image'
        |                  WHEN event_type = 'view' THEN 'video'
        |                  ELSE 'audio' END AS kind,
        |             CAST(event_id % 1000 AS INT) AS width,
        |             CAST(event_id % 800 AS INT) AS height
        |      FROM events)
        |WHERE kind <> 'audio'
        |ORDER BY media_id""".stripMargin)
}
