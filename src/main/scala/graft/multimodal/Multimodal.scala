package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Typed metadata for an opaque media payload. */
final case class MediaMeta(kind: String, width: Int, height: Int,
    durationMs: Long)

/** Multimodal row: opaque `binary` payload + typed metadata — the schema a
  * 100 TB image/audio/video lake uses (payload column never parsed by
  * Catalyst; metadata prunable/filterable without touching bytes).
  */
final case class MediaRecord(mediaId: Long, payload: Array[Byte],
    meta: MediaMeta)

/** Decoded feature row. */
final case class MediaFeatures(mediaId: Long, kind: String, nBytes: Long,
    features: Array[Float])

/** Multimodal plumbing — SURVEY.md §2.7.
  *
  * The decode kernels are STUBBED deterministically (this container ships
  * no image/audio codecs): `decodeStub` stands in for a JNI/FFI decoder.
  * Everything Spark-side is real — the batched `mapPartitions` shape
  * (Scala's analog of `mapInPandas`: a vectorized decoder amortizes setup
  * across `batchSize` records), partition preservation (no shuffle in any
  * per-record stage), and the typed schemas.
  */
object Multimodal {

  /** Exact 8-bin byte histogram — the integer core of [[decodeStub]],
    * oracle-gated through [[Multimodal.all]]'s `mm_feature_hist`.
    */
  def byteBins(payload: Array[Byte]): Array[Long] = {
    val bins = new Array[Long](8)
    var i = 0
    while (i < payload.length) {
      bins((payload(i) & 0xFF) >>> 5) += 1L
      i += 1
    }
    bins
  }

  /** STUB — replace with a real decoder. Deterministic 8-bin byte
    * histogram, L1-normalized: schema- and batch-shape-faithful.
    */
  def decodeStub(payload: Array[Byte]): Array[Float] = {
    val n = math.max(1, payload.length).toFloat
    byteBins(payload).map(_ / n)
  }

  /** Batched decode/feature-extract: one decoder instantiation per batch,
    * records flow partition-local (mapPartitions — no shuffle, no
    * driver involvement; scale = number of partitions).
    */
  def extractFeatures(ds: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(math.max(1, batchSize)).flatMap { batch =>
        // a real decoder would process `batch` as one vectorized call
        batch.iterator.map(r => MediaFeatures(
          r.mediaId, r.meta.kind, r.payload.length.toLong,
          decodeStub(r.payload)))
      }
    }
  }

  /** Frame sampling for video payloads: STUB treats the payload as
    * fixed-size frames and keeps every `everyN`-th. Partition-preserving
    * flatMap; real frame extraction plugs into the same signature.
    */
  /** Frame ids are `mediaId * FRAME_STRIDE + idx` — payloads must stay
    * under FRAME_STRIDE frames (2²⁰ ≈ 9.7 h of 30 fps video) or ids
    * would collide across records. 2²⁰ (not the original 2³²) keeps the
    * multiply in-range for media ids up to 2⁴³ ≈ 8.8e12 — the sf1
    * stress corpus ships replica-strided ids past 2³¹ and a 32-bit
    * frame slot overflowed the Long (the guard below caught it).
    */
  val FRAME_STRIDE = 1L << 20

  def frameSample(ds: Dataset[MediaRecord], frameBytes: Int,
      everyN: Int): Dataset[MediaRecord] = {
    require(frameBytes > 0, s"frameBytes must be positive, got $frameBytes")
    require(everyN > 0, s"everyN must be positive, got $everyN")
    import ds.sparkSession.implicits._
    ds.flatMap { r =>
      // idx is an Int (< FRAME_STRIDE by construction); the real collision
      // risk is mediaId * FRAME_STRIDE overflowing Long
      require(r.mediaId >= 0 && r.mediaId < Long.MaxValue / FRAME_STRIDE,
        s"mediaId ${r.mediaId} out of range for frame-id derivation")
      r.payload.grouped(frameBytes).zipWithIndex.collect {
        case (frame, idx) if idx % everyN == 0 =>
          require(idx < FRAME_STRIDE,
            s"payload of mediaId ${r.mediaId} exceeds $FRAME_STRIDE " +
              "frames — frame ids would collide; raise frameBytes")
          MediaRecord(r.mediaId * FRAME_STRIDE + idx, frame,
            r.meta.copy(kind = "frame", durationMs = 0L))
      }
    }
  }

  /** Resize stub: deterministic payload truncation + metadata rewrite.
    * Signature (and partition behavior) of a real resize kernel.
    */
  def resize(ds: Dataset[MediaRecord], w: Int, h: Int): Dataset[MediaRecord] = {
    import ds.sparkSession.implicits._
    ds.map { r =>
      val target = math.max(1, math.min(r.payload.length, w * h))
      MediaRecord(r.mediaId, r.payload.take(target),
        r.meta.copy(width = w, height = h))
    }
  }

  /** Deterministic fake media lake derived from `documents` (UTF-8 bytes
    * as payload) — used by specs and the oracle query below.
    */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables(spark, dir, "documents").select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        MediaRecord(id, bytes, MediaMeta("text", 0, 0, 0L))
      }
  }

  /** Byte-level feature query over binary payloads (oracle-gated: DuckDB
    * computes the identical md5/length on the same UTF-8 bytes).
    */
  private val binaryStats = Q(
    "mm_binary_stats",
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"))
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      md5(text) AS payload_md5
    FROM documents ORDER BY doc_id"""))

  /** The REAL typed decode path under the oracle gate: documents →
    * `Dataset[MediaRecord]` → batched partition-local feature extraction,
    * emitting the stub decoder's integer byte-histogram bins (exact in
    * both engines; the corpus is ASCII, so DuckDB's per-char `ord // 32`
    * is the same byte binning).
    */
  private val featureHist = Q(
    "mm_feature_hist",
    (s, dir) => {
      import s.implicits._
      val hist = mediaFromDocuments(s, dir)
        .mapPartitions(_.map(r =>
          (r.mediaId, r.payload.length.toLong, byteBins(r.payload).toSeq)))
        .toDF("media_id", "n_bytes", "bins")
      hist.select(Seq(col("media_id"), col("n_bytes")) ++
          (0 until 8).map(i =>
            element_at(col("bins"), i + 1).as(s"b$i")): _*)
        .orderBy("media_id")
    },
    Some("""WITH chars AS (
      SELECT doc_id, unnest(range(length(text))) AS i, text FROM documents),
    bytes AS (
      SELECT doc_id, ord(substr(text, i + 1, 1)) // 32 AS bin FROM chars),
    bins AS (
      SELECT doc_id, bin, COUNT(*) AS c FROM bytes GROUP BY doc_id, bin)
    SELECT d.doc_id AS media_id,
      octet_length(encode(d.text)) AS n_bytes,
      COALESCE(MAX(CASE WHEN bin = 0 THEN c END), 0) AS b0,
      COALESCE(MAX(CASE WHEN bin = 1 THEN c END), 0) AS b1,
      COALESCE(MAX(CASE WHEN bin = 2 THEN c END), 0) AS b2,
      COALESCE(MAX(CASE WHEN bin = 3 THEN c END), 0) AS b3,
      COALESCE(MAX(CASE WHEN bin = 4 THEN c END), 0) AS b4,
      COALESCE(MAX(CASE WHEN bin = 5 THEN c END), 0) AS b5,
      COALESCE(MAX(CASE WHEN bin = 6 THEN c END), 0) AS b6,
      COALESCE(MAX(CASE WHEN bin = 7 THEN c END), 0) AS b7
    FROM documents d LEFT JOIN bins ON d.doc_id = bins.doc_id
    GROUP BY d.doc_id, d.text ORDER BY media_id"""))

  /** Per-partition `MessageDigest` content fingerprints over the typed
    * media path — one digest instance per partition, the amortization
    * shape a codec with native setup cost needs (a real perceptual-hash
    * or decoder-backed fingerprint plugs into this signature). For plain
    * MD5 the oracle-gated `mm_dedup` query below uses the codegen'd
    * builtin `md5` instead: an interpreted row-at-a-time digest in the
    * hot path is the interpreted HOF class SURVEY.md §6 bans, and MultimodalSpec
    * asserts this API and the builtin agree byte-for-byte.
    */
  def contentFingerprints(ds: Dataset[MediaRecord]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        md.reset()
        (r.mediaId, md.digest(r.payload).map("%02x".format(_)).mkString)
      }
    }.toDF("media_id", "payload_md5")
  }

  /** Content-hash dedup over binary payloads — the multimodal twin of
    * `dedup_exact` (raw BYTE equality, no text normalization: two
    * payloads dedup iff bit-identical, the right semantics for media
    * blobs). Whole-stage-codegen end-to-end: the builtin `md5` over the
    * payload bytes (no typed boundary — MultimodalSpec asserts no
    * SerializeFromObject in the plan), then one hash-agg exchange on
    * the 32-char key — the same 100 TB posture as dedup_exact.
    */
  private val mmDedup = Q(
    "mm_dedup",
    (s, dir) => {
      val fp = Tables(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("payload"))
        .select(col("media_id"), md5(col("payload")).as("payload_md5"))
      val keep = fp.groupBy("payload_md5")
        .agg(min("media_id").as("keeper_id"))
      fp.join(keep, "payload_md5")
        .select(col("media_id"), col("payload_md5"), col("keeper_id"),
          (col("media_id") =!= col("keeper_id")).as("is_dup"))
        .orderBy("media_id")
    },
    Some("""WITH f AS (
      SELECT doc_id AS media_id, md5(text) AS payload_md5 FROM documents),
    k AS (SELECT payload_md5, MIN(media_id) AS keeper_id
      FROM f GROUP BY payload_md5)
    SELECT media_id, f.payload_md5 AS payload_md5, keeper_id,
      media_id <> keeper_id AS is_dup
    FROM f JOIN k USING (payload_md5) ORDER BY media_id"""))

  /** The typed frame-sampling path under the oracle gate: documents →
    * `Dataset[MediaRecord]` → [[frameSample]] (16-byte frames, keep
    * every 2nd) → per-frame byte length + digest. The digest runs on
    * the codegen builtin `md5` AFTER the typed boundary (the mm_dedup
    * lesson); the frame slicing itself is the typed plumbing §2.7
    * exists to prove. The corpus is ASCII, so DuckDB mirrors the BYTE
    * slicing with string `substr` exactly (the mm_feature_hist
    * argument).
    */
  private val frames = Q(
    "mm_frames",
    (s, dir) => {
      val f = frameSample(mediaFromDocuments(s, dir),
        frameBytes = 16, everyN = 2)
      f.toDF()
        .select(col("mediaId").as("frame_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("frame_md5"))
        .orderBy("frame_id")
    },
    Some(s"""WITH idxs AS (
      SELECT doc_id, unnest(range((length(text) + 15) // 16)) AS idx, text
      FROM documents),
    f AS (
      SELECT doc_id, idx, substr(text, (idx * 16 + 1)::INT, 16) AS frame
      FROM idxs WHERE idx % 2 = 0)
    SELECT (doc_id * $FRAME_STRIDE + idx)::BIGINT AS frame_id,
      octet_length(encode(frame))::BIGINT AS n_bytes,
      md5(frame) AS frame_md5
    FROM f ORDER BY frame_id"""))

  /** The typed resize path under the oracle gate — the last of the four
    * stub stages (decode / feature-extract / frame-sample / RESIZE) to
    * get a hash-gated row: documents → `Dataset[MediaRecord]` →
    * [[resize]] to a 16×16 target (payload prefix-truncated to ≤256
    * bytes, metadata rewritten) → per-record byte length + digest on the
    * codegen builtin `md5` after the typed boundary (the mm_dedup
    * lesson). ASCII corpus ⇒ DuckDB mirrors the byte truncation with
    * string `substr` exactly (the mm_feature_hist argument).
    */
  private val RESIZE_W = 16
  private val RESIZE_H = 16

  private val resized = Q(
    "mm_resize",
    (s, dir) => {
      val r = resize(mediaFromDocuments(s, dir), RESIZE_W, RESIZE_H)
      r.toDF()
        .select(col("mediaId").as("media_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("payload_md5"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy("media_id")
    },
    Some(s"""SELECT doc_id AS media_id,
      octet_length(encode(substr(text, 1,
        LEAST(length(text), ${RESIZE_W * RESIZE_H}))))::BIGINT AS n_bytes,
      md5(substr(text, 1, LEAST(length(text), ${RESIZE_W * RESIZE_H})))
        AS payload_md5,
      $RESIZE_W AS width, $RESIZE_H AS height
    FROM documents ORDER BY media_id"""))

  // ------------------------------------------------- perceptual near-dup
  /** aHash parameters. The hash is [[graft.functions.PerceptualHash]]:
    * 60 segment-mean bits (the 1-D "resize to a fixed grid" aHash).
    *
    * Production layout (the [[perceptualPairs]] DEFAULT): 4 bands × 15
    * bits, hamming ≤ 3 — the pigeonhole guarantee (ham ≤ 3 ⇒ ≥1 equal
    * 15-bit band) with 32k distinct values per band, the blocking power a
    * billion-image corpus needs (the same layout dedup_simhash ships).
    *
    * Gated-demo layout (`mm_dedup_perceptual`): 12 bands × 5 bits,
    * hamming ≤ 10 (pigeonhole covers ≤ 11). A 5-bit band holds only 32
    * distinct values — weak blocking that a 100 TB corpus must NOT use;
    * it is deliberately loose here because the synthetic ASCII corpus has
    * no re-encoded payloads, so structural near-pairs sit at hamming
    * 8–12 and the demo threshold keeps the gated result non-trivial. The
    * spec proves the production layout on constructed near-identical
    * payloads.
    */
  private val PH_BITS = 60
  private val PH_DEMO_BANDS = 12
  private val PH_DEMO_HAM = 10

  /** Broadcast ceiling for the banded self-join's build side, in REAL
    * post-explode rows (media_id+phash+key ≈ 50 B framed → ~150 MB at
    * the cap — "a few hundred MB is usually fine" per guide §3.1, far
    * under the 8 GB broadcast cap). Above it the join goes sort-merge;
    * see [[perceptualPairs]].
    */
  private val BCAST_KEY_ROWS = 3000000L

  /** (media_id, phash) for every non-empty payload — empty payloads hash
    * to 0 and are dropped BEFORE pairing (they would all collide at
    * hamming 0; the dedup_simhash empty-doc rule). Map-only codegen.
    */
  def perceptualHashes(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id").as("media_id"),
        org.apache.spark.sql.graft.Shim.column(
          graft.functions.PerceptualHash(
            org.apache.spark.sql.graft.Shim.expression(
              encode(col("text"), "UTF-8")), PH_BITS)).as("phash"))

  /** Banded-hamming near-dup pairs over a (media_id, phash) frame:
    * explode each hash into blocking keys, equi-join on the key, verify
    * `bit_count(xor) ≤ hamMax` on the distinct candidates. Candidate
    * recall is EXACT, not probabilistic, by GENERALIZED pigeonhole:
    * hamming ≤ hamMax over `bands` bands leaves ≥ bands−hamMax bands
    * untouched, so any true pair shares an identical g-SUBSET of band
    * values for every g ≤ bands−hamMax. g > 1 is the r16 scale fix:
    * single 5-bit band values SATURATE as the corpus grows (bucket
    * occupancy ∝ n/2^width — the banded self-join pushed 599M raw
    * candidates at sf1 for 2,022 true ham≤8 pairs, 76% of
    * mm_phash_clusters' 454 s), while each extra subset order
    * multiplies the key space by 2^width: g=4 measured 4.4M candidates
    * at sf1 (137×) with the SAME verified output. g caps at 4 — the
    * C(bands,g) explode factor (495 at 12 bands) is the price paid per
    * ROW, linear, vs the per-PAIR saturation it removes; the keys come
    * from one codegen'd kernel ([[graft.functions.PhashSubsetKeys]] —
    * 495 literal struct trees ICE'd Janino on the triage probe).
    * Output is bit-identical to the single-band form for every g
    * (KernelSpec pins key semantics; the oracles re-pin the answers),
    * so callers' DuckDB mirrors stay on the simple single-band CTE.
    */
  def perceptualPairs(hashes: DataFrame, bands: Int = 4,
      hamMax: Int = 3): DataFrame = {
    require(PH_BITS % bands == 0, s"$bands bands must divide $PH_BITS bits")
    require(hamMax < bands,
      s"pigeonhole needs hamMax < bands, got $hamMax vs $bands")
    val width = PH_BITS / bands
    val g = math.min(bands - hamMax, 4)
    val h = graft.Checkpoint.of(hashes)
    val keyed = h.select(col("media_id"), col("phash"),
      explode(org.apache.spark.sql.graft.Shim.column(
        graft.functions.PhashSubsetKeys(
          org.apache.spark.sql.graft.Shim.expression(col("phash")),
          bands, width, g))).as("k"))
    // r18: pick the self-join strategy DELIBERATELY (guide §3.1) —
    // Catalyst sizes `keyed` from the pre-explode checkpoint (Generate
    // stats ignore the C(bands,g)-way fanout: ×495 here), so the
    // planner saw "16 MiB" where the real build side is n·C(bands,g)
    // rows — 1.5+ GB at sf3: the 8 GB-driver broadcast OOM of the r17
    // sweep, and even at 24 GB the giant broadcast relation made the
    // family 30-40× slower than a shuffle join (386.6 s vs 93.7 s,
    // PHASHJOIN_r18.json + plans/r18/mm_dedup_perceptual_before.txt
    // operator (9)). Strategy by the REAL build-row count, which the
    // planner cannot see but we can state exactly:
    //   ≤ BCAST_KEY_ROWS (≈tens of MB) → explicit broadcast (measured
    //     fastest at gate/bench sfs);
    //   above → sort-merge. NOT shuffled-hash: saturated keys
    //     (templated content) skew the per-partition builds and SHJ
    //     cannot spill its hash relation — measured "Can't acquire
    //     67108864 bytes" at sf3.
    val keyRows = h.count() * Seq.tabulate(g)(i =>
      (bands - i).toLong).product / Seq.tabulate(g)(i =>
      (i + 1).toLong).product
    val ySide =
      if (keyRows <= BCAST_KEY_ROWS) broadcast(keyed.as("y"))
      else keyed.as("y").hint("merge")
    keyed.as("x").join(ySide,
        col("x.k") === col("y.k")
          && col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a_id"), col("y.media_id").as("b_id"),
        col("x.phash").as("ha"), col("y.phash").as("hb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= hamMax)
      .select("a_id", "b_id", "hamming")
  }

  /** DuckDB mirror of [[perceptualHashes]]: positional segment sums over
    * the ASCII corpus (`ord` = byte value, `length` = octet_length —
    * the mm_feature_hist argument), bit set iff `sb·n > tv·lb` (the
    * kernel's cross-multiplied integer compare), `::BIGINT` because a
    * DuckDB SUM would otherwise surface as HUGEINT → float64 at the
    * driver's pandas fetch.
    */
  private val sqlPhashCte = s"""chars AS (
      SELECT doc_id, unnest(range(length(text))) AS i, text
      FROM documents WHERE length(text) > 0),
    seg AS (SELECT doc_id, (i * $PH_BITS) // length(text) AS b,
        ord(substr(text, (i + 1)::INT, 1)) AS v
      FROM chars),
    bsum AS (SELECT doc_id, b, SUM(v) AS sb, COUNT(*) AS lb
      FROM seg GROUP BY doc_id, b),
    tot AS (SELECT doc_id, SUM(v) AS tv, COUNT(*) AS n
      FROM seg GROUP BY doc_id),
    ph AS (SELECT t.doc_id AS media_id,
        COALESCE(SUM(CASE WHEN sb * n > tv * lb
          THEN (1::BIGINT << b) ELSE 0 END), 0)::BIGINT AS phash
      FROM tot t JOIN bsum USING (doc_id) GROUP BY t.doc_id)"""

  /** The perceptual fingerprint itself under the hash gate: bit-exact
    * kernel parity on every corpus payload (the pair queries inherit it).
    */
  private val phashQ = Q(
    "mm_phash",
    (s, dir) => perceptualHashes(s, dir).orderBy("media_id"),
    Some(s"""WITH $sqlPhashCte
    SELECT media_id, phash FROM ph ORDER BY media_id"""))

  /** Perceptual near-dup pairs under the hash gate (demo band layout —
    * see the parameter scaladoc above for why it differs from the
    * production default).
    */
  /** Capped demo-layout pair CTE prefix (pair table materialized, then
    * the shared budget CTEs — hamming ranks ASCENDING: smaller distance
    * = stronger pair).
    */
  private val sqlPhashPairsCte =
    s"""$sqlPhashCte,
    banded AS (SELECT media_id, phash, b.range AS band,
        (phash >> (b.range * ${PH_BITS / PH_DEMO_BANDS})::INT)
          & ${(1L << (PH_BITS / PH_DEMO_BANDS)) - 1} AS bv
      FROM ph, range($PH_DEMO_BANDS) b),
    cand AS (SELECT DISTINCT x.media_id AS a_id, y.media_id AS b_id,
        x.phash AS ha, y.phash AS hb
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bv = y.bv AND x.media_id < y.media_id),
    php AS MATERIALIZED (
      SELECT a_id, b_id, bit_count(xor(ha, hb))::BIGINT AS hamming
      FROM cand WHERE bit_count(xor(ha, hb)) <= $PH_DEMO_HAM),
    ${graft.dedup.Dedup.sqlCapPairs("php", "hamming", "ASC",
      graft.dedup.Dedup.PAIR_CAP, "ph")}"""

  private val perceptual = Q(
    "mm_dedup_perceptual",
    (s, dir) =>
      graft.dedup.Dedup.capPairs(
        perceptualPairs(perceptualHashes(s, dir),
          bands = PH_DEMO_BANDS, hamMax = PH_DEMO_HAM),
        "hamming", asc = true, graft.dedup.Dedup.PAIR_CAP)
        .orderBy("a_id", "b_id"),
    Some(s"""WITH $sqlPhashPairsCte
    SELECT p.a_id AS a_id, p.b_id AS b_id, p.hamming AS hamming
    FROM php p JOIN phpkept USING (a_id, b_id)
    ORDER BY a_id, b_id"""))

  /** Budget honesty card for the perceptual demo layout. */
  private val perceptualBudget = Q(
    "mm_phash_budget",
    (s, dir) => {
      val p = graft.Checkpoint.of(
        perceptualPairs(perceptualHashes(s, dir),
          bands = PH_DEMO_BANDS, hamMax = PH_DEMO_HAM))
      val kept = graft.dedup.Dedup.capPairs(p, "hamming", asc = true,
        graft.dedup.Dedup.PAIR_CAP)
      p.agg(count(lit(1)).cast("long").as("n_pairs"))
        .crossJoin(kept.agg(count(lit(1)).cast("long").as("n_kept")))
        .select(col("n_pairs"), col("n_kept"),
          (col("n_pairs") - col("n_kept")).as("n_dropped"))
    },
    Some(s"""WITH $sqlPhashPairsCte,
    nk AS (SELECT COUNT(*)::BIGINT AS n_kept
      FROM php JOIN phpkept USING (a_id, b_id)),
    np AS (SELECT COUNT(*)::BIGINT AS n_pairs FROM php)
    SELECT np.n_pairs AS n_pairs, nk.n_kept AS n_kept,
      (np.n_pairs - nk.n_kept)::BIGINT AS n_dropped
    FROM np, nk"""))

  // ------------------------------------------------- video-shaped near-dup
  /** Frame-fingerprint sequence matching — the shape VIDEO dedup actually
    * takes at scale: sample frames, fingerprint each frame, and call two
    * media near-dups when enough of their frame fingerprints coincide
    * (re-encodes, trims and re-muxes keep most frame content; whole-file
    * hashing sees none of that). Here: [[frameSample]] (64-byte frames,
    * keep every 2nd — the mm_frames stub plumbing) → per-frame
    * [[graft.functions.PerceptualHash]] → per-media DISTINCT fingerprint
    * set → pairs sharing ≥ 50% of the smaller set's fingerprints
    * (`2·matched ≥ min(n_a, n_b)`, pure integer).
    *
    * Scale: the pair generator is the postings shape (equi-join on the
    * fingerprint, never media×media); `dfCap` drops fingerprints indexed
    * by more than `cap` media from candidate generation AND match
    * counting — the "black frame"/static-scene-card guard, one viral
    * fingerprint otherwise contributes df² join rows. At the test SFs no
    * fingerprint reaches the default cap (max df = 8 at sf0.01), so the
    * uncapped oracle mirrors exactly; a pair matching ONLY on viral
    * frames is boilerplate overlap, not a near-dup — the jaccard dfCap
    * argument. The distinct fingerprint table is checkpointed: it feeds
    * both sides of the self-join and the per-media counts.
    */
  def frameFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val fr = frameSample(mediaFromDocuments(spark, dir),
      frameBytes = 64, everyN = 2).toDF()
    fr.select(expr(s"mediaId DIV $FRAME_STRIDE").as("media_id"),
        org.apache.spark.sql.graft.Shim.column(
          graft.functions.PerceptualHash(
            org.apache.spark.sql.graft.Shim.expression(col("payload")),
            PH_BITS)).as("fh"))
      .distinct()
  }

  def videoNearDups(fingerprints: DataFrame,
      dfCap: Int = 1000): DataFrame = {
    require(dfCap >= 2, s"dfCap must be >= 2 to ever pair media, got $dfCap")
    val fp = graft.Checkpoint.of(fingerprints)
    val nf = fp.groupBy("media_id").agg(count(lit(1)).as("n"))
    val kept = fp.join(
      fp.groupBy("fh").agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, dfCap)).select("fh"), "fh")
    val matched = kept.select(col("media_id").as("a_id"), col("fh"))
      .join(kept.select(col("media_id").as("b_id"), col("fh")), "fh")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).cast("long").as("matched"))
    matched
      .join(nf.select(col("media_id").as("a_id"), col("n").as("n_a")), "a_id")
      .join(nf.select(col("media_id").as("b_id"), col("n").as("n_b")), "b_id")
      .filter(col("matched") * 2 >= least(col("n_a"), col("n_b")))
      .select(col("a_id"), col("b_id"), col("matched"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"))
  }

  private val videoNearDup = Q(
    "mm_video_neardup",
    (s, dir) => videoNearDups(frameFingerprints(s, dir))
      .orderBy("a_id", "b_id"),
    Some(s"""WITH idxs AS (
      SELECT doc_id, unnest(range((length(text) + 63) // 64)) AS idx, text
      FROM documents),
    fr AS (SELECT doc_id AS media_id, idx,
        substr(text, (idx * 64 + 1)::INT, 64) AS frame
      FROM idxs WHERE idx % 2 = 0),
    chars AS (SELECT media_id, idx,
        unnest(range(length(frame))) AS j, frame
      FROM fr),
    seg AS (SELECT media_id, idx,
        (j * $PH_BITS) // length(frame) AS b,
        ord(substr(frame, (j + 1)::INT, 1)) AS v
      FROM chars),
    bsum AS (SELECT media_id, idx, b, SUM(v) AS sb, COUNT(*) AS lb
      FROM seg GROUP BY media_id, idx, b),
    tot AS (SELECT media_id, idx, SUM(v) AS tv, COUNT(*) AS n
      FROM seg GROUP BY media_id, idx),
    fh0 AS (SELECT t.media_id, t.idx,
        COALESCE(SUM(CASE WHEN sb * n > tv * lb
          THEN (1::BIGINT << b) ELSE 0 END), 0)::BIGINT AS fh
      FROM tot t JOIN bsum USING (media_id, idx)
      GROUP BY t.media_id, t.idx),
    fp AS (SELECT DISTINCT media_id, fh FROM fh0),
    nf AS (SELECT media_id, COUNT(*) AS n FROM fp GROUP BY media_id),
    pairs AS (SELECT a.media_id AS a_id, b.media_id AS b_id,
        COUNT(*)::BIGINT AS matched
      FROM fp a JOIN fp b ON a.fh = b.fh AND a.media_id < b.media_id
      GROUP BY a.media_id, b.media_id)
    SELECT a_id, b_id, matched, na.n::BIGINT AS n_a, nb.n::BIGINT AS n_b
    FROM pairs
    JOIN nf na ON na.media_id = a_id
    JOIN nf nb ON nb.media_id = b_id
    WHERE matched * 2 >= LEAST(na.n, nb.n)
    ORDER BY a_id, b_id"""))

  // ------------------------------------------------------ scene detection
  /** Content-based scene segmentation — the PySceneDetect shape: a scene
    * boundary is a LARGE perceptual jump between consecutive frames
    * (`hamming(fh_i, fh_{i-1}) > τ`), and a media's scene count is
    * 1 + boundaries. Here every 64-byte frame ([[frameSample]] with
    * everyN = 1) gets a [[graft.functions.PerceptualHash]]; the
    * frame-over-frame comparison is ONE lag window partitioned by media
    * (frame order rides the mediaId·2³²+idx key), then a thin per-media
    * count aggregate — no joins, no pair blow-up, scales as one shuffle
    * of 2-long rows per frame.
    */
  val SCENE_HAM = 20

  /** Per-frame boundary flags — (media_id, idx, fh, cut) with cut = 1
    * at a scene boundary: the shared stage behind [[sceneCounts]] and
    * [[keyframes]]. One lag window on the (media, idx) exchange.
    */
  private def frameCuts(media: Dataset[MediaRecord], frameBytes: Int,
      hamMax: Int): DataFrame = {
    val fr = frameSample(media, frameBytes = frameBytes, everyN = 1).toDF()
      .select(expr(s"mediaId DIV $FRAME_STRIDE").as("media_id"),
        expr(s"mediaId % $FRAME_STRIDE").as("idx"),
        org.apache.spark.sql.graft.Shim.column(
          graft.functions.PerceptualHash(
            org.apache.spark.sql.graft.Shim.expression(col("payload")),
            PH_BITS)).as("fh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("idx")
    fr.withColumn("prev", lag(col("fh"), 1).over(w))
      .withColumn("cut",
        when(col("prev").isNotNull &&
          bit_count(col("fh").bitwiseXOR(col("prev"))) > hamMax, 1L)
          .otherwise(0L))
      .select("media_id", "idx", "fh", "cut")
  }

  /** Per-media (n_frames, n_scenes) over a media Dataset: every
    * `frameBytes` frame fingerprinted, boundary = frame-over-frame
    * hamming > hamMax, scenes = boundaries + 1. The callable form behind
    * `mm_scene_detect`; spec'd on constructed two-scene payloads.
    */
  def sceneCounts(media: Dataset[MediaRecord], frameBytes: Int = 64,
      hamMax: Int = SCENE_HAM): DataFrame =
    frameCuts(media, frameBytes, hamMax)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        (sum("cut") + 1L).as("n_scenes"))

  /** Per-scene KEYFRAME selection — the frame a vision-LM pipeline
    * keeps per shot: scenes are the running sum of [[frameCuts]]
    * boundaries, the keyframe is the shot's MIDDLE frame
    * (`(start+end) DIV 2` — the classic shot-boundary heuristic:
    * maximally far from both transitions, where a real decoder sees
    * stable content), emitted with its perceptual hash. Deterministic
    * integer arithmetic end-to-end.
    *
    * Scale: the running-sum window rides the SAME (media, idx)
    * exchange as the lag (one shuffle, re-sort in place); the frame
    * table is CHECKPOINTED because it feeds both the scene aggregate
    * and the keyframe hash join-back (the 2-consumer AQE trap); the
    * join-back is co-partitioned on media_id.
    */
  def keyframes(media: Dataset[MediaRecord], frameBytes: Int = 64,
      hamMax: Int = SCENE_HAM): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("idx")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val fr = frameCuts(media, frameBytes, hamMax)
      .withColumn("scene", sum("cut").over(w))
      .transform(graft.Checkpoint.of)
    val scenes = fr.groupBy("media_id", "scene")
      .agg(min("idx").as("start_idx"), max("idx").as("end_idx"),
        count(lit(1)).as("n_frames"))
      .withColumn("key_idx", expr("(start_idx + end_idx) DIV 2"))
    scenes.join(fr.select(col("media_id").as("km_id"),
        col("idx").as("k_idx"), col("fh").as("key_fh")),
        col("k_idx") === col("key_idx") &&
          col("km_id") === col("media_id"))
      .select(col("media_id"), col("scene"), col("start_idx"),
        col("end_idx"), col("n_frames"), col("key_idx"), col("key_fh"))
  }

  private val sceneDetect = Q(
    "mm_scene_detect",
    (s, dir) => sceneCounts(mediaFromDocuments(s, dir))
      .orderBy("media_id"),
    Some(s"""WITH idxs AS (
      SELECT doc_id, unnest(range((length(text) + 63) // 64)) AS idx, text
      FROM documents),
    fr AS (SELECT doc_id AS media_id, idx,
        substr(text, (idx * 64 + 1)::INT, 64) AS frame
      FROM idxs),
    chars AS (SELECT media_id, idx,
        unnest(range(length(frame))) AS j, frame
      FROM fr),
    seg AS (SELECT media_id, idx,
        (j * $PH_BITS) // length(frame) AS b,
        ord(substr(frame, (j + 1)::INT, 1)) AS v
      FROM chars),
    bsum AS (SELECT media_id, idx, b, SUM(v) AS sb, COUNT(*) AS lb
      FROM seg GROUP BY media_id, idx, b),
    tot AS (SELECT media_id, idx, SUM(v) AS tv, COUNT(*) AS n
      FROM seg GROUP BY media_id, idx),
    fh AS (SELECT t.media_id, t.idx,
        COALESCE(SUM(CASE WHEN sb * n > tv * lb
          THEN (1::BIGINT << b) ELSE 0 END), 0)::BIGINT AS fh
      FROM tot t JOIN bsum USING (media_id, idx)
      GROUP BY t.media_id, t.idx),
    lagd AS (SELECT media_id, fh,
        LAG(fh) OVER (PARTITION BY media_id ORDER BY idx) AS prev
      FROM fh)
    SELECT media_id, COUNT(*)::BIGINT AS n_frames,
      (SUM(CASE WHEN prev IS NOT NULL
          AND bit_count(xor(fh, prev)) > $SCENE_HAM
        THEN 1 ELSE 0 END) + 1)::BIGINT AS n_scenes
    FROM lagd GROUP BY media_id ORDER BY media_id"""))

  private val keyframeQ = Q(
    "mm_keyframe_select",
    (s, dir) => keyframes(mediaFromDocuments(s, dir))
      .orderBy("media_id", "scene"),
    Some(s"""WITH idxs AS (
      SELECT doc_id, unnest(range((length(text) + 63) // 64)) AS idx, text
      FROM documents),
    fr AS (SELECT doc_id AS media_id, idx,
        substr(text, (idx * 64 + 1)::INT, 64) AS frame
      FROM idxs),
    chars AS (SELECT media_id, idx,
        unnest(range(length(frame))) AS j, frame
      FROM fr),
    seg AS (SELECT media_id, idx,
        (j * $PH_BITS) // length(frame) AS b,
        ord(substr(frame, (j + 1)::INT, 1)) AS v
      FROM chars),
    bsum AS (SELECT media_id, idx, b, SUM(v) AS sb, COUNT(*) AS lb
      FROM seg GROUP BY media_id, idx, b),
    tot AS (SELECT media_id, idx, SUM(v) AS tv, COUNT(*) AS n
      FROM seg GROUP BY media_id, idx),
    fh AS MATERIALIZED (SELECT t.media_id, t.idx,
        COALESCE(SUM(CASE WHEN sb * n > tv * lb
          THEN (1::BIGINT << b) ELSE 0 END), 0)::BIGINT AS fh
      FROM tot t JOIN bsum USING (media_id, idx)
      GROUP BY t.media_id, t.idx),
    lagd AS (SELECT media_id, idx, fh,
        LAG(fh) OVER (PARTITION BY media_id ORDER BY idx) AS prev
      FROM fh),
    cuts AS (SELECT media_id, idx, fh,
        CASE WHEN prev IS NOT NULL
          AND bit_count(xor(fh, prev)) > $SCENE_HAM
        THEN 1 ELSE 0 END AS cut
      FROM lagd),
    sc AS MATERIALIZED (SELECT media_id, idx, fh,
        SUM(cut) OVER (PARTITION BY media_id ORDER BY idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene
      FROM cuts),
    g AS (SELECT media_id, scene, MIN(idx) AS start_idx,
        MAX(idx) AS end_idx, COUNT(*)::BIGINT AS n_frames
      FROM sc GROUP BY media_id, scene)
    SELECT g.media_id, g.scene::BIGINT AS scene,
      start_idx::BIGINT AS start_idx, end_idx::BIGINT AS end_idx,
      n_frames, ((start_idx + end_idx) // 2)::BIGINT AS key_idx,
      k.fh AS key_fh
    FROM g JOIN sc k ON k.media_id = g.media_id
      AND k.idx = (start_idx + end_idx) // 2
    ORDER BY g.media_id, scene"""))

  // --------------------------------------------------------- mm_audio_vad
  /** Energy-threshold VOICE-ACTIVITY detection — the audio-modality
    * curation gate (silence/noise trimming before ASR or audio-LM
    * training): each fixed-size frame's ENERGY is the stub decoder's
    * unsigned byte sum ([[graft.functions.ByteSum]] — a real pipeline
    * sums |sample|²; the Spark shape is identical), a frame is VOICED
    * iff its per-byte mean is strictly above the media's mean
    * (`en·tot_len > tot_en·len` — cross-multiplied pure integers, no
    * division), and contiguous voiced frames chain into segments via
    * the gaps-and-islands rule (`idx − row_number` within the voiced
    * class — the run id both engines derive identically). Per media:
    * frame/voiced counts, LONGEST voiced run (the "usable clip length"
    * signal), exact-millionths voiced share.
    *
    * Scale: map-only energy kernel per frame, then two thin hash
    * exchanges — (media) for the totals window, (media, voiced) for
    * the island numbering — and ONE aggregation chain (runs roll up to
    * media in the same lineage; no self-join, no 2-consumer barrier
    * needed). Longs throughout: en ≤ 255·frame, totals ≤ 255·bytes.
    */
  private val audioVad = Q(
    "mm_audio_vad",
    (s, dir) => {
      val wm = org.apache.spark.sql.expressions.Window
        .partitionBy("media_id")
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy("media_id", "voiced").orderBy("idx")
      val fr = frameSample(mediaFromDocuments(s, dir),
          frameBytes = 64, everyN = 1).toDF()
        .select(expr(s"mediaId DIV $FRAME_STRIDE").as("media_id"),
          expr(s"mediaId % $FRAME_STRIDE").as("idx"),
          org.apache.spark.sql.graft.Shim.column(
            graft.functions.ByteSum(
              org.apache.spark.sql.graft.Shim.expression(col("payload"))))
            .as("en"),
          length(col("payload")).cast("long").as("len"))
      fr.withColumn("tot_en", sum("en").over(wm))
        .withColumn("tot_len", sum("len").over(wm))
        .withColumn("voiced",
          col("en") * col("tot_len") > col("tot_en") * col("len"))
        .withColumn("grp",
          when(col("voiced"),
            col("idx") - row_number().over(wv).cast("long"))
            .otherwise(lit(-1L)))
        .groupBy("media_id", "voiced", "grp")
        .agg(count(lit(1)).as("run_len"))
        .groupBy("media_id")
        .agg(sum("run_len").as("n_frames"),
          coalesce(sum(when(col("voiced"), col("run_len"))), lit(0L))
            .as("n_voiced"),
          coalesce(max(when(col("voiced"), col("run_len"))), lit(0L))
            .as("longest_voiced_run"))
        .withColumn("voiced_m6",
          expr("n_voiced * 1000000 DIV n_frames"))
        .orderBy("media_id")
    },
    Some(s"""WITH idxs AS (
      SELECT doc_id, unnest(range((length(text) + 63) // 64)) AS idx, text
      FROM documents),
    fr AS (SELECT doc_id AS media_id, idx,
        substr(text, (idx * 64 + 1)::INT, 64) AS frame
      FROM idxs),
    chars AS (SELECT media_id, idx,
        unnest(range(length(frame))) AS j, frame
      FROM fr),
    en AS (SELECT media_id, idx,
        SUM(ord(substr(frame, (j + 1)::INT, 1)))::BIGINT AS en,
        COUNT(*)::BIGINT AS len
      FROM chars GROUP BY media_id, idx),
    tot AS (SELECT media_id, idx, en, len,
        SUM(en) OVER (PARTITION BY media_id) AS tot_en,
        SUM(len) OVER (PARTITION BY media_id) AS tot_len
      FROM en),
    v AS (SELECT media_id, idx, en * tot_len > tot_en * len AS voiced
      FROM tot),
    g AS (SELECT media_id, voiced,
        CASE WHEN voiced THEN idx - row_number()
          OVER (PARTITION BY media_id, voiced ORDER BY idx)
        ELSE -1 END AS grp
      FROM v),
    runs AS (SELECT media_id, voiced, grp, COUNT(*)::BIGINT AS run_len
      FROM g GROUP BY media_id, voiced, grp)
    SELECT media_id, SUM(run_len)::BIGINT AS n_frames,
      COALESCE(SUM(CASE WHEN voiced THEN run_len END), 0)::BIGINT
        AS n_voiced,
      COALESCE(MAX(CASE WHEN voiced THEN run_len END), 0)::BIGINT
        AS longest_voiced_run,
      (COALESCE(SUM(CASE WHEN voiced THEN run_len END), 0) * 1000000
        // SUM(run_len))::BIGINT AS voiced_m6
    FROM runs GROUP BY media_id ORDER BY media_id"""))

  // ---------------------------------------------------- mm_audio_neardup
  /** Audio NEAR-DUP detection — the audio twin of [[videoNearDup]],
    * completing the per-modality near-dup grid (text: minhash; image:
    * phash; video: frame sequences; audio: this). The chromaprint
    * recipe re-expressed on the stub decoder: fingerprint the ENERGY
    * CONTOUR, not the samples, so a re-leveled copy (gain change /
    * DC offset — the classic re-encode artifacts) fingerprints
    * identically:
    *
    *  - per [[AUDIO_FRAME]]-byte (16) frame, energy =
    *    [[graft.functions.ByteSum]] (the mm_audio_vad stub decoder);
    *  - per consecutive frame pair, a DELTA SYMBOL: 1 iff the per-byte
    *    mean energy strictly rises (`en·len_prev > en_prev·len` —
    *    cross-multiplied pure integers; both gain (×g) and offset (+c)
    *    shift every frame's mean identically, so the symbol stream is
    *    invariant under re-leveling);
    *  - 12 consecutive symbols pack into one POSITION-KEYED gram (11
    *    lead columns riding ONE (media, idx) window exchange — the same
    *    shuffle the lag already paid); the postings key is (pos, gram):
    *    matching is OFFSET-0-ALIGNED, the contract for re-leveled /
    *    tail-trimmed full-clip copies (arbitrary-offset containment is
    *    the text tier's CDC-shingle job);
    *  - postings self-join on (pos, gram) (the [[videoNearDup]]
    *    postings shape — candidate volume Σdf², never media×media),
    *    media under [[AUDIO_MIN_GRAMS]] grams excluded (a clip shorter
    *    than ~4 gram spans can't be fingerprinted robustly — and a
    *    1-gram clip would pass the fraction gate on a single random
    *    collision), and the same shared-fraction gate:
    *    matched·2 ≥ min(n_a, n_b).
    *
    * Scale: map-only energy kernel, one thin window exchange, one
    * postings equi-join on (pos, gram); the 2¹² gram space × position
    * key keeps random collisions at the per-pair ~10⁻⁶ level while a
    * true aligned near-dup shares ~every gram. Deterministic integers
    * end-to-end.
    */
  private[graft] val AUDIO_FRAME = 16
  private[graft] val AUDIO_K = 12
  private[graft] val AUDIO_MIN_GRAMS = 4

  /** Position-keyed (media_id, pos, g) energy-contour grams for a media
    * lake — shared by the query and the constructed-clip spec.
    */
  def audioGrams(ds: Dataset[MediaRecord]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("idx")
    val fr = frameSample(ds, frameBytes = AUDIO_FRAME, everyN = 1).toDF()
      .select(expr(s"mediaId DIV $FRAME_STRIDE").as("media_id"),
        expr(s"mediaId % $FRAME_STRIDE").as("idx"),
        org.apache.spark.sql.graft.Shim.column(
          graft.functions.ByteSum(
            org.apache.spark.sql.graft.Shim.expression(col("payload"))))
          .as("en"),
        length(col("payload")).cast("long").as("len"))
    val sym = fr
      .withColumn("pen", lag(col("en"), 1).over(w))
      .withColumn("plen", lag(col("len"), 1).over(w))
      .filter(col("pen").isNotNull)
      .select(col("media_id"), col("idx"),
        when(col("en") * col("plen") > col("pen") * col("len"), 1L)
          .otherwise(0L).as("s"))
    val packed = (0 until AUDIO_K).map { j =>
      (if (j == 0) col("s") else lead(col("s"), j).over(w)) *
        lit(1L << j)
    }.reduce(_ + _)
    sym.select(col("media_id"), col("idx").as("pos"), packed.as("g"))
      .filter(col("g").isNotNull)
  }

  /** One packed gram as DuckDB arithmetic over the symbol list. */
  private def sqlAudioGramExpr: String =
    (0 until AUDIO_K).map(j =>
      s"sl[i${if (j == 0) "" else s"+$j"}] * ${1L << j}").mkString(" + ")

  private val audioNearDup = Q(
    "mm_audio_neardup",
    (s, dir) => {
      val fp0 = graft.Checkpoint.of(audioGrams(mediaFromDocuments(s, dir)))
      val nf = fp0.groupBy(col("media_id")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= AUDIO_MIN_GRAMS)
      val fp = fp0.join(nf.select("media_id"), "media_id")
      fp.as("a").join(fp.as("b"),
          col("a.pos") === col("b.pos") && col("a.g") === col("b.g")
            && col("a.media_id") < col("b.media_id"))
        .groupBy(col("a.media_id").as("a_id"),
          col("b.media_id").as("b_id"))
        .agg(count(lit(1)).as("matched"))
        .join(nf.select(col("media_id").as("a_id"), col("n").as("n_a")),
          "a_id")
        .join(nf.select(col("media_id").as("b_id"), col("n").as("n_b")),
          "b_id")
        .filter(col("matched") * 2 >= least(col("n_a"), col("n_b")))
        .select("a_id", "b_id", "matched", "n_a", "n_b")
        .orderBy("a_id", "b_id")
    },
    Some(s"""WITH idxs AS (
      SELECT doc_id, unnest(range((length(text) + ${AUDIO_FRAME - 1})
        // $AUDIO_FRAME)) AS idx, text
      FROM documents),
    fr AS (SELECT doc_id AS media_id, idx,
        substr(text, (idx * $AUDIO_FRAME + 1)::INT, $AUDIO_FRAME) AS frame
      FROM idxs),
    chars AS (SELECT media_id, idx,
        unnest(range(length(frame))) AS j, frame
      FROM fr),
    en AS (SELECT media_id, idx,
        SUM(ord(substr(frame, (j + 1)::INT, 1)))::BIGINT AS en,
        COUNT(*)::BIGINT AS len
      FROM chars GROUP BY media_id, idx),
    sym AS (SELECT media_id, idx,
        CASE WHEN en * LAG(len) OVER w > LAG(en) OVER w * len
          THEN 1 ELSE 0 END AS s,
        LAG(en) OVER w IS NOT NULL AS has_prev
      FROM en WINDOW w AS (PARTITION BY media_id ORDER BY idx)),
    lst AS (SELECT media_id, list(s ORDER BY idx) AS sl
      FROM sym WHERE has_prev GROUP BY media_id),
    grams AS (SELECT media_id,
        unnest([struct_pack(p := i, g := $sqlAudioGramExpr)
          for i in range(1, greatest(len(sl) - ${AUDIO_K - 2}, 1))]) AS u
      FROM lst),
    fp0 AS MATERIALIZED (SELECT media_id, u.p AS pos, u.g AS g
      FROM grams),
    nf AS MATERIALIZED (SELECT media_id, COUNT(*) AS n FROM fp0
      GROUP BY media_id HAVING COUNT(*) >= $AUDIO_MIN_GRAMS),
    fp AS MATERIALIZED (SELECT fp0.media_id, pos, g
      FROM fp0 JOIN nf USING (media_id)),
    pairs AS (SELECT a.media_id AS a_id, b.media_id AS b_id,
        COUNT(*)::BIGINT AS matched
      FROM fp a JOIN fp b ON a.pos = b.pos AND a.g = b.g
        AND a.media_id < b.media_id
      GROUP BY a.media_id, b.media_id)
    SELECT a_id, b_id, matched, na.n::BIGINT AS n_a, nb.n::BIGINT AS n_b
    FROM pairs
    JOIN nf na ON na.media_id = a_id
    JOIN nf nb ON nb.media_id = b_id
    WHERE matched * 2 >= LEAST(na.n, nb.n)
    ORDER BY a_id, b_id"""))

  // --------------------------------------------------- cross-modal pairs
  /** CLIP-style (media, caption) curation filter — the step an aligned
    * image-text corpus runs before training: score each candidate pair's
    * agreement, keep pairs above a threshold. The stub feature space is
    * the decoded payload's token set (a real pipeline scores caption
    * embedding × image embedding; the Spark shape — typed pair table,
    * per-pair integer score, gate — is identical).
    *
    * Candidates: each media row pairs with its ALIGNED caption (the first
    * [[CAPTION_TOKENS]] tokens of its own document) and one deterministic
    * HARD NEGATIVE (the caption of doc_id+1 — same template family often,
    * so the gate has non-trivial work). Score = how many distinct caption
    * tokens appear in the decoded payload's token set (array_intersect —
    * codegen'd set intersection, not a lambda HOF); kept iff ≥ 75%
    * (`4·matched ≥ 3·n_cap`, pure integer).
    *
    * Scale: candidate generation is an equi-join on doc_id (broadcast- or
    * shuffle-hash; no similarity blow-up), scoring is map-side per pair.
    * At 100 TB the same shape pairs a media lake with a caption table on
    * a shared key; the explode is 2 rows per media, not a cross join.
    */
  val CAPTION_TOKENS = 8

  private val captionFilter = Q(
    "mm_caption_filter",
    (s, dir) => {
      val toks = graft.text.TextOps.tokens(
        decode(col("payload"), "UTF-8"))
      val media = Tables(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("payload"))
        .select(col("media_id"), array_distinct(toks).as("mw"))
      // distinct caption tokens: a repeated token in the first 8 must not
      // depress the coverage ratio below 100% for a perfectly aligned pair
      val caps = Tables(s, dir, "documents")
        .select(col("doc_id"),
          array_distinct(slice(graft.text.TextOps.tokens(col("text")), 1,
            CAPTION_TOKENS)).as("cw"))
      media
        .select(col("media_id"), col("mw"),
          explode(array(col("media_id"), col("media_id") + 1))
            .as("doc_id"))
        .join(caps, "doc_id")
        .withColumn("n_matched",
          size(array_intersect(col("cw"), col("mw"))).cast("long"))
        .select(col("media_id"), col("doc_id"),
          size(col("cw")).cast("long").as("n_cap"), col("n_matched"),
          (col("n_matched") * 4 >= size(col("cw")) * 3).as("kept"))
        .orderBy("media_id", "doc_id")
    },
    Some(s"""WITH d AS (SELECT doc_id,
        list_filter(string_split(text, ' '), t -> t <> '') w
      FROM documents),
    media AS (SELECT doc_id AS media_id, list_distinct(w) AS mw FROM d),
    cap AS (SELECT doc_id, list_distinct(w[1:$CAPTION_TOKENS]) AS cw
      FROM d),
    cand AS (SELECT media_id, mw,
        unnest([media_id, media_id + 1]) AS doc_id
      FROM media)
    SELECT media_id, doc_id, len(cw)::BIGINT AS n_cap,
      len(list_intersect(cw, mw))::BIGINT AS n_matched,
      len(list_intersect(cw, mw)) * 4 >= len(cw) * 3 AS kept
    FROM cand JOIN cap USING (doc_id)
    ORDER BY media_id, doc_id"""))

  // ------------------------------------------------ mm_caption_recall
  /** Cross-modal retrieval EVAL CARD — recall@k of caption→media
    * retrieval, the number a CLIP-style curation loop reads (the
    * [[graft.sim.Knn]] knn_recall protocol applied cross-modally):
    * each of the [[MM_RECALL_NQ]] query captions (id-bounded
    * deterministic query set — the knn probe-side rule) ranks EVERY
    * media by the stub cross-modal score (distinct caption tokens ∩
    * media token set, [[captionFilter]]'s feature space), tie-break
    * media_id ascending, and the card reports the fraction of captions
    * whose ALIGNED media lands in the top k ∈ {1, 5, 10} — exact
    * integer millionths.
    *
    * The aligned media always scores the maximum (its caption is its
    * own prefix), so recall < 1 exactly where another media TIES at
    * full coverage with a smaller id — template families sharing their
    * opening tokens; the card measures caption distinctiveness, which
    * is what a real CLIP eval's recall@k degrades on too.
    *
    * Scale: the query set is FIXED-SIZE (broadcast |NQ| captions ×
    * one corpus scan — linear, the knn_bruteforce posture), and the
    * aligned-media rank needs NO sort and NO top-k window: rank =
    * 1 + count(better-scoring media), one aggregate over the scored
    * stream against the broadcast aligned scores.
    */
  private[graft] val MM_RECALL_NQ = 100L

  private val captionRecall = Q(
    "mm_caption_recall",
    (s, dir) => {
      val toks = graft.text.TextOps.tokens(col("text"))
      val d = Tables(s, dir, "documents")
      // both sides CHECKPOINTED before the crossJoin: CollapseProject
      // would otherwise inline tokenize+distinct into the post-join
      // projection and re-evaluate them once PER PAIR (measured 3×
      // the query cost at sf0.1 — the post-explode re-evaluation trap)
      val media = graft.Checkpoint.of(
        d.select(col("doc_id").as("media_id"),
          array_distinct(toks).as("mw")))
      val caps = graft.Checkpoint.of(
        d.filter(col("doc_id") < MM_RECALL_NQ)
          .select(col("doc_id").as("q_id"),
            array_distinct(slice(toks, 1, CAPTION_TOKENS)).as("cw")))
      // checkpointed: the scored stream feeds the aligned-score lookup
      // AND the rank aggregate (the 2-consumer AQE trap)
      val scored = graft.Checkpoint.of(
        media.crossJoin(broadcast(caps))
          .select(col("q_id"), col("media_id"),
            size(array_intersect(col("cw"), col("mw"))).cast("long")
              .as("score")))
      val aligned = scored.filter(col("media_id") === col("q_id"))
        .select(col("q_id"), col("score").as("a_score"))
      val ranks = scored.join(broadcast(aligned), "q_id")
        .groupBy("q_id")
        .agg((sum(when(col("score") > col("a_score") ||
            (col("score") === col("a_score")
              && col("media_id") < col("q_id")), 1L)
          .otherwise(0L)) + 1L).as("rnk"))
      ranks.agg(count(lit(1)).as("n_queries"),
          sum(when(col("rnk") <= 1, 1L).otherwise(0L)).as("h1"),
          sum(when(col("rnk") <= 5, 1L).otherwise(0L)).as("h5"),
          sum(when(col("rnk") <= 10, 1L).otherwise(0L)).as("h10"))
        .select(col("n_queries"),
          when(col("n_queries") === 0, lit(0L))
            .otherwise(expr("h1 * 1000000 DIV n_queries"))
            .as("recall_at_1_micro"),
          when(col("n_queries") === 0, lit(0L))
            .otherwise(expr("h5 * 1000000 DIV n_queries"))
            .as("recall_at_5_micro"),
          when(col("n_queries") === 0, lit(0L))
            .otherwise(expr("h10 * 1000000 DIV n_queries"))
            .as("recall_at_10_micro"))
    },
    Some(s"""WITH d AS (SELECT doc_id,
        list_filter(string_split(text, ' '), t -> t <> '') w
      FROM documents),
    media AS (SELECT doc_id AS media_id, list_distinct(w) AS mw FROM d),
    cap AS (SELECT doc_id AS q_id,
        list_distinct(w[1:$CAPTION_TOKENS]) AS cw
      FROM d WHERE doc_id < $MM_RECALL_NQ),
    scored AS MATERIALIZED (
      SELECT q_id, media_id,
        len(list_intersect(cw, mw))::BIGINT AS score
      FROM cap, media),
    al AS (SELECT q_id, score AS a_score FROM scored
      WHERE media_id = q_id),
    rk AS (SELECT s.q_id,
        1 + SUM(CASE WHEN s.score > a.a_score
            OR (s.score = a.a_score AND s.media_id < s.q_id)
          THEN 1 ELSE 0 END) AS rnk
      FROM scored s JOIN al a USING (q_id) GROUP BY s.q_id)
    SELECT COUNT(*)::BIGINT AS n_queries,
      (CASE WHEN COUNT(*) = 0 THEN 0
        ELSE SUM(CASE WHEN rnk <= 1 THEN 1 ELSE 0 END) * 1000000
          // COUNT(*) END)::BIGINT AS recall_at_1_micro,
      (CASE WHEN COUNT(*) = 0 THEN 0
        ELSE SUM(CASE WHEN rnk <= 5 THEN 1 ELSE 0 END) * 1000000
          // COUNT(*) END)::BIGINT AS recall_at_5_micro,
      (CASE WHEN COUNT(*) = 0 THEN 0
        ELSE SUM(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END) * 1000000
          // COUNT(*) END)::BIGINT AS recall_at_10_micro
    FROM rk"""))

  // ------------------------------------------------- mm_phash_clusters
  /** Perceptual near-dup CLUSTERS — the media twin of dedup_clusters:
    * roll the [[perceptualPairs]] edge list up to connected components
    * (pointer-doubled min-label CC, shared with the text side) and name
    * each cluster by its smallest media_id — the canonical-selection
    * step an image pipeline runs after pair detection (keep one copy
    * per perceptual cluster, drop the rest). Gated end-to-end: hashes,
    * banding, hamming verify, transitive closure and the keep-min rule
    * all mirrored (recursive-CTE closure on the DuckDB side).
    *
    * The cluster radius is TIGHTER than the pair-report radius
    * (ham ≤ [[PH_CLUSTER_HAM]] vs the demo report's ≤ 10): transitive
    * closure at a loose radius chains A~B~C into one cluster even when
    * ham(A,C) is far beyond the radius — on this corpus the ≤ 10 graph
    * is literally one long hamming path (takes the CC loop 12
    * pointer-doubling rounds and merges half the corpus; measured), so
    * clustering strictly below the detection radius is the standard
    * precision guard, and it keeps component diameters (= CC rounds)
    * small.
    *
    * Scale: pairs are the banded equi-join (never media×media); CC is
    * a driver union-find while the pair graph fits its bound, else
    * O(log d) checkpointed rounds on the thin edge list; the label join
    * back is broadcast-able (labels ≤ |media in pairs|).
    */
  private val PH_CLUSTER_HAM = 8

  private val phashClusters = Q(
    "mm_phash_clusters",
    (s, dir) => {
      val pairs = perceptualPairs(perceptualHashes(s, dir),
          bands = PH_DEMO_BANDS, hamMax = PH_CLUSTER_HAM)
        .select(col("a_id").as("u"), col("b_id").as("v"))
      val labels = graft.dedup.Dedup.connectedComponents(pairs)
      Tables(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id").as("media_id"))
        .join(labels.select(col("id").as("media_id"), col("label")),
          Seq("media_id"), "left")
        .select(col("media_id"),
          coalesce(col("label"), col("media_id")).as("cluster_id"))
        .withColumn("is_dup", col("media_id") =!= col("cluster_id"))
        .orderBy("media_id")
    },
    Some(s"""WITH RECURSIVE $sqlPhashCte,
    banded AS (SELECT media_id, phash, b.range AS band,
        (phash >> (b.range * ${PH_BITS / PH_DEMO_BANDS})::INT)
          & ${(1L << (PH_BITS / PH_DEMO_BANDS)) - 1} AS bv
      FROM ph, range($PH_DEMO_BANDS) b),
    cand AS (SELECT DISTINCT x.media_id AS a_id, y.media_id AS b_id
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bv = y.bv AND x.media_id < y.media_id
      WHERE bit_count(xor(x.phash, y.phash)) <= $PH_CLUSTER_HAM),
    e AS (SELECT a_id AS u, b_id AS v FROM cand
      UNION SELECT b_id, a_id FROM cand),
    reach(u, v) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
    cmin AS (SELECT u AS media_id, MIN(v) AS m FROM reach GROUP BY u)
    SELECT p.media_id AS media_id,
      COALESCE(LEAST(c.m, p.media_id), p.media_id) AS cluster_id,
      COALESCE(LEAST(c.m, p.media_id), p.media_id) <> p.media_id AS is_dup
    FROM ph p LEFT JOIN cmin c ON p.media_id = c.media_id
    ORDER BY media_id"""))

  // ------------------------------------------------- mm_embed_neardup
  /** Media near-dup via the EMBEDDING tier — the production multimodal
    * dedup rung above byte-exact ([[mmDedup]]) and perceptual-hash
    * ([[perceptual]]): a dense feature vector per media, then the exact
    * blocked cosine threshold self-join
    * ([[graft.dedup.Dedup.blockedCosinePairs]] — grid theta-join, no
    * cross product, B(B+1)/2 uniform tiles). With a real CLIP encoder
    * the vector column is its output; here the stub encoder is a
    * deterministic 64-bucket rolling 4-byte-gram histogram
    * ([[gramBins]] — integer arithmetic both engines can state, the
    * mm_feature_hist recipe), computed on the typed
    * `Dataset[MediaRecord]` path like every decode stage in this
    * module. τ=0.97 on the round-6 cosine isolates genuinely
    * near-identical payloads (measured p99 of non-dup pairs ≈ 0.94 on
    * this corpus; the planted near-dup pairs sit ≥ 0.98).
    *
    * Scale: feature extraction is map-only typed mapPartitions; the
    * pair stage inherits dedup_embedding's posture. An LSH tier for
    * THIS stub feature was built, measured, and deliberately NOT
    * shipped: even after centering (raw count histograms share a
    * common direction, so raw cosines sit ≈0.9 where sign-LSH cannot
    * separate), the τ-boundary true pairs' centered similarity
    * reaches DOWN to 0.64 while the background tail reaches UP to
    * 0.92 (sf0.1, measured) — overlapping ranges, so no sign-LSH bank
    * has full recall AND pruning here (64×4 bits recalled everything
    * by making every pair a candidate, 2× slower than the grid;
    * 64×16 bits pruned 100× but dropped 11/331 boundary pairs). A
    * real CLIP encoder's near-dup geometry (tight clusters, spread
    * background) is what dedup_embedding_lsh's machinery needs, and
    * it composes here unchanged when the stub is replaced.
    */
  private[graft] val MM_COS_TAU = 0.97
  private[graft] val GRAM_D = 64

  /** Stub media encoder: 4-byte rolling-window bucket counts (bucket =
    * base-31 window value mod `d`) — deterministic, integer-exact, and
    * near-dup payloads (shared byte runs) land near-parallel vectors.
    */
  def gramBins(payload: Array[Byte], d: Int): Array[Long] = {
    val bins = new Array[Long](d)
    var i = 0
    while (i + 3 < payload.length) {
      val v = ((payload(i) & 0xFF) * 29791 + (payload(i + 1) & 0xFF) * 961 +
        (payload(i + 2) & 0xFF) * 31 + (payload(i + 3) & 0xFF)) % d
      bins(v) += 1L
      i += 1
    }
    bins
  }

  /** (vec_id, v) gram-histogram vectors for a media lake — media with
    * payloads under 4 bytes emit nothing (an all-zero vector has no
    * direction; its NaN cosine would otherwise satisfy ≥ τ in BOTH
    * engines' NaN-is-greatest orderings).
    */
  def gramVectors(ds: Dataset[MediaRecord]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.collect {
      case r if r.payload.length >= 4 =>
        (r.mediaId, gramBins(r.payload, GRAM_D).map(_.toDouble).toSeq)
    }).toDF("vec_id", "v")
  }

  /** Exact all-pairs gram-cosine oracle at threshold `tau` — shared by
    * the τ=0.97 reporting grid and the τ=[[MM_DEDUP_TAU]] dedup tier.
    */
  private def sqlEmbedPairs(tau: Double, pfx: String = ""): String =
    s"""WITH ${sqlGramVecsCte(pfx)}
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM ${pfx}vecs a, ${pfx}vecs b
    WHERE a.doc_id < b.doc_id
      AND list_cosine_similarity(a.v, b.v) >= ($tau - 5e-7)
    ORDER BY a_id, b_id"""

  /** The gram-vector CTE chain (ends at `{pfx}vecs`) shared by the full
    * grid ([[sqlEmbedPairs]]) and the probe-sampled grid
    * ([[sqlEmbedPairsSampled]]).
    */
  private def sqlGramVecsCte(pfx: String): String =
    s"""${pfx}chars AS (
      SELECT doc_id, unnest(range(length(text) - 3)) AS i, text
      FROM documents WHERE length(text) >= 4),
    ${pfx}grams AS (
      SELECT doc_id,
        (ord(substr(text, i+1, 1)) * 29791 + ord(substr(text, i+2, 1)) * 961
          + ord(substr(text, i+3, 1)) * 31 + ord(substr(text, i+4, 1)))
          % $GRAM_D AS bucket
      FROM ${pfx}chars),
    ${pfx}bins AS (SELECT doc_id, bucket, COUNT(*)::BIGINT AS c
      FROM ${pfx}grams GROUP BY doc_id, bucket),
    ${pfx}grid AS (
      SELECT d.doc_id, r.bucket
      FROM (SELECT DISTINCT doc_id FROM ${pfx}bins) d
      CROSS JOIN (SELECT unnest(range($GRAM_D)) AS bucket) r),
    ${pfx}vecs AS MATERIALIZED (
      SELECT g.doc_id, list(COALESCE(c, 0)::DOUBLE ORDER BY g.bucket) AS v
      FROM ${pfx}grid g LEFT JOIN ${pfx}bins
        ON ${pfx}bins.doc_id = g.doc_id AND ${pfx}bins.bucket = g.bucket
      GROUP BY g.doc_id)"""

  /** Probe-incident DISTINCT τ-pair grid over the gram vectors — the
    * [[graft.EvalProbe]] sampled form of [[sqlEmbedPairs]] (pairs with
    * ≥1 endpoint in the probe set; the whole corpus at gate sfs).
    */
  private def sqlEmbedPairsSampled(tau: Double, pfx: String): String =
    s"""WITH ${sqlGramVecsCte(pfx)},
    ${pfx}pr AS MATERIALIZED (
      ${graft.EvalProbe.sqlProbeIds(s"${pfx}vecs", "doc_id")})
    SELECT DISTINCT LEAST(p.doc_id, x.doc_id) AS a_id,
      GREATEST(p.doc_id, x.doc_id) AS b_id
    FROM ${pfx}vecs p JOIN ${pfx}pr USING (doc_id)
      CROSS JOIN ${pfx}vecs x
    WHERE p.doc_id <> x.doc_id
      AND list_cosine_similarity(p.v, x.v) >= ($tau - 5e-7)"""

  /** The capped τ=[[MM_COS_TAU]] report + budget card share this CTE
    * prefix: the exact grid as a materialized pair table plus the
    * [[graft.dedup.Dedup.sqlCapPairs]] budget (r14 triage: the answer
    * itself is quadratic under replicated templates — the report now
    * emits each media's strongest links, the honesty card the mass the
    * cap declined).
    */
  private def sqlMmPairsCte(tau: Double): String =
    s"""mep AS MATERIALIZED (
      SELECT * FROM (${sqlEmbedPairs(tau, "mep_")})),
    ${graft.dedup.Dedup.sqlCapPairs("mep", "cosine", "DESC",
      graft.dedup.Dedup.PAIR_CAP, "mm")}"""

  private def mmNeardupPairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.blockedCosinePairs(
      // checkpointed: the typed decode+encode lineage feeds BOTH grid
      // self-join sides — without the barrier it runs once per side
      // (and the gram histogram is the expensive stage, unlike
      // dedup_embedding's plain column scan)
      graft.Checkpoint.of(gramVectors(mediaFromDocuments(s, dir))),
      MM_COS_TAU)

  private val embedNeardup = Q(
    "mm_embed_neardup",
    (s, dir) =>
      graft.dedup.Dedup.capPairs(mmNeardupPairs(s, dir),
        "cosine", asc = false, graft.dedup.Dedup.PAIR_CAP)
        .orderBy("a_id", "b_id"),
    Some(s"""WITH ${sqlMmPairsCte(MM_COS_TAU)}
    SELECT p.a_id AS a_id, p.b_id AS b_id, p.cosine AS cosine
    FROM mep p JOIN mmpkept USING (a_id, b_id)
    ORDER BY a_id, b_id"""))

  /** Budget honesty card for the capped grid — gated, so the output
    * budget can never silently hide pair volume.
    */
  private val embedNeardupBudget = Q(
    "mm_embed_budget",
    (s, dir) => {
      val p = graft.Checkpoint.of(mmNeardupPairs(s, dir))
      val kept = graft.dedup.Dedup.capPairs(p, "cosine", asc = false,
        graft.dedup.Dedup.PAIR_CAP)
      p.agg(count(lit(1)).cast("long").as("n_pairs"))
        .crossJoin(kept.agg(count(lit(1)).cast("long").as("n_kept")))
        .select(col("n_pairs"), col("n_kept"),
          (col("n_pairs") - col("n_kept")).as("n_dropped"))
    },
    Some(s"""WITH ${sqlMmPairsCte(MM_COS_TAU)},
    nk AS (SELECT COUNT(*)::BIGINT AS n_kept
      FROM mep JOIN mmpkept USING (a_id, b_id)),
    np AS (SELECT COUNT(*)::BIGINT AS n_pairs FROM mep)
    SELECT np.n_pairs AS n_pairs, nk.n_kept AS n_kept,
      (np.n_pairs - nk.n_kept)::BIGINT AS n_dropped
    FROM np, nk"""))

  // ---------------------------------------------- mm_embed_neardup_ivf
  /** The SCALE tier of [[embedNeardup]] — the media-embedding DEDUP
    * path that never touches the pair grid: byte-4-gram MinHash-LSH
    * candidates over the raw payload ([[byteGramShingles]] →
    * [[graft.dedup.Dedup.bandBucketsFromShingles]], 24 bands × 6 rows)
    * + exact raw-cosine verify at τ = [[MM_DEDUP_TAU]] = 0.98.
    *
    * Why the dedup radius is TIGHTER than the τ=0.97 reporting grid —
    * the mm_phash_clusters precedent (tighten the decision radius to
    * where the detector has margin), backed by round-12 measurements:
    * the [0.97, 0.98) boundary pairs are 64-bucket HISTOGRAM-COLLISION
    * coincidences of shared vocabulary, not near-identical content —
    * their payload 4-gram jaccard reaches DOWN to 0.33 (8-gram: 0.046)
    * against a shared-vocab background reaching UP past it, and on the
    * vector side the geometry concentrates within ~25° of a common
    * direction, so EVERY angular/metric blocking collapses (measured:
    * sign-LSH 64×4 recalls only by candidating every pair; anchor-cone
    * multi-probe at its provable 2·arccos τ ≈ 28° radius probes every
    * cell; contraction strip-projections pass 12.27M of 12.5M pairs —
    * per-direction residual σ ≈ 0.1 vs strip width 0.245). At τ ≥ 0.98
    * every true pair on every gate sf has payload gram-jaccard ≥ 0.918
    * (planted near-identical content), where 24×6 banding's miss
    * probability is (1 − 0.918⁶)²⁴ ≈ 3·10⁻¹⁰ — recall with margin, and
    * background (j ≈ 0.25) collides at ~0.6%, so candidates are
    * near-dup-mass-proportional. The τ=0.97 exact grid stays as the
    * pair-REPORTING / ground-truth query.
    *
    * Scale: shingle + 144-perm MinHash are one map-side codegen pass
    * per media; the bucket self-join materializes colliding pairs only;
    * verify touches candidates, never n². With a real CLIP encoder the
    * content-fingerprint candidate tier composes unchanged (CDC /
    * chromaprint-shaped), or swaps for [[graft.dedup.Dedup]]'s sign-LSH
    * once the embedding geometry has per-bit gap.
    */
  private[graft] val MM_DEDUP_TAU = 0.98
  private[multimodal] val MM_DEDUP_PERMS = 144
  private[multimodal] val MM_DEDUP_BANDS = 24

  /** Distinct byte-4-gram shingles per media payload (ISO-8859-1 is a
    * lossless byte↔char bijection, so gram identity is byte identity) —
    * the binary twin of [[graft.dedup.Dedup.shingles]].
    */
  def byteGramShingles(ds: Dataset[MediaRecord]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { r =>
      val p = r.payload
      val set = scala.collection.mutable.LinkedHashSet.empty[String]
      var i = 0
      while (i + 3 < p.length) {
        set += new String(p, i, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
        i += 1
      }
      (r.mediaId, set.toArray)
    }).toDF("doc_id", "sh")
  }

  private val embedDedup = Q(
    "mm_embed_dedup",
    (s, dir) => {
      val media = mediaFromDocuments(s, dir)
      val buckets = graft.Checkpoint.of(
        graft.dedup.Dedup.bandBucketsFromShingles(
          byteGramShingles(media), MM_DEDUP_PERMS, MM_DEDUP_BANDS))
      val cand = buckets.as("x").join(buckets.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      val vecs = graft.Checkpoint.of(gramVectors(media))
      val cos = graft.functions.CosineSim.cosineSim(col("va"), col("vb"))
      cand
        .join(vecs.select(col("vec_id").as("a_id"), col("v").as("va")),
          "a_id")
        .join(vecs.select(col("vec_id").as("b_id"), col("v").as("vb")),
          "b_id")
        .filter(cos >= lit(MM_DEDUP_TAU - 5e-7))
        .select(col("a_id"), col("b_id"), round(cos, 6).as("cosine"))
        .orderBy("a_id", "b_id")
    },
    Some(sqlEmbedPairs(MM_DEDUP_TAU)))

  /** The embedding-dedup tier read from the PERSISTED artifact
    * ([[EmbedState]]) — stored pairs instead of a per-invocation
    * decode→shingle→MinHash→verify re-derive; same rows by
    * construction (doubles round-trip parquet bit-exactly), so the
    * [[embedDedup]] oracle gates this twin verbatim — the
    * dedup_clusters_persisted precedent for the media tier.
    */
  private val embedDedupPersisted = Q(
    "mm_embed_dedup_persisted",
    (s, dir) => EmbedState.readPairs(s, dir).orderBy("a_id", "b_id"),
    Some(sqlEmbedPairs(MM_DEDUP_TAU)))

  // -------------------------------------------------- mm_embed_recall
  /** The HONESTY CARD for the radius-tightened dedup tier — recall of
    * [[embedDedup]]'s τ=0.98 LSH bank against the τ=0.97 exact grid
    * (the knn_recall / dedup_recall composition shape: the eval query
    * runs the ground truth by definition — that IS the protocol).
    * `n_boundary` counts exactly the [0.97, 0.98) pairs the tightened
    * decision radius declines to dedup (the measured histogram-
    * collision vocabulary coincidences — see [[embedDedup]]);
    * precision is structurally 1 (both tiers exact-verify the same raw
    * cosine, and the dedup threshold dominates), so the card reports
    * the recall side only, exact floor-millionths, zero-guarded.
    *
    * PROBE-BOUNDED above gate scale (r16 directive — the card's grid
    * was 57%-of-sweep quadratic mass with its siblings): both tiers
    * evaluate every pair INCIDENT to the [[graft.EvalProbe]] probe set
    * — the whole corpus at gate sfs (≤ 500 docs, values byte-identical
    * to the unsampled card), a fixed 2048-doc probe at bench-only sfs,
    * O(CAP·n). Bank candidacy is a per-pair property, so the sampled
    * card tests the same contract; `n_eval` puts the scope in the
    * gated output. The UNSAMPLED global grids remain as
    * [[embedNeardup]] / [[embedNeardupBudget]], declared-quadratic in
    * Bench's sweep with an sf ceiling.
    */
  private val embedRecall = Q(
    "mm_embed_recall",
    (s, dir) => {
      // checkpointed: vecs feed the probe build, both grid sides and
      // the LSH verify; buckets feed the candidate join (the crossJoin
      // pre-checkpoint rule)
      val media = mediaFromDocuments(s, dir)
      val vecs = graft.Checkpoint.of(gramVectors(media))
      val probe = graft.EvalProbe.probeIds(vecs, "vec_id")
      val pv = vecs.join(probe, "vec_id")
        .select(col("vec_id").as("p_id"), col("v").as("pv"))
      val cosP = graft.functions.CosineSim.cosineSim(col("pv"), col("v"))
      // ONE probe-incident exact grid at the LOOSE radius, cosine
      // retained (broadcast probe vectors against one corpus scan —
      // map-side, no shuffle; the cosine is orientation-symmetric, IEEE
      // multiply commutes, so the distinct collapses the two emissions
      // of a both-endpoints-in-probe pair): n_truth counts it, and the
      // τ=0.98 tier is its cosine-filtered subset — the r17 form paid
      // the grid twice and then a bucket candidate self-join on top
      val grid = graft.Checkpoint.of(
        vecs.crossJoin(broadcast(pv))
          .filter(col("p_id") =!= col("vec_id")
            && cosP >= lit(MM_COS_TAU - 5e-7))
          .select(least(col("p_id"), col("vec_id")).as("a_id"),
            greatest(col("p_id"), col("vec_id")).as("b_id"),
            cosP.as("cos"))
          .distinct())
      // the τ=0.98 LSH DEDUP tier restricted to probe-incident pairs:
      // candidacy depends only on a pair's own two signatures, so
      // membership of an exact-verified pair in [[embedDedup]]'s bank
      // output ⟺ its two band signatures collide somewhere. Test that
      // per PAIR (broadcast the small pair set through the bucket
      // table twice) instead of the probe×bucket candidate self-join —
      // saturated buckets made that join the sf3 wall (the
      // dedup_embedding_lsh_recall lshFoundCount rationale); the
      // oracle still states the exact sampled grid, so a bank miss
      // fails the gate loudly
      val buckets = graft.Checkpoint.of(
        graft.dedup.Dedup.bandBucketsFromShingles(
          byteGramShingles(media), MM_DEDUP_PERMS, MM_DEDUP_BANDS))
      val p98 = grid.filter(col("cos") >= lit(MM_DEDUP_TAU - 5e-7))
        .select(col("a_id"), col("b_id"))
      val withA = buckets.join(broadcast(p98), col("doc_id") === col("a_id"))
        .select(col("a_id"), col("b_id"),
          col("band").as("aband"), col("bh").as("abh"))
      val nf = buckets.join(broadcast(withA),
          col("doc_id") === col("b_id") && col("band") === col("aband")
            && col("bh") === col("abh"))
        .select(col("a_id"), col("b_id")).distinct()
        .agg(count(lit(1)).cast("long").as("n_found"))
      val nt = grid.agg(count(lit(1)).cast("long").as("n_truth"))
      nt.crossJoin(broadcast(nf))
        .crossJoin(probe.agg(count(lit(1)).cast("long").as("n_eval")))
        .select(col("n_truth"), col("n_found"),
          (col("n_truth") - col("n_found")).as("n_boundary"),
          when(col("n_truth") === 0, lit(0L))
            .otherwise(expr("n_found * 1000000 DIV n_truth"))
            .as("recall_micro"), col("n_eval"))
    },
    Some(s"""SELECT n_truth, n_found,
      (n_truth - n_found)::BIGINT AS n_boundary,
      (CASE WHEN n_truth = 0 THEN 0
        ELSE n_found * 1000000 // n_truth END)::BIGINT AS recall_micro,
      n_eval
    FROM (SELECT COUNT(*)::BIGINT AS n_truth
        FROM (${sqlEmbedPairsSampled(MM_COS_TAU, "t97_")}) t),
      (SELECT COUNT(*)::BIGINT AS n_found
        FROM (${sqlEmbedPairsSampled(MM_DEDUP_TAU, "t98_")}) f),
      (SELECT COUNT(*)::BIGINT AS n_eval
        FROM (WITH ${sqlGramVecsCte("ne_")}
          ${graft.EvalProbe.sqlProbeIds("ne_vecs", "doc_id")}) p)"""))

  // ----------------------------------------------------- mm_frame_dedup
  /** Cross-video FRAME-level exact dedup — the shot/segment dedup a
    * video pipeline runs below [[videoNearDup]]'s sequence tier:
    * repeated intros, stingers and black frames recur across MANY
    * videos byte-identically, and training pipelines drop them per
    * frame, not per video. Every video explodes into fixed-size frames
    * (the [[frameSample]] stub path, stride 1), each frame content-
    * hashes, the global keeper is the minimum frame_id per hash, and
    * the report is per video: frame count, duplicated-frame count
    * (identical content exists with a smaller frame id — anywhere, own
    * video included), and the exact-millionths duplication share.
    *
    * Scale: the frame explode is map-side typed flatMap; the frame
    * table is CHECKPOINTED (it feeds the keeper aggregate AND the
    * join back — by barrier, not by hoping ReusedExchange survives
    * AQE's broadcast conversion), then one hash-key exchange joins
    * the two; the per-video roll-up is thin. Exact: md5 on identical
    * bytes, integer counts, `n·10⁶ DIV total` share.
    */
  private val frameDedup = Q(
    "mm_frame_dedup",
    (s, dir) => {
      // checkpointed: f feeds the keeper aggregate AND the join back —
      // AQE can broadcast the thin (h, keeper) side and remove the
      // exchange whose ReusedExchange the single-pass plan counts on,
      // re-running the decode+explode+md5 lineage twice (the
      // dedup_substring 2-consumer trap)
      val f = frameSample(mediaFromDocuments(s, dir),
          frameBytes = 16, everyN = 1).toDF()
        .select(col("mediaId").as("frame_id"),
          md5(col("payload")).as("h"))
        .transform(graft.Checkpoint.of)
      val keep = f.groupBy("h").agg(min("frame_id").as("keeper"))
      f.join(keep, "h")
        .select(expr(s"frame_id DIV $FRAME_STRIDE").as("media_id"),
          when(col("frame_id") =!= col("keeper"), 1L).otherwise(0L)
            .as("dup"))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"), sum("dup").as("n_dup_frames"))
        .withColumn("dup_micro",
          expr("n_dup_frames * 1000000 DIV n_frames"))
        .orderBy("media_id")
    },
    Some(s"""WITH idxs AS (
      SELECT doc_id, unnest(range((length(text) + 15) // 16)) AS idx, text
      FROM documents),
    f AS (
      SELECT doc_id, (doc_id * $FRAME_STRIDE + idx)::BIGINT AS frame_id,
        md5(substr(text, (idx * 16 + 1)::INT, 16)) AS h
      FROM idxs),
    k AS (SELECT h, MIN(frame_id) AS keeper FROM f GROUP BY h)
    SELECT doc_id AS media_id, COUNT(*)::BIGINT AS n_frames,
      SUM(CASE WHEN frame_id <> keeper THEN 1 ELSE 0 END)::BIGINT
        AS n_dup_frames,
      (SUM(CASE WHEN frame_id <> keeper THEN 1 ELSE 0 END) * 1000000
        // COUNT(*))::BIGINT AS dup_micro
    FROM f JOIN k USING (h)
    GROUP BY doc_id ORDER BY media_id"""))

  val all: Seq[Q] = Seq(binaryStats, featureHist, mmDedup, frames, resized,
    phashQ, perceptual, perceptualBudget, videoNearDup, sceneDetect,
    captionFilter,
    phashClusters, embedNeardup, embedNeardupBudget, embedDedup,
    embedDedupPersisted,
    frameDedup, keyframeQ,
    audioVad, audioNearDup, captionRecall, embedRecall)
}
