package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Event row for streaming ops (epoch-millis event time). */
final case class Ev(eventId: Long, userId: Long, tsMs: Long, value: Double)

/** A closed session emitted by the sessionizer. */
final case class Session(userId: Long, sessionId: Long, nEvents: Long,
    startMs: Long, endMs: Long, totalValue: Double)

/** Per-user sessionizer state: one open session, or (nEvents == 0) a
  * tombstone carrying only the last emitted sessionId so numbering stays
  * cumulative across event-time timeouts. One tombstone per user ever
  * seen — bounded by the user domain, the standard trade for stable
  * session identity.
  */
final case class SessionState(sessionId: Long, nEvents: Long, startMs: Long,
    endMs: Long, totalCents: Long)

/** A click/purchase event for streaming as-of enrichment. */
final case class AsofEv(eventId: Long, userId: Long, tsMs: Long,
    isPurchase: Boolean)

/** A click enriched with the latest prior-or-equal purchase (None when no
  * purchase precedes it).
  */
final case class EnrichedClick(eventId: Long, userId: Long, tsMs: Long,
    purchaseId: Option[Long], purchaseMs: Option[Long])

/** Latest-purchase state for [[Streaming.asofEnrich]].
  * `lastActivityMs` is the max event time EVER seen for the user (any
  * event, not just purchases): the idle-TTL anchor must be monotone in
  * event time, and a late micro-batch slice (older events still inside
  * the watermark) must never shrink the horizon below the user's true
  * latest activity.
  */
final case class AsofState(purchaseMs: Long, purchaseId: Long,
    lastActivityMs: Long)

/** A change-stream event for streaming SCD2 interval building. */
final case class ScdEv(eventId: Long, userId: Long, eventType: String,
    tsMs: Long)

/** A validity-interval row emitted by [[Streaming.scd2Intervals]];
  * `validTo == None` marks the open (current) version at flush time.
  */
final case class Scd2Row(userId: Long, eventType: String, eventId: Long,
    validFrom: Long, validTo: Option[Long], isCurrent: Boolean)

/** Open-version state per (user, event_type): the latest record, plus a
  * `flushed` tombstone once the idle timeout emitted it as current (a
  * post-flush event starts a fresh chain — snapshot-and-resume CDC
  * semantics, mirroring the sessionizer's cumulative tombstones).
  */
final case class Scd2State(eventId: Long, tsMs: Long, flushed: Boolean)

/** An event carrying an optional sparse reading for
  * [[Streaming.gapfill]].
  */
final case class GapEv(eventId: Long, userId: Long, tsMs: Long,
    reading: Option[Double])

/** A densified row emitted by [[Streaming.gapfill]] (columns mirror
  * batch q43_gapfill).
  */
final case class GapRow(eventId: Long, userId: Long, tsMs: Long,
    reading: Option[Double], filled: Option[Double], isImputed: Boolean)

/** Latest-reading state per user for [[Streaming.gapfill]]: the
  * (ts, id)-max observed reading — O(1) per user.
  */
final case class GapState(tsMs: Long, eventId: Long, reading: Double)

/** An anomalous event flagged by [[Streaming.anomalyFlags]] (columns
  * mirror batch q35_anomaly_zscore).
  */
final case class ZscoreFlag(eventId: Long, userId: Long, tsMs: Long,
    vm: Long, nWin: Long)

/** Per-user trailing buffer for [[Streaming.anomalyFlags]]: the last
  * ≤ `win` (tsMs, eventId, vm) triples in (ts, id) order.
  */
final case class ZState(buf: Seq[(Long, Long, Long)])

/** Structured Streaming operators — SURVEY.md §2.8.
  *
  * Both operators are the streaming mirrors of batch queries gated by the
  * DuckDB oracle (q21_stream_window, q20_sessionize); StreamingSpec runs
  * them on a MemoryStream and asserts equality with the batch results on
  * the same data.
  *
  * Scale posture: state is hash-partitioned by the grouping key across
  * executors; watermarks bound state size (windows expire, sessions
  * time out); per-key state is O(1) (one open session / one window acc).
  */
object Streaming {

  /** Watermarked tumbling-window aggregate over a (possibly streaming)
    * events frame carrying `ts_ms`, `event_type`, `value`.
    * Mirror of q21_stream_window (hour buckets). Sum is decimal-exact,
    * like the batch side.
    */
  def windowedAgg(events: DataFrame, windowDur: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
      .select(
        unix_millis(col("window.start")).as("hour_ms"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Watermarked streaming OHLC downsampler — the streaming mirror of
    * batch q34_resample_ohlc: per user per tumbling window, emit
    * open/high/low/close (floor-micro integers) + count once the
    * watermark closes the window. Open/close ride `min_by`/`max_by`
    * with a (ts_ms, event_id) struct key — declarative aggregates, so
    * the window state per (user, bucket) is O(1) (five scalars), the
    * partial-merge is associative (exactly why OHLC downsampling
    * streams well), and the unique event_id tie-break picks the
    * identical row the batch window-rank formulation picks.
    * StreamingSpec asserts bit-equality with q34 over the real events
    * table, fed through a MemoryStream.
    */
  def ohlcBars(events: DataFrame, windowDur: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", watermarkDelay)
      .withColumn("vm", floor(col("value") * 1000000d).cast("long"))
      .groupBy(col("user_id"), window(col("event_time"), windowDur))
      .agg(
        min_by(col("vm"), struct(col("ts_ms"), col("event_id")))
          .as("open_micro"),
        max(col("vm")).as("high_micro"),
        min(col("vm")).as("low_micro"),
        max_by(col("vm"), struct(col("ts_ms"), col("event_id")))
          .as("close_micro"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("window.start")).as("bucket_ms"),
        col("open_micro"), col("high_micro"), col("low_micro"),
        col("close_micro"), col("n_events"))

  /** Stream-stream inner join with watermarks: clicks join purchases of
    * the same user within `windowMs` AFTER the purchase. Both sides carry
    * watermarks and the join has a two-sided time-range condition, so
    * Spark bounds the buffered state on each side (purchase state expires
    * once the click watermark passes `purchase_time + windowMs`).
    * Streaming mirror of the batch `range_join` operator.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
      windowMs: Long, watermarkDelay: String = "2 hours"): DataFrame = {
    val c = clicks
      .withColumn("click_time", timestamp_millis(col("ts_ms")))
      .withWatermark("click_time", watermarkDelay)
      .select(col("user_id"), col("ts_ms").as("click_ms"),
        col("value").as("click_value"), col("click_time"))
    val p = purchases
      .withColumn("purchase_time", timestamp_millis(col("ts_ms")))
      .withWatermark("purchase_time", watermarkDelay)
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"),
        col("ts_ms").as("purchase_ms"), col("purchase_time"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("click_time") >= col("purchase_time") &&
        col("click_time") <
          col("purchase_time") + expr(s"INTERVAL $windowMs MILLISECOND"))
      .select("purchase_id", "user_id", "purchase_ms", "click_ms",
        "click_value")
  }

  /** Streaming MinHash near-dup suppression via `foreachBatch` + a
    * persisted bucket-state table — the production shape for dedup
    * against all history: per micro-batch, compute each doc's banded
    * MinHash signature (the map-only [[graft.functions.MinhashBands]]
    * kernel — stateless, zero exchange), flag docs sharing ANY band
    * bucket with the state table OR an earlier doc of the same batch,
    * then append the batch's buckets to state. State is a plain parquet
    * directory: partition-local joins, restart-safe, unbounded history
    * without executor-memory state (the same recipe works against a
    * Delta table with MERGE at cluster scale).
    *
    * Batch-equivalence contract (asserted in StreamingSpec): feeding the
    * corpus in doc_id order yields exactly the batch rule "doc b is a
    * near-dup candidate iff some a < b shares a band bucket".
    *
    * State growth is bounded two ways (both preserve the contract,
    * asserted across a compaction boundary in StreamingSpec):
    *  - every `compactEvery` batches, all partitions STRICTLY older than
    *    the previous batch are folded (distinct band/bh) into the
    *    previous batch's partition and their directories deleted, so the
    *    per-batch read scans O(compactEvery) partitions instead of one
    *    per batch ever run. Replay-safe by construction: a replayed
    *    batch B still reads `batch_id < B`, which contains the compacted
    *    partition (id B-1 < B); a crash between the compacted write and
    *    the old-partition delete only leaves duplicate bucket rows,
    *    harmless under the semi-join.
    *  - `retentionBatches = Some(n)` additionally forgets buckets whose
    *    partition is older than n batches (docs older than the horizon
    *    stop suppressing new near-dups — the standard TTL trade).
    *    Compaction coarsens the clock: folded rows adopt the compacted
    *    partition's id, so retention is an at-LEAST bound with
    *    granularity `compactEvery`.
    *
    * @param out    receives (doc_id, is_neardup) per micro-batch
    */
  def minhashDedupSink(stateDir: String, perms: Int, bands: Int,
      compactEvery: Int = 16, retentionBatches: Option[Long] = None)(
      out: DataFrame => Unit): (DataFrame, Long) => Unit = {
    require(compactEvery >= 2, s"compactEvery must be >= 2, got $compactEvery")
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val buckets = graft.dedup.Dedup.bandBuckets(batch, perms, bands)
        .localCheckpoint()
      try {
        val st = new BatchState(spark, stateDir,
          org.apache.spark.sql.types.StructType(
            buckets.schema.filter(f => f.name == "band" || f.name == "bh")),
          compactEvery, retentionBatches)
        val state = st.visible(batchId)
        // seen before: in state, or claimed by a lower doc_id this batch
        val vsState = buckets.join(state,
          Seq("band", "bh"), "left_semi").select("doc_id")
        val vsBatch = buckets.as("x").join(buckets.as("y"),
            col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
              && col("x.doc_id") > col("y.doc_id"))
          .select(col("x.doc_id").as("doc_id"))
        val dups = vsState.union(vsBatch).distinct()
        out(batch.select("doc_id")
          .join(dups.withColumn("is_neardup", lit(true)), Seq("doc_id"),
            "left")
          .select(col("doc_id"),
            coalesce(col("is_neardup"), lit(false)).as("is_neardup")))
        st.commit(buckets.select("band", "bh"), batchId)
      } finally buckets.unpersist() // free this batch's checkpoint blocks
  }

  /** Streaming KMV distinct-sketch accumulation — the sketch-warehouse
    * ingest loop: per micro-batch, reduce the batch to its per-type
    * k-minimum 40-bit hashes and MERGE into persisted sketch state,
    * emitting the current per-type (+ merged `__all__`) sketch rows and
    * estimates after each batch. The whole point of KMV mergeability
    * made operational: the k smallest of a union are the k smallest of
    * the two sides' k-smallest sets, so state stays ≤ k·|types| live
    * rows no matter how long the stream runs — the bounded-state
    * distinct counter you deploy when exact distinct state would grow
    * with the key domain. Same estimator integers as the batch
    * `sketch_kmv_users` gate; same [[BatchState]] replay-idempotent
    * commit/compaction loop as the dedup sinks. The `__all__` row is
    * derived from the merged per-type state — correct because every
    * global k-minimum is a k-minimum of its own type.
    *
    * StreamingSpec: the corpus streamed in 3 slices yields the
    * IDENTICAL sketch rows (k_used, h_k, est) as the one-shot batch
    * query, and a replayed batch changes nothing.
    *
    * @param out receives (event_type, k_used, h_k, est_users) per batch
    */
  def kmvSketchSink(stateDir: String, k: Int = 64,
      compactEvery: Int = 8)(
      out: DataFrame => Unit): (DataFrame, Long) => Unit = {
    val space = 1L << 40
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      import org.apache.spark.sql.expressions.Window
      val st = new BatchState(spark, stateDir,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("h",
            org.apache.spark.sql.types.LongType))),
        compactEvery, None)
      val w = Window.partitionBy("event_type").orderBy("h")
      def kmin(df: DataFrame): DataFrame = df
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).select("event_type", "h")
      val batchMins = kmin(batch
        .select(col("event_type"),
          conv(substring(md5(col("user_id").cast("string")), 1, 10),
            16, 10).cast("long").as("h"))
        .distinct())
      // merged live sketch state: old k-mins ∪ batch k-mins, re-reduced
      val merged = kmin(st.visible(batchId).select("event_type", "h")
          .unionByName(batchMins).distinct())
        .localCheckpoint() // feeds __all__, the output agg, and commit
      try {
        val all = merged.select(lit("__all__").as("event_type"), col("h"))
          .distinct()
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k).select("event_type", "h")
        out(merged.unionByName(all)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("k_used"),
            max("h").as("h_k"))
          .select(col("event_type"), col("k_used"), col("h_k"),
            when(col("k_used") < k, col("k_used"))
              .otherwise(expr(s"(k_used - 1) * $space DIV h_k"))
              .cast("long").as("est_users")))
        st.commit(merged, batchId)
      } finally merged.unpersist()
  }

  /** Streaming RESERVOIR maintenance — the ingest-loop twin of batch
    * `sample_reservoir`: keep a STABLE exact-k uniform sample per
    * source (the eval/eyeball subset) as documents stream in. The
    * order-statistics restatement is what makes it mergeable with NO
    * approximation: the k smallest content-hash keys of a union are
    * the k smallest of each side's k smallest, so per batch we k-min
    * the batch, union the persisted k-mins, and re-reduce — the
    * emitted sample is EXACTLY the batch query over the cumulative
    * corpus (bit-equal, spec'd), and it only changes when a new doc
    * genuinely displaces a member (stability is the property an eval
    * subset needs). State ≤ k·|sources| thin rows forever, under the
    * [[BatchState]] replay/compaction contract (distinct rows — the
    * k-min re-reduce ignores compaction duplicates).
    *
    * @param out receives (source, rk, doc_id, hb) per micro-batch
    */
  def reservoirSink(stateDir: String,
      k: Int = graft.text.Sampling.RESERVOIR_K, compactEvery: Int = 8)(
      out: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      import org.apache.spark.sql.expressions.Window
      val st = new BatchState(spark, stateDir,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("hb",
            org.apache.spark.sql.types.LongType))),
        compactEvery, None)
      val w = Window.partitionBy("source").orderBy("hb", "doc_id")
      def kmin(df: DataFrame): DataFrame = df
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k).select("source", "doc_id", "hb")
      // distinct BEFORE the k-min: a duplicate row inside one batch
      // (at-least-once delivery) must not consume two of the k slots —
      // the truncation would permanently evict the k-th distinct doc
      // (the KMV sink's same guard)
      val batchMins = kmin(batch.select(col("source"), col("doc_id"),
        graft.text.Sampling.hashBucket(col("text")).as("hb")).distinct())
      val merged = kmin(st.visible(batchId)
          .select("source", "doc_id", "hb")
          .unionByName(batchMins).distinct())
        .localCheckpoint() // feeds the ranked output + commit
      try {
        out(merged
          .withColumn("rk", row_number().over(w).cast("long"))
          .select("source", "rk", "doc_id", "hb"))
        st.commit(merged, batchId)
      } finally merged.unpersist()
    }

  /** The shared at-least-once identity guard (the dqSink contract, one
    * definition for every BatchState sink): dedup the micro-batch on
    * its CALLER-DECLARED identity; a declared-but-absent column fails
    * FAST (silently skipping the dedup would disable replay protection
    * with no signal — exactly the corruption idCols exists to
    * prevent); Nil = exactly-once rows, no identity assumed.
    */
  /** Sinks already warned about an undeclared-identity doc_id batch. */
  private val warnedNoIdSinks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def dedupOnDeclaredIds(batch: DataFrame, idCols: Seq[String],
      sink: String): DataFrame = {
    if (idCols.isEmpty) {
      // The default flipped from Seq("doc_id") to Nil in round 11
      // (identity is caller-declared — driver tables carry no
      // guaranteed keys). The flip is invisible at compile time, so
      // surface it: a stream that DOES carry doc_id but declared no
      // identity is exactly the call shape the old default covered.
      // Once per sink, not per micro-batch — a long-running stream
      // that intentionally declares no identity must not flood logs.
      if (batch.columns.contains("doc_id") && warnedNoIdSinks.add(sink))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$sink: batch carries doc_id but idCols is empty (the " +
            "pre-r11 default deduped on doc_id) — duplicated rows " +
            "under at-least-once delivery will double-count; pass " +
            "idCols = Seq(\"doc_id\") to restore the replay guard")
      batch
    } else {
      val missing = idCols.filterNot(batch.columns.contains(_))
      require(missing.isEmpty,
        s"$sink idCols ${missing.mkString(",")} absent from batch " +
          s"columns ${batch.columns.mkString(",")}; pass idCols = Nil " +
          "for an identity-less exactly-once stream")
      batch.dropDuplicates(idCols)
    }
  }

  /** Streaming SOURCE-DRIFT monitor — the ingest-loop twin of batch
    * `text_source_drift`: per micro-batch of (source, text) documents,
    * fold the batch's hashed token-bucket counts
    * ([[graft.text.TextOps.sourceBucketCounts]]) into the persisted
    * cumulative counts and emit the corpus-to-date Jensen–Shannon
    * drift of every source vs `ref` ([[graft.text.TextOps.sourceJsd]]
    * — the IDENTICAL fixed-point arithmetic, so the emitted report is
    * bit-equal to the batch query over the same cumulative corpus).
    *
    * State = the thin (source, bucket, cumulative count) model itself
    * (≤ |sources|·buckets rows — NOT per-document state), under the
    * [[BatchState]] replay/compaction contract. Counts are MONOTONE
    * per key, so `max(c)` over the visible partitions is latest-wins —
    * replay-safe (a replayed batch reads strictly older partitions and
    * recomputes the same fold) and compaction-safe (stale versions
    * folded into one partition lose to the newer maximum).
    *
    * @param idCols row-identity columns to dedup each batch on (the
    *               at-least-once guard — the dqSink contract: identity
    *               is CALLER-DECLARED, default Nil = exactly-once rows
    *               with no identity; a declared-but-absent column
    *               FAILS FAST rather than silently disabling the
    *               guard. Document streams should pass
    *               `Seq("doc_id")`.
    * @param out receives (source, n_tokens, jsd_m20) per micro-batch
    */
  def driftSink(stateDir: String,
      buckets: Int = graft.text.TextOps.DRIFT_B,
      ref: String = graft.text.TextOps.DRIFT_REF, compactEvery: Int = 8,
      idCols: Seq[String] = Nil)(
      out: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val st = new BatchState(spark, stateDir,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("b",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("c",
            org.apache.spark.sql.types.LongType))),
        compactEvery, None)
      // Dedup the batch on its DECLARED document identity before
      // counting: under at-least-once delivery a row duplicated WITHIN
      // one batch would permanently inflate the cumulative counts
      // (replay protection only guards whole-batch re-delivery),
      // silently breaking the bit-equality with the batch
      // text_source_drift — the same guard reservoirSink applies
      // before its k-min. No content fallback (two GENUINELY distinct
      // documents can share (source, text) — exact-duplicate texts are
      // what the dedup family exists for); a declared-but-missing
      // column fails FAST instead of silently disabling the guard.
      val distinctBatch = dedupOnDeclaredIds(batch, idCols, "driftSink")
      val delta = graft.text.TextOps.sourceBucketCounts(distinctBatch, buckets)
      val prior = st.visible(batchId).groupBy("source", "b")
        .agg(max("c").as("c"))
      val merged = prior.unionByName(delta)
        .groupBy("source", "b").agg(sum("c").as("c"))
        .localCheckpoint() // feeds the JSD report (3 consumers) + commit
      try {
        out(graft.text.TextOps.sourceJsd(merged, ref))
        st.commit(merged, batchId)
      } finally merged.unpersist()
    }

  /** Streaming INGEST-VOLUME monitor — the ingest-loop twin of batch
    * `dq_volume_anomaly`: per micro-batch of events carrying `ts_ms`,
    * fold the batch's daily counts into the persisted cumulative
    * per-day counters and emit the corpus-to-date anomaly report via
    * the IDENTICAL shared body ([[graft.operators.Dq.volumeReport]] —
    * one definition of the window/σ constants, two consumers), so the
    * emitted report is bit-equal to the batch query over the same
    * cumulative corpus.
    *
    * State = the thin (day, c) counters under the [[BatchState]]
    * replay/compaction contract; counts are MONOTONE per day, so
    * `max(c)` over visible partitions is latest-wins (the driftSink
    * argument). Identity is CALLER-DECLARED (`idCols`, the dqSink
    * contract): a declared-but-absent column fails fast; Nil =
    * exactly-once rows.
    *
    * @param out receives (day, n_events, n_prev, is_anomaly) per batch
    */
  def volumeAnomalySink(stateDir: String, compactEvery: Int = 8,
      idCols: Seq[String] = Nil)(
      out: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val st = new BatchState(spark, stateDir,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("day",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("c",
            org.apache.spark.sql.types.LongType))),
        compactEvery, None)
      val distinctBatch =
        dedupOnDeclaredIds(batch, idCols, "volumeAnomalySink")
      val delta = distinctBatch
        .groupBy(expr("ts_ms DIV 86400000").as("day"))
        .agg(count(lit(1)).as("c"))
      val prior = st.visible(batchId).groupBy("day")
        .agg(max("c").as("c"))
      val merged = prior.unionByName(delta)
        .groupBy("day").agg(sum("c").as("c"))
        .localCheckpoint() // feeds the report + commit (two consumers)
      try {
        out(graft.operators.Dq.volumeReport(
          merged.select(col("day"), col("c").as("n_events"))))
        st.commit(merged, batchId)
      } finally merged.unpersist()
    }

  /** Streaming DATA-QUALITY monitor — the ingest-loop twin of the
    * batch `dq_rules` ROW-LEVEL rules over a lineitem stream: per
    * micro-batch, fold the batch's violation counts (the IDENTICAL
    * 1-row aggregate [[graft.operators.Dq.lineitemRowAgg]] — one
    * definition, two consumers) into cumulative per-rule state and
    * emit the corpus-to-date report `(rule, n_rows, n_violations,
    * pass)` — bit-equal to the batch rule rows over the same
    * cumulative corpus.
    *
    * State = the thin (rule, n, v) counters themselves under the
    * [[BatchState]] replay/compaction contract; counts are MONOTONE
    * per rule, so `max` over visible partitions is latest-wins (the
    * driftSink argument). The at-least-once guard needs a CALLER-
    * DECLARED row identity (`idCols`) — the driver's synthetic
    * lineitem proves why no key can be assumed: (l_orderkey,
    * l_linenumber) is not unique there, so a hard-coded "primary key"
    * would silently DROP legitimate rows. With `idCols` empty the
    * contract assumes exactly-once rows within a batch.
    *
    * @param idCols row-identity columns to dedup each batch on (the
    *               at-least-once guard); empty = exactly-once contract
    * @param out receives (rule, n_rows, n_violations, pass) per batch
    */
  def dqSink(stateDir: String, idCols: Seq[String] = Nil,
      compactEvery: Int = 8)(
      out: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val st = new BatchState(spark, stateDir,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rule",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.LongType))),
        compactEvery, None)
      val distinctBatch = dedupOnDeclaredIds(batch, idCols, "dqSink")
      val agg1 = graft.operators.Dq.lineitemRowAgg(distinctBatch)
        .localCheckpoint() // two rule rows read the 1-row aggregate
      val delta = Seq("lineitem_quantity_range" -> "v_qty",
          "lineitem_discount_range" -> "v_disc")
        .map { case (r, vc) =>
          // coalesce: an EMPTY micro-batch's sum(CASE) is NULL, and a
          // null would poison the cumulative counters and emit a null
          // pass flag where the batch twin emits (0, true)
          agg1.select(lit(r).as("rule"),
            coalesce(col("n").cast("long"), lit(0L)).as("n"),
            coalesce(col(vc).cast("long"), lit(0L)).as("v"))
        }
        .reduce(_ unionByName _)
      val prior = st.visible(batchId).groupBy("rule")
        .agg(max("n").as("n"), max("v").as("v"))
      val merged = prior.unionByName(delta).groupBy("rule")
        .agg(sum("n").as("n"), sum("v").as("v"))
        .localCheckpoint() // feeds the report + commit
      try {
        out(merged.select(col("rule"), col("n").as("n_rows"),
            col("v").as("n_violations"),
            (col("v") === 0L).as("pass"))
          .orderBy("rule"))
        st.commit(merged, batchId)
      } finally { merged.unpersist(); agg1.unpersist() }
    }

  /** Streaming PERCEPTUAL near-dup suppression — the media twin of
    * [[minhashDedupSink]] for a stream of (media_id, phash) rows (the
    * [[graft.multimodal.Multimodal.perceptualHashes]] projection of an
    * ingest pipeline): per micro-batch, band each 60-bit hash
    * ([[graft.multimodal.PhashIndex.bandRows]] — production 4×15-bit
    * layout by default, pigeonhole-exact for `hamMax < bands`), flag
    * media within `hamMax` hamming of the state table OR of an
    * earlier-id media of the same batch, then append the batch's banded
    * hashes to state. Unlike the MinHash sink, the match is VERIFIED
    * in-plan (`bit_count(xor) ≤ hamMax` against the stored hash) — a
    * perceptual hash carries its own distance evidence, so the sink
    * emits confirmed near-dups, not candidates.
    *
    * Same [[BatchState]] replay/compaction/retention contract as the
    * MinHash sink (asserted in StreamingSpec for this sink too).
    *
    * @param out receives (media_id, is_neardup) per micro-batch
    */
  def phashDedupSink(stateDir: String,
      bands: Int = graft.multimodal.PhashIndex.BANDS,
      hamMax: Int = graft.multimodal.PhashIndex.HAM_MAX,
      compactEvery: Int = 16, retentionBatches: Option[Long] = None)(
      out: DataFrame => Unit): (DataFrame, Long) => Unit = {
    require(hamMax < bands,
      s"pigeonhole needs hamMax < bands, got $hamMax vs $bands")
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val rows = graft.multimodal.PhashIndex.bandRows(
        batch.select("media_id", "phash"), bands).localCheckpoint()
      try {
        val st = new BatchState(spark, stateDir,
          org.apache.spark.sql.types.StructType(
            rows.schema.filter(f => f.name != "media_id")),
          compactEvery, retentionBatches)
        val state = st.visible(batchId)
          .select(col("band"), col("bv"), col("phash").as("base_phash"))
        val vsState = rows.join(state, Seq("band", "bv"))
          .filter(bit_count(col("phash").bitwiseXOR(col("base_phash")))
            <= hamMax)
          .select("media_id")
        val vsBatch = rows.as("x").join(rows.as("y"),
            col("x.band") === col("y.band") && col("x.bv") === col("y.bv")
              && col("x.media_id") > col("y.media_id"))
          .filter(bit_count(col("x.phash").bitwiseXOR(col("y.phash")))
            <= hamMax)
          .select(col("x.media_id").as("media_id"))
        val dups = vsState.union(vsBatch).distinct()
        out(batch.select("media_id")
          .join(dups.withColumn("is_neardup", lit(true)), Seq("media_id"),
            "left")
          .select(col("media_id"),
            coalesce(col("is_neardup"), lit(false)).as("is_neardup")))
        st.commit(rows.select("band", "bv", "phash"), batchId)
      } finally rows.unpersist()
  }

  /** Streaming AUDIO near-dup detection — the audio twin of
    * [[phashDedupSink]], the online mirror of the batch
    * `mm_audio_neardup` query for clips arriving as a stream of
    * (media_id, payload: binary) rows: each micro-batch's
    * position-keyed energy-contour grams
    * ([[graft.multimodal.Multimodal.audioGrams]] — the ONE shared
    * fingerprint pipeline, so frame size / gram width / min-gram floor
    * cannot drift from the batch query) join the persisted gram
    * history and the batch itself on (pos, gram); a clip flags when
    * the batch gate holds against ANY earlier clip: matched·2 ≥
    * min(n_new, n_base), both sides ≥ the
    * [[graft.multimodal.Multimodal.AUDIO_MIN_GRAMS]] floor. Per-media
    * gram counts ride the state rows DENORMALIZED (constant per
    * media), so the gate needs no second pass over history.
    *
    * State = thin (media_id, pos, g, n) rows for floor-passing media
    * only (sub-floor clips can never match — same exclusion as the
    * batch query), under the [[BatchState]] replay/compaction
    * contract: a replayed batch reads strictly older partitions and
    * recomputes identical flags.
    */
  def audioDedupSink(stateDir: String, compactEvery: Int = 16,
      retentionBatches: Option[Long] = None)(
      out: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      import spark.implicits._
      val media = batch.select("media_id", "payload")
        .as[(Long, Array[Byte])]
        .map { case (id, p) => graft.multimodal.MediaRecord(id, p,
          graft.multimodal.MediaMeta("audio", 0, 0, 0L)) }
      val g0 = graft.multimodal.Multimodal.audioGrams(media)
      val counts = g0.groupBy("media_id").agg(count(lit(1)).as("n"))
        .filter(col("n") >= graft.multimodal.Multimodal.AUDIO_MIN_GRAMS)
      val rows = g0.join(counts, "media_id")
        .select("media_id", "pos", "g", "n").localCheckpoint()
      try {
        val st = new BatchState(spark, stateDir,
          org.apache.spark.sql.types.StructType(rows.schema.fields),
          compactEvery, retentionBatches)
        val state = st.visible(batchId)
          .select(col("pos"), col("g"), col("media_id").as("base_id"),
            col("n").as("n_base"))
        val vsState = rows.join(state, Seq("pos", "g"))
          .groupBy(col("media_id"), col("base_id"), col("n"),
            col("n_base"))
          .agg(count(lit(1)).as("matched"))
          .filter(col("matched") * 2 >= least(col("n"), col("n_base")))
          .select("media_id")
        val vsBatch = rows.as("x").join(rows.as("y"),
            col("x.pos") === col("y.pos") && col("x.g") === col("y.g")
              && col("x.media_id") > col("y.media_id"))
          .groupBy(col("x.media_id").as("media_id"),
            col("y.media_id").as("base_id"),
            col("x.n").as("n_a"), col("y.n").as("n_b"))
          .agg(count(lit(1)).as("matched"))
          .filter(col("matched") * 2 >= least(col("n_a"), col("n_b")))
          .select("media_id")
        val dups = vsState.union(vsBatch).distinct()
        out(batch.select("media_id")
          .join(dups.withColumn("is_neardup", lit(true)),
            Seq("media_id"), "left")
          .select(col("media_id"),
            coalesce(col("is_neardup"), lit(false)).as("is_neardup")))
        st.commit(rows, batchId)
      } finally rows.unpersist()
    }

  /** Streaming media-embedding near-dup detection — the online mirror
    * of the batch `mm_embed_dedup` tier for media arriving as a stream
    * of (media_id, payload: binary) rows, completing the per-modality
    * dedup-sink grid (text: [[minhashDedupSink]]; image:
    * [[phashDedupSink]]; audio: [[audioDedupSink]]; embedding: this).
    * Each micro-batch shares ONE pipeline definition with the batch
    * query and the [[graft.multimodal.EmbedState]] artifact
    * (`bucketsOf` candidates, `verify` exact gram-cosine at the same
    * τ — the duplicated-literal twin trap): the batch's byte-gram band
    * buckets join the persisted bucket history and themselves, and
    * candidates verify against the stored FEATURE vectors (ingested
    * payloads are never re-decoded — the EmbedState posture). Emits
    * the verified (a_id, b_id, cosine) pairs the batch discovered;
    * the union of all batches' emissions over any corpus slicing
    * equals the batch query's pair set bit-exactly (StreamingSpec).
    *
    * State = TWO [[BatchState]] tables under `stateDir` (thin bucket
    * rows + ~0.5 KB feature rows per media), both under the shared
    * replay/compaction contract: a replayed batch reads strictly older
    * partitions and recomputes identical pairs.
    */
  def embedDedupSink(stateDir: String, compactEvery: Int = 16,
      retentionBatches: Option[Long] = None)(
      out: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      import spark.implicits._
      val media = batch.select("media_id", "payload")
        .as[(Long, Array[Byte])]
        .map { case (id, p) => graft.multimodal.MediaRecord(id, p,
          graft.multimodal.MediaMeta("image", 0, 0, 0L)) }
      val bNew = graft.multimodal.EmbedState.bucketsOf(media)
        .localCheckpoint()
      val vNew = graft.multimodal.Multimodal.gramVectors(media)
        .select(col("vec_id").as("doc_id"), col("v")).localCheckpoint()
      try {
        val stB = new BatchState(spark, s"$stateDir/buckets",
          org.apache.spark.sql.types.StructType(bNew.schema.fields),
          compactEvery, retentionBatches)
        val stV = new BatchState(spark, s"$stateDir/vecs",
          org.apache.spark.sql.types.StructType(vNew.schema.fields),
          compactEvery, retentionBatches)
        val cross = bNew.as("x")
          .join(stB.visible(batchId)
            .select("doc_id", "band", "bh").as("y"),
            col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
          .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
            greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"))
          .filter(col("a_id") =!= col("b_id"))
          .distinct()
        val self = bNew.as("x").join(bNew.as("y"),
            col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
              && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .distinct()
        val cand = cross.unionByName(self).distinct()
        val vAll = vNew.unionByName(
          stV.visible(batchId).select("doc_id", "v"))
        out(graft.multimodal.EmbedState.verify(cand, vAll))
        stB.commit(bNew, batchId)
        stV.commit(vNew, batchId)
      } finally { bNew.unpersist(); vNew.unpersist() }
    }

  /** Streaming vector ingest into a persisted kNN-GRAPH artifact — the
    * online mirror of [[graft.sim.Knn.appendKnnGraph]] for embeddings
    * arriving as a stream of (vec_id, v: array<double>) rows: each
    * micro-batch appends against the FROZEN build-time codebook
    * (slice-assign + reverse-probe refresh of exactly the existing
    * nodes the slice's cells can re-rank — never slice×corpus) and
    * emits the BATCH'S OWN nodes' top-k edges as of ingest (the
    * neighbors-on-arrival lookup an online ANN pipeline consumes;
    * a node's stored edges can still be refreshed by LATER slices —
    * read the artifact for the current view). After any prefix of the
    * stream the artifact holds exactly the frozen-codebook graph over
    * the vectors ingested so far (StreamingSpec pins it), so all six
    * graph analytics can run mid-stream.
    *
    * Replay-idempotent WITHOUT a separate state table: the append
    * itself keys every write by `ingest_id = batchId + 1` (dynamic
    * self-overwrite; 0 is the base build). The artifact must exist
    * (built by [[graft.sim.Knn.buildKnnGraphIndexFrom]] on the
    * training snapshot — the FAISS add-after-train contract); the
    * first batch fails fast otherwise.
    */
  def knnGraphSink(indexPath: String)(
      out: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val cents = new org.apache.hadoop.fs.Path(s"$indexPath/cents")
      require(cents.getFileSystem(
          spark.sparkContext.hadoopConfiguration).exists(cents),
        s"knnGraphSink: no kNN-graph artifact at $indexPath — build one " +
          "from a training snapshot first (buildKnnGraphIndexFrom); " +
          "streaming ingest appends against its frozen codebook")
      val slice = batch.select("vec_id", "v").localCheckpoint()
      try {
        graft.sim.Knn.appendKnnGraph(spark, indexPath, slice, batchId + 1)
        out(graft.Tables.parquet(spark, s"$indexPath/edges")
          .join(slice.select(col("vec_id").as("query_id")), "query_id")
          .select("query_id", "neighbor_id", "rank", "cosine"))
      } finally slice.unpersist()
    }

  /** Streaming benchmark decontamination — the online mirror of the
    * batch `decontam_ngram` query for a corpus arriving as a stream: per
    * micro-batch, every document's n-grams are checked against the FIXED
    * benchmark gram set via the same broadcast hash join
    * ([[graft.text.Decontam.flags]]), emitting (doc_id, n_hits,
    * contaminated). Stateless by construction — the benchmark side of a
    * decontamination check never grows with the stream — so any corpus
    * slicing into micro-batches yields exactly the batch flags
    * (asserted in StreamingSpec), and state is ZERO: the only
    * distributed structure is the broadcast that ships with each batch's
    * plan, the same 100 TB posture as the batch query.
    */
  def decontamSink(benchGrams: DataFrame)(
      out: DataFrame => Unit): (DataFrame, Long) => Unit = {
    // materialize the (small) gram set once: re-deriving it per batch
    // would rescan the benchmark source every few seconds
    val grams = benchGrams.localCheckpoint()
    (batch: DataFrame, _: Long) =>
      out(graft.text.Decontam.flags(batch, grams))
  }

  /** Streaming PII scrubbing — the online mirror of the batch
    * `text_pii_scrub` stage for a corpus arriving as a stream (the
    * Dolma/RefinedWeb ingest loop scrubs BEFORE anything else persists
    * the text): per micro-batch, one [[graft.functions.PiiScrub]]
    * codegen kernel call per row via the SHARED
    * [[graft.text.TextOps.piiScrubFlags]] projection. Stateless and
    * shuffle-free by construction — redaction has no cross-document
    * state — so any corpus slicing into micro-batches yields exactly
    * the batch rows (asserted in StreamingSpec), and the 100 TB posture
    * is identical to the batch query: map-only, zero exchanges.
    */
  def piiScrubSink(out: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) =>
      out(graft.text.TextOps.piiScrubFlags(batch))

  /** Streaming backward as-of enrichment — the online mirror of the
    * native [[graft.plans.AsofJoinExec]]: every click picks up the
    * latest prior-or-equal purchase of the same user. Per-user state is
    * ONE (purchaseMs, purchaseId) pair — O(1), hash-partitioned by user,
    * exactly the operator's batch merge-state moved into
    * `flatMapGroupsWithState`.
    *
    * Contract: for streams in event-time order across micro-batches this
    * equals the batch operator exactly (in-batch disorder is handled by
    * sorting each group's batch slice; equal-time purchases sort before
    * clicks, so equal timestamps match, and same-(user,ts) purchases
    * resolve to the max eventId — the batch dedup rule). Late purchases
    * never rewind state (a purchase older than the stored one is
    * ignored); late clicks enrich against current state.
    *
    * State lifetime: by default a purchase stays matchable forever
    * (like the batch semantics) — an UNBOUNDED user domain then grows
    * state without bound. `idleTimeoutMs = Some(ttl)` bounds it with an
    * event-time TTL: a user with no activity (purchase OR click) for
    * `ttl` of event time has their stored purchase dropped once the
    * watermark passes; later clicks of that user enrich to None until a
    * new purchase arrives. Within the horizon — every per-user gap
    * ≤ ttl — output is IDENTICAL to the unbounded form (StreamingSpec
    * asserts both halves). The watermark also starts dropping
    * later-than-watermark events upstream, the standard trade of
    * bounding online state.
    */
  def asofEnrich(events: Dataset[AsofEv],
      idleTimeoutMs: Option[Long] = None,
      watermarkDelay: String = "2 hours"): Dataset[EnrichedClick] = {
    import events.sparkSession.implicits._
    val keyed = idleTimeoutMs match {
      case Some(ttl) =>
        require(ttl > 0, s"idleTimeoutMs must be > 0, got $ttl")
        events.withColumn("event_time", timestamp_millis(col("tsMs")))
          .withWatermark("event_time", watermarkDelay)
          .as[AsofEv]
      case None => events
    }
    val timeoutConf = if (idleTimeoutMs.isDefined)
      GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    keyed
      .groupByKey(_.userId)
      .flatMapGroupsWithState[AsofState, EnrichedClick](
        OutputMode.Append, timeoutConf) {
        (userId: Long, rows: Iterator[AsofEv], state: GroupState[AsofState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            state.remove() // idle past the horizon: forget the purchase
            Iterator.empty
          } else {
            // purchases before clicks at equal ts (equal timestamps
            // match); eventId last so the max id wins same-(user,ts)
            // purchase dedup
            val sorted = rows.toSeq.sortBy(e =>
              (e.tsMs, !e.isPurchase, e.eventId))
            val out = Seq.newBuilder[EnrichedClick]
            var cur = state.getOption.orNull
            // monotone across batches: a late slice must not rewind it
            var lastAct = math.max(
              if (cur == null) Long.MinValue else cur.lastActivityMs,
              sorted.last.tsMs)
            for (e <- sorted) {
              if (e.isPurchase) {
                if (cur == null || e.tsMs > cur.purchaseMs ||
                    (e.tsMs == cur.purchaseMs && e.eventId > cur.purchaseId))
                  cur = AsofState(e.tsMs, e.eventId, lastAct)
              } else {
                out += (if (cur != null && cur.purchaseMs <= e.tsMs)
                  EnrichedClick(e.eventId, userId, e.tsMs,
                    Some(cur.purchaseId), Some(cur.purchaseMs))
                else EnrichedClick(e.eventId, userId, e.tsMs, None, None))
              }
            }
            if (cur != null) {
              cur = cur.copy(lastActivityMs = lastAct)
              state.update(cur)
              idleTimeoutMs.foreach { ttl =>
                // horizon anchors to the user's latest activity EVER
                // seen (monotone — anchoring to this batch's max alone
                // would let a late slice of older events shrink an
                // already-set horizon and expire the purchase early);
                // clamped above the current watermark (a very late
                // slice must not set an already-expired timeout, which
                // Spark rejects)
                val anchor = math.max(lastAct + ttl,
                  state.getCurrentWatermarkMs() + 1)
                state.setTimeoutTimestamp(anchor)
              }
            }
            out.result().iterator
          }
      }
  }

  /** Streaming FORWARD-FILL gap imputation — the online mirror of batch
    * q43_gapfill (LOCF): every event is emitted with the user's latest
    * reading at or before it; a reading event fills with itself. State
    * per user is ONE (ts, id, reading) triple — O(1), no buffer, no
    * timeout needed — and only ever advances in (ts, id) order, so a
    * late reading slice can never rewind an already-carried value.
    *
    * Contract: in-order streams match batch q43 bit-for-bit (asserted
    * on the real events table in StreamingSpec — readings are COPIED
    * doubles, no arithmetic). A late non-reading event older than the
    * carried state is emitted UNFILLED rather than filled from its
    * future (the state is guarded by the (ts, id) order test) — the
    * documented online approximation, conservative in the direction
    * imputation QA wants.
    */
  def gapfill(events: Dataset[GapEv],
      watermarkDelay: String = "2 hours"): Dataset[GapRow] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_time", timestamp_millis(col("tsMs")))
      .withWatermark("event_time", watermarkDelay)
      .as[GapEv]
      .groupByKey(_.userId)
      .flatMapGroupsWithState[GapState, GapRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[GapEv], state: GroupState[GapState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.tsMs, e.eventId))
          var cur = state.getOption.orNull
          def notAfter(ts: Long, id: Long, e: GapEv): Boolean =
            ts < e.tsMs || (ts == e.tsMs && id <= e.eventId)
          val out = sorted.map { e =>
            e.reading match {
              case Some(r) =>
                if (cur == null || notAfter(cur.tsMs, cur.eventId, e))
                  cur = GapState(e.tsMs, e.eventId, r)
                GapRow(e.eventId, userId, e.tsMs, e.reading, Some(r),
                  isImputed = false)
              case None =>
                if (cur != null && notAfter(cur.tsMs, cur.eventId, e))
                  GapRow(e.eventId, userId, e.tsMs, None,
                    Some(cur.reading), isImputed = true)
                else GapRow(e.eventId, userId, e.tsMs, None, None,
                  isImputed = false)
            }
          }
          if (cur != null) state.update(cur)
          out.iterator
      }
  }

  /** Streaming trailing-window Z-SCORE anomaly detector — the online
    * mirror of batch q35_anomaly_zscore: flag an event whose floor-micro
    * value sits > 3σ from the mean of the user's previous ≤ `win`
    * events, judged with the same sqrt-free integer test
    * `(v·n − S₁)² > 9(n·S₂ − S₁²)` (BigInt here; DECIMAL(38,0) in the
    * batch plan — identical integers). State per user is ONE bounded
    * buffer of the last `win` (ts, id, value) triples — the O(win)
    * ring a production detector keeps — so state size is |users|·win
    * regardless of stream length, no timeout needed.
    *
    * Contract: in-order streams match batch q35 bit-for-bit (asserted
    * on the real events table in StreamingSpec). A late event within
    * the watermark is judged against its true predecessors when they
    * are still inside the buffer (inserted in (ts, id) order, exactly
    * the batch frame); one older than the buffer's span is judged
    * against what remains — the documented online approximation.
    */
  def anomalyFlags(events: Dataset[Ev], win: Int = 20, minN: Int = 10,
      watermarkDelay: String = "2 hours"): Dataset[ZscoreFlag] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_time", timestamp_millis(col("tsMs")))
      .withWatermark("event_time", watermarkDelay)
      .as[Ev]
      .groupByKey(_.userId)
      .flatMapGroupsWithState[ZState, ZscoreFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[ZState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.tsMs, e.eventId))
          val out = Seq.newBuilder[ZscoreFlag]
          var buf = state.getOption.map(_.buf.toVector)
            .getOrElse(Vector.empty)
          for (e <- sorted) {
            val vm = math.floor(e.value * 1000000d).toLong
            val idx = buf.indexWhere(t => t._1 > e.tsMs ||
              (t._1 == e.tsMs && t._2 > e.eventId)) match {
              case -1 => buf.size
              case i  => i
            }
            val window = buf.slice(math.max(0, idx - win), idx)
            val n = window.size
            if (n >= minN) {
              val s1 = window.iterator.map(t => BigInt(t._3)).sum
              val s2 = window.iterator
                .map(t => BigInt(t._3) * BigInt(t._3)).sum
              val dev = BigInt(vm) * n - s1
              if (dev * dev > 9 * (BigInt(n) * s2 - s1 * s1))
                out += ZscoreFlag(e.eventId, userId, e.tsMs, vm, n.toLong)
            }
            buf = (buf.take(idx) :+ ((e.tsMs, e.eventId, vm))) ++
              buf.drop(idx)
            if (buf.size > win) buf = buf.takeRight(win)
          }
          state.update(ZState(buf))
          out.result().iterator
      }
  }

  /** Streaming SCD TYPE-2 interval builder — the online mirror of batch
    * q33_scd2_intervals, completing the CDC trio (q30 latest-record
    * compaction, q33 batch interval build): each (user, event_type)
    * change stream becomes `[valid_from, valid_to)` rows, a version's
    * interval emitted the moment its SUCCESSOR arrives (O(1) state per
    * key — just the open version), and the open version emitted as
    * `is_current` when the event-time idle timeout fires.
    *
    * Ordering contract: equal-ts versions chain by event_id, exactly the
    * batch `lead` over (ts_ms, event_id) — so an in-order stream matches
    * q33 bit-for-bit (asserted on the real events table in
    * StreamingSpec). Cross-batch late events within the watermark are
    * handled as SCD repair, not batch-identically: a version older than
    * the open one emits immediately as a closed historical interval
    * `[e.ts, open.valid_from)` — correct unless it overlaps an interval
    * already emitted, which no online builder can retract in append
    * mode. Post-flush events start a fresh chain (snapshot-and-resume).
    *
    * Scale: state is hash-partitioned by key; per-key state is one
    * (event_id, ts) pair; the idle timeout bounds it on unbounded key
    * domains.
    */
  def scd2Intervals(events: Dataset[ScdEv],
      watermarkDelay: String = "2 hours",
      flushIdleMs: Long = 24L * 3600000L): Dataset[Scd2Row] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_time", timestamp_millis(col("tsMs")))
      .withWatermark("event_time", watermarkDelay)
      .as[ScdEv]
      .groupByKey(e => (e.userId, e.eventType))
      .flatMapGroupsWithState[Scd2State, Scd2Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((userId, eventType), rows, state) =>
          if (rows.isEmpty && state.hasTimedOut) {
            val st = state.get
            if (!st.flushed) {
              state.update(st.copy(flushed = true))
              Iterator.single(Scd2Row(userId, eventType, st.eventId,
                st.tsMs, None, isCurrent = true))
            } else Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.tsMs, e.eventId))
            val out = Seq.newBuilder[Scd2Row]
            var cur = state.getOption.orNull
            // the sorted batch splits at the open version: everything
            // before it is a LATE historical chain (closed among
            // themselves, last one closed by the open version — exactly
            // the batch `lead` when a key's lates share a batch);
            // everything after advances the open chain normally
            val (late, rest) =
              if (cur == null || cur.flushed) (Nil, sorted)
              else sorted.span(e => e.tsMs < cur.tsMs ||
                (e.tsMs == cur.tsMs && e.eventId < cur.eventId))
            for (Seq(a, b) <- late.sliding(2) if late.size > 1)
              out += Scd2Row(userId, eventType, a.eventId, a.tsMs,
                Some(b.tsMs), isCurrent = false)
            late.lastOption.foreach { a =>
              out += Scd2Row(userId, eventType, a.eventId, a.tsMs,
                Some(cur.tsMs), isCurrent = false)
            }
            for (e <- rest) {
              if (cur == null || cur.flushed) {
                cur = Scd2State(e.eventId, e.tsMs, flushed = false)
              } else {
                out += Scd2Row(userId, eventType, cur.eventId, cur.tsMs,
                  Some(e.tsMs), isCurrent = false)
                cur = Scd2State(e.eventId, e.tsMs, flushed = false)
              }
            }
            state.update(cur)
            if (!cur.flushed)
              state.setTimeoutTimestamp(math.max(cur.tsMs + flushIdleMs,
                state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Gap-based sessionizer via `flatMapGroupsWithState` with event-time
    * timeout — the streaming mirror of q20_sessionize. Emits a session
    * when a later event arrives past the gap, or when the watermark
    * passes `end + gap` (timeout). Value totals accumulate in integer
    * cents so emitted sums are partition/order-exact.
    *
    * Contract: for in-order streams this matches batch q20 exactly
    * (events within `gapMs` of the previous event share a session;
    * session_id 1-based per user, cumulative across timeouts — asserted
    * on the full events table in StreamingSpec). Cross-batch late events
    * within the watermark are handled safely, not batch-identically
    * (exact parity under arbitrary reordering is impossible online):
    * inside [start-gap, end+gap] they widen the open session (never
    * rewinding bounds); more than a gap before it they emit as their own
    * session. Later-than-watermark events are dropped upstream.
    */
  def sessionize(events: Dataset[Ev], gapMs: Long,
      watermarkDelay: String = "2 hours"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_time", timestamp_millis(col("tsMs")))
      .withWatermark("event_time", watermarkDelay)
      .as[Ev]
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[SessionState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            val st = state.get
            // tombstone (nEvents=0) keeps the session counter so a later
            // event continues the per-user numbering instead of reusing 1
            state.update(st.copy(nEvents = 0L, totalCents = 0L))
            if (st.nEvents > 0)
              Iterator.single(Session(userId, st.sessionId, st.nEvents,
                st.startMs, st.endMs, st.totalCents / 100.0))
            else Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.tsMs, e.eventId))
            var cur = state.getOption.orNull
            val closed = Seq.newBuilder[Session]
            for (e <- sorted) {
              val cents = math.round(e.value * 100)
              if (cur == null) {
                cur = SessionState(1L, 1L, e.tsMs, e.tsMs, cents)
              } else if (cur.nEvents == 0L) { // tombstone: next session id
                cur = SessionState(cur.sessionId + 1, 1L, e.tsMs, e.tsMs,
                  cents)
              } else if (e.tsMs - cur.endMs > gapMs) {
                closed += Session(userId, cur.sessionId, cur.nEvents,
                  cur.startMs, cur.endMs, cur.totalCents / 100.0)
                cur = SessionState(cur.sessionId + 1, 1L, e.tsMs, e.tsMs,
                  cents)
              } else if (e.tsMs < cur.startMs - gapMs) {
                // late event more than a gap BEFORE the open session: it
                // belongs to its own earlier session — emit it standalone
                // (taking the current id; the open session shifts up one,
                // keeping ids unique and time-ordered; it hasn't been
                // emitted yet)
                closed += Session(userId, cur.sessionId, 1L, e.tsMs,
                  e.tsMs, cents / 100.0)
                cur = cur.copy(sessionId = cur.sessionId + 1)
              } else {
                // late (out-of-order within the watermark) events may
                // precede the session bounds — widen, never rewind
                cur = cur.copy(nEvents = cur.nEvents + 1,
                  startMs = math.min(cur.startMs, e.tsMs),
                  endMs = math.max(cur.endMs, e.tsMs),
                  totalCents = cur.totalCents + cents)
              }
            }
            if (cur != null) {
              state.update(cur)
              if (cur.nEvents > 0)
                state.setTimeoutTimestamp(cur.endMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }
}
