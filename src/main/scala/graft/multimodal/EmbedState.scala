package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The media-embedding DEDUP state as a PERSISTED artifact — the
  * [[graft.dedup.DedupState]] recipe applied to [[Multimodal]]'s
  * embedding tier (`mm_embed_dedup`): the byte-gram MinHash bucket
  * join + exact gram-cosine verify run ONCE per corpus snapshot, and
  * what survives is three THIN tables a consumer joins instead of
  * re-decoding payloads per invocation:
  *
  *   - `path/buckets` = (doc_id, band, bh) byte-4-gram MinHash band
  *     buckets ([[Multimodal.byteGramShingles]] →
  *     [[graft.dedup.Dedup.bandBucketsFromShingles]], 24×6) — the
  *     append-side candidate state;
  *   - `path/vecs`    = (doc_id, v) the [[Multimodal.GRAM_D]]-bucket
  *     gram-histogram vectors (the verify feature — ~0.5 KB per media,
  *     so appends verify against stored features, never re-decoded
  *     payloads);
  *   - `path/pairs`   = (a_id, b_id, cosine) the verified
  *     ≥ [[Multimodal.MM_DEDUP_TAU]] pair list.
  *
  * All three are `ingest_id`-partitioned (0 = base build; appends take
  * ids > 0 and dynamically overwrite their own partitions — a replayed
  * slice is a no-op, the [[graft.dedup.DedupState.appendDedupState]]
  * contract, identity-guarded the same way). Doubles round-trip
  * parquet bit-exactly, so the stored pairs ARE `mm_embed_dedup`'s
  * rows and the same DuckDB oracle gates the `_persisted` twin
  * verbatim. With a real CLIP encoder the layout is unchanged — `vecs`
  * holds the model embedding and `buckets` whatever candidate
  * fingerprint the modality uses.
  */
object EmbedState {

  private[graft] def tau = Multimodal.MM_DEDUP_TAU

  /** Banded byte-gram buckets for a media slice. */
  private[graft] def bucketsOf(media: Dataset[MediaRecord]): DataFrame =
    graft.dedup.Dedup.bandBucketsFromShingles(
      Multimodal.byteGramShingles(media),
      Multimodal.MM_DEDUP_PERMS, Multimodal.MM_DEDUP_BANDS)

  /** Exact-cosine verify of candidate (a_id, b_id) pairs against a
    * (doc_id, v) feature frame — the `mm_embed_dedup` verify stage,
    * identical rounding/boundary contract.
    */
  private[graft] def verify(cand: DataFrame, vecs: DataFrame): DataFrame = {
    val cos = graft.functions.CosineSim.cosineSim(col("va"), col("vb"))
    cand
      .join(vecs.select(col("doc_id").as("a_id"), col("v").as("va")),
        "a_id")
      .join(vecs.select(col("doc_id").as("b_id"), col("v").as("vb")),
        "b_id")
      .filter(cos >= lit(tau - 5e-7))
      .select(col("a_id"), col("b_id"), round(cos, 6).as("cosine"))
  }

  private def selfCandidates(buckets: DataFrame): DataFrame =
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()

  /** (doc_id, v) feature frame for a media slice under `enc` — with the
    * default [[GramHistogramEncoder]] this is bit-identical to the
    * legacy [[Multimodal.gramVectors]] path (EncoderSpec pins it), so
    * the gated oracles are untouched; any other [[MediaEncoder]] flows
    * through the SAME layout, verify kernel, and lifecycle (the
    * CLIP-compatibility the Scaladoc above declares, now a parameter
    * instead of a promise).
    */
  private[graft] def vecsOf(media: Dataset[MediaRecord],
      enc: MediaEncoder): DataFrame =
    MediaEncoder.encoderVectors(media, enc)
      .select(col("vec_id").as("doc_id"), col("v"))

  /** Build the artifact at `path` from a media lake, overwriting any
    * prior state there.
    */
  def buildEmbedStateFrom(media: Dataset[MediaRecord], path: String,
      enc: MediaEncoder = GramHistogramEncoder): Unit = {
    val buckets = graft.Checkpoint.of(bucketsOf(media))
    val vecs = graft.Checkpoint.of(vecsOf(media, enc))
    buckets.withColumn("ingest_id", lit(0L))
      .write.mode("overwrite").partitionBy("ingest_id")
      .parquet(s"$path/buckets")
    vecs.withColumn("ingest_id", lit(0L))
      .write.mode("overwrite").partitionBy("ingest_id")
      .parquet(s"$path/vecs")
    verify(selfCandidates(buckets), vecs)
      .withColumn("ingest_id", lit(0L))
      .write.mode("overwrite").partitionBy("ingest_id")
      .parquet(s"$path/pairs")
  }

  /** Append an incoming media SLICE — candidates come from slice×history
    * bucket collisions plus slice×slice; the verify joins the slice's
    * fresh features with the STORED feature table (payloads of already-
    * ingested media are never re-decoded). Replay-idempotent and
    * identity-guarded like [[graft.dedup.DedupState.appendDedupState]];
    * bit-equal to a from-scratch build over the union (EmbedStateSpec).
    */
  def appendEmbedState(s: SparkSession, path: String,
      media: Dataset[MediaRecord], ingestId: Long,
      enc: MediaEncoder = GramHistogramEncoder): Unit = {
    require(ingestId > 0,
      s"ingestId must be > 0 (0 = base build), got $ingestId")
    val bNew = graft.Checkpoint.of(bucketsOf(media))
    val priorIds = graft.Tables.parquet(s, s"$path/buckets")
      .filter(col("ingest_id") =!= ingestId)
      .select("doc_id")
    val clash = bNew.select("doc_id").distinct()
      .join(priorIds, Seq("doc_id"), "left_semi").limit(1).count()
    require(clash == 0,
      "appendEmbedState: slice media ids overlap an already-ingested " +
        "slice under a different ingestId — identities must be " +
        "globally unique (replay the SAME ingestId to retry a slice)")
    val vNew = graft.Checkpoint.of(vecsOf(media, enc))
    val bBase = graft.Tables.parquet(s, s"$path/buckets")
      .filter(col("ingest_id") =!= ingestId)
    val cross = bNew.as("x").join(bBase.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .distinct()
    val cand = graft.Checkpoint.of(
      cross.unionByName(selfCandidates(bNew)).distinct())
    val vAll = vNew.unionByName(
      graft.Tables.parquet(s, s"$path/vecs")
        .filter(col("ingest_id") =!= ingestId)
        .select("doc_id", "v"))
    verify(cand, vAll).withColumn("ingest_id", lit(ingestId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_id").parquet(s"$path/pairs")
    bNew.withColumn("ingest_id", lit(ingestId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_id").parquet(s"$path/buckets")
    vNew.withColumn("ingest_id", lit(ingestId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_id").parquet(s"$path/vecs")
  }

  /** TAKEDOWN: drop media from the artifact — thin anti-join rewrites
    * of all three tables (incident pairs included); delete(x) ∘
    * build(A) ≡ build(A∖x) (EmbedStateSpec pins it).
    */
  def removeMedia(s: SparkSession, path: String,
      mediaIds: DataFrame): Unit = {
    // NAMED id column, like every sibling takedown (MinhashIndex/
    // PhashIndex.remove select doc_id): picking columns.head
    // positionally would silently remove the wrong ids from a
    // multi-column frame with the id elsewhere
    val idCol = Seq("doc_id", "media_id").find(mediaIds.columns.contains)
      .getOrElse(throw new IllegalArgumentException(
        "removeMedia: mediaIds must carry a doc_id or media_id column; " +
          s"got [${mediaIds.columns.mkString(", ")}]"))
    val ids = graft.Checkpoint.of(
      mediaIds.select(col(idCol).as("doc_id")).distinct())
    val bKeep = graft.Checkpoint.of(graft.Tables.parquet(s, s"$path/buckets")
      .join(ids, Seq("doc_id"), "left_anti"))
    bKeep.select("doc_id", "band", "bh", "ingest_id")
      .write.mode("overwrite").partitionBy("ingest_id")
      .parquet(s"$path/buckets")
    val vKeep = graft.Checkpoint.of(graft.Tables.parquet(s, s"$path/vecs")
      .join(ids, Seq("doc_id"), "left_anti"))
    vKeep.select("doc_id", "v", "ingest_id")
      .write.mode("overwrite").partitionBy("ingest_id")
      .parquet(s"$path/vecs")
    val pKeep = graft.Checkpoint.of(graft.Tables.parquet(s, s"$path/pairs")
      .join(ids.select(col("doc_id").as("a_id")), Seq("a_id"), "left_anti")
      .join(ids.select(col("doc_id").as("b_id")), Seq("b_id"), "left_anti"))
    pKeep.select("a_id", "b_id", "cosine", "ingest_id")
      .write.mode("overwrite").partitionBy("ingest_id")
      .parquet(s"$path/pairs")
  }

  /** The stored verified pair list (a_id, b_id, cosine), built once per
    * corpus fingerprint ([[graft.Artifacts.cached]]).
    */
  def readPairs(s: SparkSession, dir: String): DataFrame =
    graft.Tables.parquet(s, graft.Artifacts.cached("embedstate", s, dir)(
      buildEmbedStateFrom(Multimodal.mediaFromDocuments(s, dir), _)) +
      "/pairs")
      .select("a_id", "b_id", "cosine")

  /** Maintenance: fold appended ingest slices into the base partitions
    * of all three ingest-partitioned tables (buckets, pairs, vecs) —
    * [[graft.sources.Sources.foldIngestPartitions]]; answers unchanged.
    */
  def compactEmbedState(s: SparkSession, path: String): (Int, Int) =
    Seq("buckets", "pairs", "vecs")
      .map(t => graft.sources.Sources.foldIngestPartitions(s, s"$path/$t"))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
}
