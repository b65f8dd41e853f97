package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted perceptual-hash index — the media-dedup state artifact as a
  * build / append / check API, the multimodal twin of
  * [[graft.dedup.MinhashIndex]]: a production media-ingest loop checks
  * each incoming slice against the indexed history, then appends the
  * slice so the next one sees it.
  *
  * Layout: `path/bands` = (media_id, band, bv, phash) rows — the banded
  * decomposition of each 60-bit [[graft.functions.PerceptualHash]]
  * (production 4×15-bit layout by default: hamming ≤ 3 ⇒ ≥1 equal band,
  * exact pigeonhole recall). Unlike the MinHash index, the stored hash IS
  * the verifier: `check` resolves bucket collisions to VERIFIED near-dups
  * with one `bit_count(xor) ≤ hamMax` filter — no corpus re-read, because
  * a perceptual hash (unlike a signature band) carries the full distance
  * evidence.
  *
  * Scale: append-only thin rows; `check` is a hash join on (band, bv)
  * (broadcast when the probe slice is small), never base×base. Re-checked
  * or re-appended media dedup through the min aggregate.
  */
object PhashIndex {

  val BANDS = 4
  val HAM_MAX = 3
  private val BITS = 60

  /** Banded rows for a (media_id, phash) frame. */
  private[graft] def bandRows(hashes: DataFrame, bands: Int): DataFrame = {
    require(BITS % bands == 0, s"$bands bands must divide $BITS bits")
    val width = BITS / bands
    hashes.select(col("media_id"), col("phash"),
        explode(array((0 until bands).map(bnd =>
          struct(lit(bnd).as("band"),
            shiftright(col("phash"), bnd * width)
              .bitwiseAND((1L << width) - 1).as("bv"))): _*)).as("b"))
      .select(col("media_id"), col("b.band"), col("b.bv"), col("phash"))
  }

  /** Build a fresh index at `path` from (media_id, phash) rows,
    * overwriting any prior index there.
    */
  def build(hashes: DataFrame, path: String, bands: Int = BANDS): Unit = {
    bandRows(hashes, bands).write.mode("overwrite").parquet(s"$path/bands")
  }

  /** Append a new slice's banded hashes (run AFTER checking the slice, so
    * a slice never collides with itself through the index). `bands` must
    * match the build.
    */
  def append(hashes: DataFrame, path: String, bands: Int = BANDS): Unit =
    bandRows(hashes, bands).write.mode("append").parquet(s"$path/bands")

  /** TAKEDOWN: drop media from the index — delete(x) ∘ build(A) ≡
    * build(A∖x) on the stored band rows (PhashIndexSpec pins it): one
    * thin anti-join rewrite ([[BANDS]] longs per media). Removing an
    * unknown id is a no-op; a removed id may be re-appended later.
    */
  def remove(s: SparkSession, path: String, mediaIds: DataFrame): Unit = {
    val keep = graft.Checkpoint.of(graft.Tables.parquet(s, s"$path/bands")
      .join(mediaIds.select("media_id").distinct(), Seq("media_id"),
        "left_anti"))
    keep.write.mode("overwrite").parquet(s"$path/bands")
  }

  /** Check (media_id, phash) rows against the indexed history: one row
    * per input media with `is_neardup` (∃ indexed media within `hamMax`
    * hamming) and `neardup_of` (smallest such indexed media_id, null when
    * none) — candidates from the band join, VERIFIED in-plan against the
    * stored hash.
    */
  def check(s: SparkSession, path: String, hashes: DataFrame,
      bands: Int = BANDS, hamMax: Int = HAM_MAX): DataFrame = {
    require(hamMax < bands,
      s"pigeonhole needs hamMax < bands, got $hamMax vs $bands")
    val state = graft.Tables.parquet(s, s"$path/bands")
      .select(col("band"), col("bv"),
        col("media_id").as("base_id"), col("phash").as("base_phash"))
    val matched = bandRows(hashes, bands)
      .join(state, Seq("band", "bv"))
      .filter(bit_count(col("phash").bitwiseXOR(col("base_phash")))
        <= hamMax)
      .groupBy("media_id").agg(min("base_id").as("neardup_of"))
    hashes.select("media_id")
      .join(matched, Seq("media_id"), "left")
      .select(col("media_id"),
        col("neardup_of").isNotNull.as("is_neardup"),
        col("neardup_of"))
  }
}
