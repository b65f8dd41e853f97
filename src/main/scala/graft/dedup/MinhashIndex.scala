package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash bucket index — the dedup-state artifact as a real
  * build / append / check API: the batch twin of
  * [[graft.streaming.Streaming.minhashDedupSink]]'s state directory and
  * the productized form of the base bucket table `dedup_cross` derives
  * in-query. A production ingest loop runs exactly this shape: check
  * each incoming slice against the indexed history, then append the
  * slice so the next one sees it.
  *
  * Layout: `path/buckets` = (doc_id, band, bh) rows — 3 thin columns
  * per (doc, band), the same signature rows every MinHash operator in
  * the library derives from the one shared
  * [[graft.functions.MinhashBands]] kernel. `check` returns LSH
  * CANDIDATES (bucket collisions), matching the streaming sink's
  * contract; callers wanting verified near-dups run exact jaccard on
  * the candidate pairs against their corpus (the `dedup_cross` verify
  * stage) — the index stores signatures, never text.
  *
  * Scale: the index is append-only thin rows; `check` broadcasts the
  * (typically slice-sized) probe buckets against one scan of the index
  * when small enough, and degrades to a hash join on (band, bh)
  * otherwise — never any base×base pairing. Duplicate bucket rows from
  * re-appending a doc are harmless: candidates dedup through the min
  * aggregate.
  */
object MinhashIndex {

  /** Build a fresh index at `path` from (doc_id, text) rows,
    * overwriting any prior index there.
    */
  def build(docs: DataFrame, path: String,
      perms: Int = Dedup.PERMS, bands: Int = Dedup.BANDS): Unit = {
    Dedup.bandBuckets(docs, perms, bands)
      .write.mode("overwrite").parquet(s"$path/buckets")
  }

  /** Append a new slice's buckets to an existing index (run AFTER
    * checking the slice, so a slice never collides with itself through
    * the index). `perms`/`bands` must match the build.
    */
  def append(docs: DataFrame, path: String,
      perms: Int = Dedup.PERMS, bands: Int = Dedup.BANDS): Unit =
    Dedup.bandBuckets(docs, perms, bands)
      .write.mode("append").parquet(s"$path/buckets")

  /** TAKEDOWN: drop documents from the index — delete(x) ∘ build(A) ≡
    * build(A∖x) on the stored buckets (MinhashIndexSpec pins it): one
    * thin anti-join rewrite of the signature rows (the index never
    * stores text, so ~24 longs per doc move). Removing an unknown id
    * is a no-op; a removed id may be re-appended later.
    */
  def remove(s: SparkSession, path: String, docIds: DataFrame): Unit = {
    val keep = graft.Checkpoint.of(graft.Tables.parquet(s, s"$path/buckets")
      .join(docIds.select("doc_id").distinct(), Seq("doc_id"),
        "left_anti"))
    keep.write.mode("overwrite").parquet(s"$path/buckets")
  }

  /** Check (doc_id, text) rows against the indexed history: one row per
    * input doc with `is_candidate` (shares ANY band bucket with an
    * indexed doc) and `candidate_of` (smallest matching indexed
    * doc_id, null when none) — the `dedup_cross` candidate stage
    * against the persisted state.
    */
  def check(s: SparkSession, path: String, newDocs: DataFrame,
      perms: Int = Dedup.PERMS, bands: Int = Dedup.BANDS): DataFrame = {
    val state = graft.Tables.parquet(s, s"$path/buckets")
      .select(col("band"), col("bh"), col("doc_id").as("base_id"))
    val probe = Dedup.bandBuckets(newDocs, perms, bands)
    val matched = probe.join(state, Seq("band", "bh"))
      .groupBy("doc_id").agg(min("base_id").as("candidate_of"))
    newDocs.select("doc_id")
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("candidate_of").isNotNull.as("is_candidate"),
        col("candidate_of"))
  }
}
