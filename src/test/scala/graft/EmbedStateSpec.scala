package graft

import org.apache.spark.sql.functions.col

import graft.multimodal.{EmbedState, Multimodal}

/** Persisted media-embedding dedup state ([[graft.multimodal
  * .EmbedState]]): the `mm_embed_dedup_persisted` twin must answer
  * exactly like the derive-in-query tier, build once per corpus per
  * JVM, and the append/remove maintenance paths must be equivalent to
  * from-scratch builds.
  */
class EmbedStateSpec extends SparkSpec {

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  test("mm_embed_dedup_persisted answers exactly like mm_embed_dedup, " +
      "builds once, queries reuse the artifact") {
    val got = SparkEntry.queries("mm_embed_dedup_persisted")(spark, sfDir)
      .collect().toSeq
    val want = SparkEntry.queries("mm_embed_dedup")(spark, sfDir)
      .collect().toSeq
    assert(got.nonEmpty && got == want,
      "persisted pairs must equal the derive-in-query tier's")
    val builds = Artifacts.builds("embedstate")
    assert(builds >= 1, "first query must have built the state")
    SparkEntry.queries("mm_embed_dedup_persisted")(spark, sfDir).collect()
    assert(Artifacts.builds("embedstate") == builds,
      "second query must NOT rebuild the stored state")
  }

  test("appendEmbedState: slice ingest equals a from-scratch build over " +
      "the union; replay is a no-op; identity guard fails fast") {
    val media = Multimodal.mediaFromDocuments(spark, sfDir)
    val base = media.filter(col("mediaId") % 2 === 0)
    val slice = media.filter(col("mediaId") % 2 =!= 0)
    val incr = java.nio.file.Files.createTempDirectory("graft-es-incr")
    val full = java.nio.file.Files.createTempDirectory("graft-es-full")
    try {
      EmbedState.buildEmbedStateFrom(media, full.toString)
      EmbedState.buildEmbedStateFrom(base, incr.toString)
      EmbedState.appendEmbedState(spark, incr.toString, slice, 1L)
      def pairs(p: java.nio.file.Path) = spark.read.parquet(s"$p/pairs")
        .select("a_id", "b_id", "cosine").collect().toSet
      assert(pairs(incr).nonEmpty && pairs(incr) == pairs(full),
        "appended pair table must equal the from-scratch union build's")
      def counts() = Seq("pairs", "buckets", "vecs")
        .map(t => t -> spark.read.parquet(s"$incr/$t").count()).toMap
      val before = counts()
      EmbedState.appendEmbedState(spark, incr.toString, slice, 1L)
      assert(counts() == before,
        "a replayed slice must not change any table's row count")
      val err = intercept[IllegalArgumentException] {
        EmbedState.appendEmbedState(spark, incr.toString, slice, 2L)
      }
      assert(err.getMessage.contains("ingestId"))
    } finally { rm(incr.toFile); rm(full.toFile) }
  }

  test("removeMedia: takedown equals a from-scratch build over the " +
      "remaining corpus") {
    val media = Multimodal.mediaFromDocuments(spark, sfDir)
    val gone = media.filter(col("mediaId") % 5 === 0)
      .toDF().select(col("mediaId").as("doc_id"))
    val keep = media.filter(col("mediaId") % 5 =!= 0)
    val full = java.nio.file.Files.createTempDirectory("graft-es-del")
    val rest = java.nio.file.Files.createTempDirectory("graft-es-rest")
    try {
      EmbedState.buildEmbedStateFrom(media, full.toString)
      EmbedState.buildEmbedStateFrom(keep, rest.toString)
      EmbedState.removeMedia(spark, full.toString, gone)
      def table(p: java.nio.file.Path, t: String, cols: Seq[String]) =
        spark.read.parquet(s"$p/$t").select(cols.head, cols.tail: _*)
          .collect().toSet
      assert(table(full, "pairs", Seq("a_id", "b_id", "cosine")) ==
        table(rest, "pairs", Seq("a_id", "b_id", "cosine")))
      assert(table(full, "buckets", Seq("doc_id", "band", "bh")) ==
        table(rest, "buckets", Seq("doc_id", "band", "bh")))
      assert(table(full, "vecs", Seq("doc_id")) ==
        table(rest, "vecs", Seq("doc_id")))
      // NAMED id-column contract: a frame with no doc_id/media_id
      // column fails fast instead of positionally removing whatever
      // happens to sit first
      val err = intercept[IllegalArgumentException] {
        EmbedState.removeMedia(spark, full.toString,
          gone.select(col("doc_id").as("whatever")))
      }
      assert(err.getMessage.contains("doc_id"))
      // a media_id-named frame resolves (sibling-API naming), and
      // re-removing already-gone ids is the documented no-op
      val vecs0 = table(full, "vecs", Seq("doc_id"))
      EmbedState.removeMedia(spark, full.toString,
        gone.select(col("doc_id").as("media_id"),
          (col("doc_id") * 0).as("extra")))
      assert(table(full, "vecs", Seq("doc_id")) == vecs0)
    } finally { rm(full.toFile); rm(rest.toFile) }
  }
}
