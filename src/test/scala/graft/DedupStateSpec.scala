package graft

import org.apache.spark.sql.functions.col

/** Persisted dedup state ([[graft.dedup.DedupState]]) — the `*_persisted`
  * cluster-consumer twins must answer EXACTLY like their derive-in-query
  * twins (same oracle gates both at the driver), and the artifact must
  * build once per corpus per JVM.
  */
class DedupStateSpec extends SparkSpec {

  test("persisted dedup state: every *_persisted twin answers exactly " +
      "like its derive-in-query twin, builds once, queries reuse it") {
    for ((p, t) <- Seq(
        "dedup_clusters_persisted" -> "dedup_clusters",
        "dedup_keep_best_persisted" -> "dedup_keep_best",
        "dedup_weights_persisted" -> "dedup_weights",
        "sample_split_dedup_persisted" -> "sample_split_dedup",
        "dedup_lexsem_persisted" -> "dedup_lexsem",
        "pipeline_prepare_clustered_persisted"
          -> "pipeline_prepare_clustered")) {
      val got = SparkEntry.queries(p)(spark, sfDir).collect().toSeq
      val want = SparkEntry.queries(t)(spark, sfDir).collect().toSeq
      assert(got == want, s"$p must answer exactly like $t")
    }
    val pairBuilds = Artifacts.builds("dedupstate")
    val dropBuilds = Artifacts.builds("pipelinedrops")
    assert(pairBuilds >= 1 && dropBuilds >= 1,
      "first queries must have built the artifacts")
    SparkEntry.queries("dedup_weights_persisted")(spark, sfDir).collect()
    SparkEntry.queries("pipeline_prepare_clustered_persisted")(
      spark, sfDir).collect()
    assert(Artifacts.builds("dedupstate") == pairBuilds &&
      Artifacts.builds("pipelinedrops") == dropBuilds,
      "subsequent queries must NOT rebuild the stored state")
  }

  test("appendDedupState: incremental slice ingest equals a " +
      "from-scratch build over the union, bit-exactly") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 2 === 0)
    val slice = docs.filter(col("doc_id") % 2 =!= 0)
    val incr = java.nio.file.Files.createTempDirectory("graft-ds-incr")
    val full = java.nio.file.Files.createTempDirectory("graft-ds-full")
    try {
      graft.dedup.DedupState.buildDedupStateFrom(docs, full.toString)
      graft.dedup.DedupState.buildDedupStateFrom(base, incr.toString)
      graft.dedup.DedupState.appendDedupState(spark, incr.toString,
        base, slice)
      // pairs compared on content columns — ingest_id is bookkeeping
      // (0 in the one-shot build, 0/1 across the incremental path)
      def pairs(p: String) = spark.read.parquet(s"$p/pairs")
        .select("a_id", "b_id", "jaccard").collect().toSet
      def rows(p: String) = spark.read.parquet(p).collect().toSet
      assert(pairs(incr.toString).nonEmpty)
      assert(pairs(incr.toString) == pairs(full.toString),
        "appended pair table must equal the from-scratch build's")
      assert(rows(s"$incr/labels") == rows(s"$full/labels"),
        "recomputed labels must equal the from-scratch build's")
      assert(graft.dedup.DedupState.lastRelabelDocs < docs.count(),
        "append's label pass must relabel only affected components, " +
          "not the full corpus")

      // replay: same slice, same ingest id — every table unchanged
      def counts() = Seq("pairs", "buckets", "labels")
        .map(t => t -> spark.read.parquet(s"$incr/$t").count()).toMap
      val before = counts()
      val labelsBefore = rows(s"$incr/labels")
      graft.dedup.DedupState.appendDedupState(spark, incr.toString,
        base, slice)
      assert(counts() == before,
        "a replayed slice must not change any table's row count")
      assert(rows(s"$incr/labels") == labelsBefore,
        "a replayed slice must not change labels")

      // identity guard: re-appending the same docs under a DIFFERENT
      // ingest id must fail fast, not silently duplicate state
      val err = intercept[IllegalArgumentException] {
        graft.dedup.DedupState.appendDedupState(spark, incr.toString,
          base, slice, ingestId = 2L)
      }
      assert(err.getMessage.contains("ingestId"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(incr.toFile); rm(full.toFile)
    }
  }

  test("removeDocs: takedown equals a from-scratch build over the " +
      "remaining corpus, relabeling only affected components") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val gone = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
    val keep = docs.join(gone, Seq("doc_id"), "left_anti")
    val full = java.nio.file.Files.createTempDirectory("graft-ds-del")
    val rest = java.nio.file.Files.createTempDirectory("graft-ds-rest")
    try {
      graft.dedup.DedupState.buildDedupStateFrom(docs, full.toString)
      graft.dedup.DedupState.buildDedupStateFrom(keep, rest.toString)
      graft.dedup.DedupState.removeDocs(spark, full.toString, gone)
      def buckets(p: java.nio.file.Path) = spark.read
        .parquet(s"$p/buckets").select("doc_id", "band", "bh")
        .collect().toSet
      def pairs(p: java.nio.file.Path) = spark.read
        .parquet(s"$p/pairs").select("a_id", "b_id", "jaccard")
        .collect().toSet
      def labels(p: java.nio.file.Path) = spark.read
        .parquet(s"$p/labels").collect().toSet
      assert(buckets(full) == buckets(rest),
        "takedown buckets must equal the remaining-corpus build's")
      assert(pairs(full) == pairs(rest),
        "takedown pairs must equal the remaining-corpus build's")
      assert(labels(full) == labels(rest),
        "takedown labels must equal the remaining-corpus build's " +
          "(component splits included)")
      assert(graft.dedup.DedupState.lastRemoveRelabelDocs < keep.count(),
        "delete's label pass must relabel only affected components")
      // idempotent: removing already-gone ids changes nothing
      graft.dedup.DedupState.removeDocs(spark, full.toString, gone)
      assert(labels(full) == labels(rest))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(full.toFile); rm(rest.toFile)
    }
  }

  test("stored label table covers every document exactly once, " +
      "singletons cluster to themselves with size 1") {
    val labels = graft.dedup.DedupState.readLabels(spark, sfDir)
    val nDocs = Tables(spark, sfDir, "documents").count()
    assert(labels.count() == nDocs)
    assert(labels.select("doc_id").distinct().count() == nDocs)
    val singles = labels.filter(col("cluster_size") === 1)
    assert(singles.filter(col("doc_id") =!= col("cluster_id")).count() == 0,
      "a size-1 cluster's only member must be its own representative")
  }
}
