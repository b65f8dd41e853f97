package graft

import org.apache.spark.sql.functions.col

import graft.sim.Pq

/** Persisted IVFPQ index ([[graft.sim.Pq.buildIvfPqIndex]]): the
  * `knn_ivfpq_persisted` twin must answer exactly like the
  * derive-in-query pipeline, DPP-prune its codes reads, build once per
  * corpus per JVM, and append/remove must be equivalent to re-encoding
  * under the frozen codebooks.
  */
class PqIndexSpec extends SparkSpec {

  private def emb() = Tables(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  test("knn_ivfpq_persisted equals knn_ivfpq, DPP-prunes the codes " +
      "read, builds once") {
    val d = SparkEntry.queries("knn_ivfpq_persisted")(spark, sfDir)
    val got = d.collect().toSeq
    val want = SparkEntry.queries("knn_ivfpq")(spark, sfDir)
      .collect().toSeq
    assert(got.nonEmpty && got == want,
      "persisted IVFPQ must answer exactly like the trained pipeline")
    // past the driver bound, the plan DPP-prunes the codes read
    val e = emb()
    val fallback = Pq.queryIvfPqIndexWith(spark,
      Artifacts.cached("ivfpq", spark, sfDir)(Pq.buildIvfPqIndex(e, _)),
      e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv")),
      e, 5, graft.sim.Knn.NPROBE, 50, graft.sim.IndexQuery.PLAN)
    assert(fallback.collect().toSeq == got)
    assert(fallback.queryExecution.executedPlan.toString
      .contains("dynamicpruning"),
      "the probe broadcast must prune codes partitions at the scan")
    val builds = Artifacts.builds("ivfpq")
    assert(builds >= 1, "first query must have built the index")
    SparkEntry.queries("knn_ivfpq_persisted")(spark, sfDir).collect()
    assert(Artifacts.builds("ivfpq") == builds,
      "second query must NOT rebuild the index")
  }

  test("appendIvfPqIndex/removeFromIvfPqIndex: frozen-codebook ingest " +
      "and takedown equal re-encoding the target corpus") {
    val e = emb()
    val isSlice = col("vec_id") % 4 === 3
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq")
    try {
      val (inc, ref) = (s"$dir/inc", s"$dir/ref")
      // build on base, append the slice; reference = an index whose
      // codes were encoded from the union against the SAME frozen
      // codebooks (cents+subcents copied, codes re-derived via a
      // one-shot append over the union)
      Pq.buildIvfPqIndex(e.filter(!isSlice), inc)
      Pq.appendIvfPqIndex(spark, inc, e.filter(isSlice), 1L)
      def codes(p: String) = spark.read.parquet(s"$p/codes")
        .select(col("vec_id"), col("cent_id").cast("long"),
          col("k0"), col("k1"), col("k2"), col("k3"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      Pq.buildIvfPqIndex(e.filter(!isSlice), ref)
      // ref re-encodes base+slice in ONE shot against the same frozen
      // books: take the base codes down first (a takedown'd id may be
      // re-ingested — the legal path), then append the full union
      Pq.removeFromIvfPqIndex(spark, ref,
        e.filter(!isSlice).select("vec_id"))
      Pq.appendIvfPqIndex(spark, ref, e, 1L)
      assert(codes(inc) == codes(ref),
        "slice append must equal one-shot frozen-codebook encoding")
      // replay is a no-op
      val before = spark.read.parquet(s"$inc/codes").count()
      Pq.appendIvfPqIndex(spark, inc, e.filter(isSlice), 1L)
      assert(spark.read.parquet(s"$inc/codes").count() == before)
      // identity guard: the same slice under a DIFFERENT ingest id
      // must fail fast, not silently duplicate code rows (which would
      // corrupt ADC ranks)
      val err = intercept[IllegalArgumentException] {
        Pq.appendIvfPqIndex(spark, inc, e.filter(isSlice), 2L)
      }
      assert(err.getMessage.contains("ingestId"))
      assert(spark.read.parquet(s"$inc/codes").count() == before,
        "a rejected append must not change codes")
      // takedown: removing the slice restores the base-only code set
      Pq.removeFromIvfPqIndex(spark, inc, e.filter(isSlice)
        .select("vec_id"))
      val baseOnly = java.nio.file.Files.createTempDirectory("graft-pqb")
      try {
        Pq.buildIvfPqIndex(e.filter(!isSlice), s"$baseOnly/b")
        assert(codes(inc) == codes(s"$baseOnly/b"),
          "takedown must leave exactly the base corpus's codes")
      } finally rm(baseOnly.toFile)
    } finally rm(dir.toFile)
  }
}
