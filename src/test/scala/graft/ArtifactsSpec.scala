package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, transform, when}

/** The artifact registry: one build per (kind, dir, corpus fingerprint),
  * one path per (kind, dir), a rebuild when the corpus under `dir` is
  * rewritten in place, and Bench's rule that a rep which built an
  * artifact is re-run and not recorded.
  */
class ArtifactsSpec extends SparkSpec {

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def withCorpus(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-artifacts-spec").toFile
    try body(dir.getAbsolutePath) finally rm(dir)
  }

  /** A trivial build: one marker file under the artifact path. */
  private def touch(path: String, name: String): Unit = {
    val p = new Path(path, name)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p).close()
  }

  private def exists(path: String, name: String): Boolean = {
    val p = new Path(path, name)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  test("one build per (kind, dir); one fixed path per (kind, dir); a " +
      "changed corpus rebuilds into an emptied path") {
    withCorpus { dir =>
      Files.writeString(Paths.get(dir, "a.txt"), "a")
      var runs = 0
      def get(kind: String): String =
        Artifacts.cached(kind, spark, dir) { p =>
          runs += 1; touch(p, s"b$runs")
        }
      val p1 = get("spec-one")
      assert(get("spec-one") == p1 && runs == 1,
        "a second call must reuse the build")
      assert(Artifacts.builds("spec-one") == 1)
      assert(p1 == new Path(Artifacts.root(spark),
        "graft-spec-one-" + dir.replaceAll("[^A-Za-z0-9.]+", "_")).toString)
      val p2 = get("spec-two")
      assert(p2 != p1 && runs == 2, "another kind is another artifact")
      try {
        Files.writeString(Paths.get(dir, "a.txt"), "a rewritten")
        assert(get("spec-one") == p1 && runs == 3,
          "a changed corpus must rebuild into the same path")
        assert(Artifacts.builds("spec-one") == 2)
        assert(exists(p1, "b3") && !exists(p1, "b1"),
          "a rebuild must not keep the old build's files")
        assert(get("spec-one") == p1 && runs == 3)
      } finally Seq(p1, p2).foreach(p => rm(new java.io.File(p)))
    }
  }

  test("knn_ivf_persisted rebuilds after embeddings.parquet is " +
      "rewritten in place and serves the new corpus's answer") {
    withCorpus { dir =>
      Files.copy(Paths.get(sfDir, "embeddings.parquet"),
        Paths.get(dir, "embeddings.parquet"))
      def persisted() = SparkEntry.queries("knn_ivf_persisted")(spark, dir)
        .collect().toSeq
      val before = persisted()
      val builds = Artifacts.builds("ivf")
      // negate every odd vector: cosines across parities flip sign
      val file = s"$dir/embeddings.parquet"
      val old = spark.read.parquet(file)
      val rows = old.withColumn("embedding",
        when(col("vec_id") % 2 === 1, transform(col("embedding"), x => -x))
          .otherwise(col("embedding"))).collect()
      spark.createDataFrame(rows.toSeq.asJava, old.schema)
        .write.mode("overwrite").parquet(file)
      val after = persisted()
      try {
        assert(Artifacts.builds("ivf") == builds + 1,
          "the rewritten corpus must be rebuilt")
        val want = SparkEntry.queries("knn_ivf")(spark, dir).collect().toSeq
        assert(after == want && after != before,
          "the rebuilt index must answer for the rewritten corpus")
      } finally rm(new java.io.File(Artifacts.cached("ivf", spark, dir)(_ =>
        fail("the current corpus must already be built"))))
    }
  }

  test("Bench re-runs, and does not record, a rep during which an " +
      "artifact was built") {
    withCorpus { dir =>
      Files.writeString(Paths.get(dir, "a.txt"), "a")
      var runs = 0
      def rep(): Int = {
        runs += 1
        Artifacts.cached("spec-bench", spark, dir)(touch(_, "built"))
        runs
      }
      try {
        assert(Bench.steadyRep(() => rep()) == 2 && runs == 2,
          "a building rep must be discarded and re-run once")
        assert(Bench.steadyRep(() => rep()) == 3 && runs == 3,
          "a steady-state rep is recorded as is")
      } finally rm(new java.io.File(
        Artifacts.cached("spec-bench", spark, dir)(_ => ())))
    }
  }
}
