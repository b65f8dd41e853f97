package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.graft.Shim

/** `Tables.parquet` serves a known schema without re-inferring it, and
  * only while the table's files are unchanged.
  */
class TablesSpec extends SparkSpec {

  /** `f`'s result and the number of Spark jobs it ran. */
  private def withJobs[T](f: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    Shim.waitListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      Shim.waitListeners(spark)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** `f` over a table path in a fresh directory, removed afterwards. */
  private def withTable(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-tables").toFile
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(rm)); x.delete()
    }
    try f(new java.io.File(dir, "t").getPath) finally rm(dir)
  }

  /** Reads `path` twice: the second read runs no job and has the plain
    * inferring read's schema and rows.
    */
  private def rereadFree(path: String): DataFrame = {
    Tables.parquet(spark, path)
    val (df, jobs) = withJobs(Tables.parquet(spark, path))
    assert(jobs == 0, s"second read of $path ran $jobs jobs")
    val plain = spark.read.parquet(path)
    assert(df.schema == plain.schema)
    assert(rows(df) == rows(plain))
    df
  }

  test("a second read of an unchanged single-file table or of events " +
      "runs no job") {
    for (t <- Seq("documents", "events")) rereadFree(s"$sfDir/$t.parquet")
    val (events, jobs) = withJobs(Tables.events(spark, sfDir))
    assert(jobs == 0)
    assert(rows(events) == rows(Tables.events(spark, sfDir)))
  }

  test("a partitioned table re-reads with no job and the same pruning") {
    withTable { path =>
      spark.range(0, 120, 1, 3).select(col("id"),
          (col("id") % 3).as("pb"), (col("id") % 4).as("batch_id"),
          concat(lit("doc "), col("id").cast("string")).as("text"))
        .write.partitionBy("pb", "batch_id").parquet(path)
      val df = rereadFree(path)
      def pruned(d: DataFrame) =
        d.filter(col("pb") === 1 && col("batch_id") >= 2).select("id", "text")
      def scan(d: DataFrame) =
        pruned(d).queryExecution.sparkPlan.toString.replaceAll("#\\d+", "")
      val plain = spark.read.parquet(path)
      assert(scan(df) == scan(plain))
      assert(scan(df).contains("PartitionFilters: [isnotnull(pb)"))
      assert(rows(pruned(df)) == rows(pruned(plain)))
      assert(pruned(df).count() == 20)
    }
  }

  test("a table rewritten in place with another schema is re-inferred") {
    withTable { path =>
      spark.range(10).select(col("id"), col("id").cast("string").as("b"))
        .write.parquet(path)
      rereadFree(path)
      spark.range(5).select(col("id"), (col("id") * 0.5).as("c"))
        .write.mode("overwrite").parquet(path)
      val df = Tables.parquet(spark, path)
      assert(df.columns.toSeq == Seq("id", "c"))
      assert(rows(df) == rows(spark.read.parquet(path)))
      rereadFree(path)
    }
  }

  test("an emptied table still raises UNABLE_TO_INFER_SCHEMA") {
    withTable { path =>
      spark.range(10).write.parquet(path)
      rereadFree(path)
      new java.io.File(path).listFiles().foreach(_.delete())
      val e = intercept[AnalysisException](Tables.parquet(spark, path))
      assert(e.getMessage.contains("UNABLE_TO_INFER_SCHEMA"), e.getMessage)
    }
  }
}
