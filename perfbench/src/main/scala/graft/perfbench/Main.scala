package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Benchmark runner: one workload in one JVM, one caller thread.
  *
  *   Main --workload W --data DIR --work DIR --seconds S --trace 0|1
  *        --out FILE
  *
  * Set-up (session start on local[nproc], warm-up action, artifact
  * builds) is timed; the untimed set-up checks follow, then timed ops run
  * until S seconds have passed (and at least the workload's minimum op
  * count). The raw record — set-up time, one entry per op, and with
  * --trace 1 every span and its Spark counters — goes to FILE as JSON;
  * run.py turns it into metrics.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.graft.indexDir", s"$work/idx")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    SparkEntry.tune(s)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val data = a("data")
    val work = new File(a("work")).getAbsolutePath
    val seconds = a("seconds").toDouble
    val tracer = new Tracer(a("trace") == "1")
    val cores = Runtime.getRuntime.availableProcessors()
    val meta = mapper.readValue(new File(s"$data/ops.json"),
      classOf[Map[String, Any]])
    val w: Workload = a("workload") match {
      case "corpus_prepare"  => new CorpusPrepare(data, meta)
      case "stream_ingest"   => new StreamIngest(data, meta)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val s0 = System.nanoTime
    val spark = session(cores, work)
    tracer.attach(spark.sparkContext)
    tracer.span("setup.warmup") {
      spark.range(0, 1 << 20, 1, cores).selectExpr("sum(id)").collect()
      graft.Tables(spark, data, "documents").count()
    }
    w.setup(spark, tracer, s"$work/artifacts")
    val setupS = (System.nanoTime - s0) / 1e9
    val p0 = System.nanoTime
    val checks = w.prepare(spark, tracer, work)
    val prepareS = (System.nanoTime - p0) / 1e9

    val ops = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    val t0 = System.nanoTime
    def more = ops.size < w.maxOps && (ops.size < w.minOps ||
      System.nanoTime - t0 < seconds * 1e9)
    while (more) {
      val i = ops.size
      tracer.op = i
      ops += (try w.op(spark, tracer, i) catch {
        case e: Exception =>
          OpResult("error", 0.0, 0, Some(s"${e.getClass.getName}: ${e.getMessage}"))
      })
    }
    val timedS = (System.nanoTime - t0) / 1e9
    // heap still live after the timed ops: retained artifacts, cached
    // blocks and driver state (the JVM's RSS tracks the collector's heap
    // sizing more than the workload, so it is recorded but not gated)
    System.gc()
    System.gc()
    val rt = Runtime.getRuntime
    val liveHeapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    if (tracer.traced)
      org.apache.spark.sql.graft.Shim.waitListeners(spark)

    val conf = spark.conf.getAll.filter { case (k, _) =>
      Set("spark.master", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled", "spark.app.name")(k) }
    val out = Map(
      "workload" -> a("workload"),
      "traced" -> tracer.traced,
      "spark_conf" -> (conf ++ Map("driver_max_heap_mb" ->
        (Runtime.getRuntime.maxMemory / (1 << 20)).toString)),
      "cores" -> cores,
      "setup_s" -> setupS,
      "prepare_s" -> prepareS,
      "timed_s" -> timedS,
      "checks" -> checks,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "ms" -> o.ms,
        "items" -> o.items, "error" -> o.error.orNull) ++ o.extra),
      "spans" -> (if (!tracer.traced) Nil else tracer.spans.map(sp => Map(
        "id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent, "op" -> sp.op,
        "start_ms" -> sp.startMs, "dur_ms" -> sp.durNs / 1e6,
        "counters" -> Option(tracer.listener.counters.get(sp.id))
          .map(_.toMap).getOrElse(new Counters().toMap)))),
      "live_heap_mb" -> liveHeapMb,
      "peak_rss_mb" -> peakRssMb())
    mapper.writeValue(new File(a("out")), out)
    spark.stop()
  }
}
