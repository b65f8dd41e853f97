package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener,
  SparkListenerApplicationEnd, SparkListenerJobStart}
import org.apache.spark.sql.graft.Shim

/** The reliable-checkpoint switch must be a pure posture change: with
  * `spark.graft.checkpointDir` set, every Checkpoint.of barrier writes
  * to the reliable directory instead of executor memory, and results
  * are IDENTICAL (the barriers sit on deterministic frames).
  */
class CheckpointSpec extends SparkSpec {

  test("dedup_minhash_lsh is unchanged under reliable checkpointing, " +
      "and the reliable dir is actually used") {
    val q = SparkEntry.queries("dedup_minhash_lsh")
    val local = q(spark, sfDir).collect().toSeq
    val dir = Files.createTempDirectory("graft-ckpt").toFile
    try {
      spark.conf.set(Checkpoint.CONF_KEY, dir.getAbsolutePath)
      val reliable = q(spark, sfDir).collect().toSeq
      assert(reliable == local)
      // the barrier must have gone through the configured directory
      val wrote = Option(dir.listFiles()).exists(_.nonEmpty)
      assert(wrote, "no checkpoint data written to the reliable dir")
    } finally {
      spark.conf.unset(Checkpoint.CONF_KEY)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }

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

  test("ofCounted counts the rows matching `where` in one job in local " +
      "mode, fills the whole checkpoint, and agrees with reliable mode") {
    import org.apache.spark.sql.functions.col
    // no exchange upstream: the only job is the fused count
    val df = spark.range(0, 1000, 1, 4)
      .select(col("id"), (col("id") % 7).as("m"))
    val pred = col("m") === 3
    val ((cpL, nL), jobsL) = withJobs(Checkpoint.ofCounted(df, pred))
    assert(nL == 143 && jobsL == 1, s"$nL rows in $jobsL jobs")
    // the fused count's scan must have materialized EVERY partition: a
    // second action over the checkpointed frame sees the full row set
    assert(cpL.count() == 1000)
    assert(cpL.collect().toSeq.sortBy(_.getLong(0)) ==
      df.collect().toSeq.sortBy(_.getLong(0)))
    val ((_, none), jobsNone) =
      withJobs(Checkpoint.ofCounted(df, col("m") === 99))
    assert(none == 0 && jobsNone == 1)
    val ((_, all), jobsAll) = withJobs(Checkpoint.ofCounted(df))
    assert(all == 1000 && jobsAll == 1)
    val dir = Files.createTempDirectory("graft-ckpt-fused").toFile
    try {
      spark.conf.set(Checkpoint.CONF_KEY, dir.getAbsolutePath)
      val (cpR, nR) = Checkpoint.ofCounted(df, pred)
      assert(nR == nL)
      assert(cpR.collect().toSeq.sortBy(_.getLong(0)) ==
        cpL.collect().toSeq.sortBy(_.getLong(0)))
    } finally {
      spark.conf.unset(Checkpoint.CONF_KEY)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("a small local frame stays local: of and ofCounted run no job and " +
      "keep rows, schema, nullability and count") {
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    val df = Seq((1L, Some("a"), 2.5), (2L, None, -0.0), (3L, Some("c"), 1.0))
      .toDF("id", "s", "x")
    assert(!df.schema("id").nullable && df.schema("s").nullable)
    val (cp, jobsOf) = withJobs(Checkpoint.of(df))
    val ((cpC, n), jobsCounted) =
      withJobs(Checkpoint.ofCounted(df, col("id") >= 2))
    val ((_, all), jobsAll) = withJobs(Checkpoint.ofCounted(df))
    assert(jobsOf == 0 && jobsCounted == 0 && jobsAll == 0,
      s"$jobsOf / $jobsCounted / $jobsAll jobs")
    assert(n == 2 && all == 3)
    for (out <- Seq(cp, cpC)) {
      assert(Checkpoint.local(out).nonEmpty)
      assert(out.schema == df.schema)
      assert(out.queryExecution.analyzed.output ==
        df.queryExecution.analyzed.output, "a checkpoint keeps attributes")
      assert(out.collect().toSeq == df.collect().toSeq)
    }
    // projections and filters of a local frame fold into one relation
    val ((_, odd), jobsFolded) = withJobs(Checkpoint.ofCounted(
      df.select((col("id") * 3).as("k")).filter(col("k") > 3),
      col("k") % 2 === 1))
    assert(odd == 1 && jobsFolded == 0)
  }

  test("a local frame over the broadcast threshold is checkpointed") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map(i => (i, s"row $i")).toDF("id", "s")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "1024b")
      val (cp, jobs) = withJobs(Checkpoint.of(df))
      assert(jobs == 1 && Checkpoint.local(cp).isEmpty)
      val ((cpC, n), jobsC) = withJobs(Checkpoint.ofCounted(df))
      assert(n == 200 && jobsC == 1 && Checkpoint.local(cpC).isEmpty)
      assert(cp.collect().toSeq == df.collect().toSeq)
      spark.conf.set(key, "-1")
      assert(Checkpoint.local(Checkpoint.of(df.limit(1))).isEmpty,
        "a disabled threshold keeps no frame local")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("ofCounted returns identical rows and count in both modes") {
    val df = spark.range(1000).repartition(4).toDF()
    val (cpL, nL) = Checkpoint.ofCounted(df)
    assert(nL == 1000 && cpL.count() == 1000)
    val dir = Files.createTempDirectory("graft-ckpt-counted").toFile
    try {
      spark.conf.set(Checkpoint.CONF_KEY, dir.getAbsolutePath)
      val (cpR, nR) = Checkpoint.ofCounted(df)
      assert(nR == nL)
      assert(Option(dir.listFiles()).exists(_.nonEmpty),
        "reliable mode writes the checkpoint dir")
      assert(cpR.collect().toSeq.sortBy(_.getLong(0)) ==
        cpL.collect().toSeq.sortBy(_.getLong(0)))
    } finally {
      spark.conf.unset(Checkpoint.CONF_KEY)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("a changed checkpoint dir conf re-points reliable checkpoints " +
      "mid-session") {
    import org.apache.spark.sql.functions.col
    val dirA = Files.createTempDirectory("graft-ckpt-a").toFile
    val dirB = Files.createTempDirectory("graft-ckpt-b").toFile
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    try {
      val df = spark.range(100).select(col("id"))
      spark.conf.set(Checkpoint.CONF_KEY, dirA.getAbsolutePath)
      Checkpoint.of(df.toDF()).collect()
      assert(Option(dirA.listFiles()).exists(_.nonEmpty))
      // conf changes mid-session: checkpoints must follow it, not land
      // silently in the first directory ever set (ADVICE r4)
      spark.conf.set(Checkpoint.CONF_KEY, dirB.getAbsolutePath)
      Checkpoint.of(df.toDF()).collect()
      assert(Option(dirB.listFiles()).exists(_.nonEmpty),
        "checkpoint data must land in the NEW configured dir")
    } finally {
      spark.conf.unset(Checkpoint.CONF_KEY)
      rm(dirA); rm(dirB)
    }
  }

  test("an application's checkpoint subdirs are removed when it ends; " +
      "the configured dir and the artifacts under it stay") {
    val dir = Files.createTempDirectory("graft-ckpt-cleanup").toFile
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    def subdirs = dir.listFiles().toSeq
      .filter(f => f.isDirectory && !f.getName.startsWith("graft-"))
    try {
      spark.conf.set(Checkpoint.CONF_KEY, dir.getAbsolutePath)
      // Artifacts.root falls back to the checkpoint dir
      val art = Artifacts.cached("checkpoint-cleanup-probe", spark, sfDir) {
        path => spark.range(3).write.parquet(path)
      }
      assert(art.contains(dir.getAbsolutePath))
      Checkpoint.of(spark.range(100).toDF()).collect()
      val made = subdirs
      assert(made.size == 1 && made.head.listFiles().exists(
        _.getName.startsWith("rdd-")), "one UUID subdir holding rdd-*")
      // the stop-time listener, driven with the event stop() posts
      val cleanups = Shim.listeners[Checkpoint.Cleanup](spark)
      assert(cleanups.size == 1, "one cleanup listener per application")
      cleanups.head.onApplicationEnd(
        SparkListenerApplicationEnd(System.currentTimeMillis()))
      assert(!made.head.exists(), "the subdir is removed")
      assert(dir.isDirectory, "the configured dir stays")
      assert(spark.read.parquet(art).count() == 3, "the artifact stays")
      // a later checkpoint of the application points at a fresh subdir
      Checkpoint.of(spark.range(10).toDF()).collect()
      assert(subdirs.size == 1 && subdirs.head.getName != made.head.getName)
    } finally {
      spark.conf.unset(Checkpoint.CONF_KEY)
      rm(dir)
    }
  }

  test("checkpoints cap the inherited size estimate — an iterative loop " +
      "whose round references the prior checkpoint through joins must " +
      "not compound the stats BigInt double-exponentially") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // the r16 phash-CC shape in miniature: each round's body joins the
    // previous round's checkpoint THREE times; visitJoin's default
    // estimate is the product of child estimates, so uncapped stats
    // multiply their digit count ~3x per round — by round 14 the real
    // loop spent 367 of 432 s in BigInteger.multiply inside driver
    // stats estimation (CCSTATS_r16.json)
    var labels = Checkpoint.of(
      Seq((1L, 1L), (2L, 1L), (3L, 2L)).toDF("id", "label"))
    val want = labels.collect().toSet
    for (round <- 1 to 15) {
      val l1 = labels.select(col("id").as("a"), col("label").as("x"))
      val l2 = labels.select(col("label").as("y"), col("id").as("b"))
      val plan = labels
        .join(l1, col("id") === col("a"))
        .join(l2, col("label") === col("y"))
        .select(col("id"), col("label")).distinct()
      val (next, _) =
        Checkpoint.ofCounted(plan, col("label") < col("id"))
      labels = next.select(col("id"), col("label"))
      val est = labels.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(est <= BigInt(Long.MaxValue),
        s"round $round: checkpointed estimate must stay capped, got " +
          s"a ${est.toString.length}-digit BigInt")
    }
    // capping is estimate-only: rows ride through bit-identically
    assert(labels.collect().toSet == want)
  }
}
