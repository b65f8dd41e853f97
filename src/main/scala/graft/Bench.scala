package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Timed iterations per query; the reported number is their MEDIAN
    * (machine-load spikes corrupt any single-shot measurement — BENCH_r02
    * recorded 93.9 s where a controlled rerun of the same build totals
    * 58 s). The min is reported alongside as the load-free floor.
    */
  private val REPS =
    sys.env.get("SPARK_GRAFT_BENCH_REPS").map { v =>
      val n = v.toIntOption.getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_REPS must be a positive int, got '$v'"))
      require(n > 0, s"SPARK_GRAFT_BENCH_REPS must be > 0, got $n")
      n
    }.getOrElse(3)

  /** Load guard: a median more than 2× the min of the same query is a
    * machine-load artifact, not a plan property (the r2 AND r4 artifacts
    * were both inflated this way, each burning a judge round on noise
    * adjudication) — rerun up to this many extra reps so the median
    * re-forms over quieter samples.
    */
  private val MAX_EXTRA = 2

  // explicit locale: f"" interpolation uses the JVM default, and a
  // comma-decimal locale (de_DE) would emit invalid JSON ("value":1,234)
  private def r3(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  private def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim finally src.close()
    } catch { case _: Throwable => "" }

  /** Commit-grade "quiet" means ALL THREE loadavg figures < 2 — the r16
    * committed "quiet" run had 1-min 0.31 but 15-min 3.50 and ran 12%
    * slower than the driver's loaded run on shared queries; a 1-min
    * check does not discriminate. The flag lands in every contract;
    * `SPARK_GRAFT_REQUIRE_QUIET=1` makes a non-quiet start a refusal
    * (exit 2) so a commit-grade run cannot silently happen on a busy
    * host. The driver never sets it.
    */
  private def quietLoad(l: String): Boolean = {
    val p = l.split(" ")
    p.length >= 3 && p.take(3).forall(_.toDoubleOption.exists(_ < 2.0))
  }

  /** Cumulative stop-the-world GC millis of this JVM — per-rep deltas
    * attribute bench-context effects (heap pressure from a 251-query
    * session) that a fresh-session probe of the same query never sees:
    * the r16 knn_graph_search bench-vs-probe gap had no owner because
    * nothing in the contract separated GC time from plan time.
    */
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** Per-query per-rep GC-millis deltas, keyed "sfDir:name". */
  private val gcByQuery =
    scala.collection.mutable.LinkedHashMap.empty[String, Vector[Long]]

  /** Queries whose ANSWER or ground-truth PROTOCOL is inherently O(n²)
    * (exact global grids: the τ=0.97 reporting tier and its global
    * budget card; the τ=0.4 LSH demonstration whose bank prunes nothing
    * on isotropic geometry — see their declarations): swept only up to
    * this sf. Above it they are SKIPPED AND ANNOTATED in the contract
    * (`skipped_quadratic`), never silently dropped — the r16 sweep
    * spent 57% of its sf1 wall time re-running these, and at sf3 they
    * ARE the sweep. Their recall-card siblings stay swept at every sf
    * via the probe-bounded tier ([[graft.EvalProbe]]).
    */
  private[graft] val declaredQuadratic: Map[String, Double] = Map(
    "dedup_embedding_lsh" -> 1.0,
    "mm_embed_neardup" -> 1.0,
    "mm_embed_budget" -> 1.0)

  /** Skips taken this run: "sfDir:name" → (sf, ceiling). */
  private val skipped =
    scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]

  private val sfOf = "sf([0-9.]+)".r
  private def sfOfDir(dir: String): Option[Double] =
    sfOf.findFirstMatchIn(dir).map(_.group(1).toDouble)

  /** Untimed session warm-up: first-action costs (parquet reader +
    * whole-stage-codegen framework + shuffle machinery init, ~4-5 s)
    * otherwise land entirely on whichever query Map order puts first,
    * corrupting its number. Warm EVERY table, not just a small one —
    * the first cold scan of lineitem alone is ~1 s of page-cache and
    * footer-read residue that otherwise inflates all reps of whichever
    * query touches it first (BENCH_r03's q01_agg).
    */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.col
    spark.range(1000).repartition(4).groupBy(col("id") % 7).count()
      .write.format("noop").mode("overwrite").save()
    Tables.all.foreach { t =>
      if (new java.io.File(s"$sfDir/$t.parquet").exists())
        spark.read.parquet(s"$sfDir/$t.parquet")
          .write.format("noop").mode("overwrite").save()
    }
  }

  /** Run one rep. A rep during which [[Artifacts]] built something paid
    * a one-time build, so it is run again and only the re-run is
    * returned: every recorded rep measures the steady-state read path
    * the *_persisted queries are defined as, under full runs and
    * SPARK_GRAFT_BENCH_ONLY subsets alike (a REPS=1 sf1 sweep once
    * charged the whole ~113 s graph build to knn_graph_search, whose
    * walk is ~4 s).
    */
  private[graft] def steadyRep[A](rep: () => A): A = {
    val builds = Artifacts.totalBuilds
    val first = rep()
    if (Artifacts.totalBuilds == builds) first else rep()
  }

  /** Optional query subset (`SPARK_GRAFT_BENCH_ONLY=q1,q2,...`) — the
    * top-N-by-cost subset sweep knob (running 247 queries at sf3+ would
    * not fit a round window; the driver always runs the full set).
    */
  private val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Queries that errored during the current runAll (name → first error).
    * An erroring query records an instant "time", which without this would
    * make a broken suite LOOK fast — BENCH_r07 recorded 16 analysis-failing
    * events queries as 4–104 ms rows and polluted the min-time history. The
    * names are carried in the JSON contract and force a nonzero exit. */
  private val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Run every query at `sfDir`: REPS timed reps (+ load-guard extras),
    * per-query rep vectors in SparkEntry.queries order.
    */
  private def runAll(spark: SparkSession,
      sfDir: String): Seq[(String, Vector[Double])] = {
    warmUp(spark, sfDir)
    val sf = sfOfDir(sfDir)
    SparkEntry.queries.toSeq
      .filter { case (name, _) =>
        only.forall(_.contains(name)) && {
          val over = sf.exists(s => declaredQuadratic.get(name).exists(_ < s))
          if (over) {
            skipped(s"$sfDir:$name") = (sf.get, declaredQuadratic(name))
            System.err.println(s"[bench] SKIP $sfDir $name: " +
              s"declared-quadratic, ceiling sf=${declaredQuadratic(name)}")
          }
          !over
        }
      }
      .map { case (name, fn) =>
      val gcs = scala.collection.mutable.ArrayBuffer.empty[Long]
      def rep(): Double = {
        val (secs, gc) = steadyRep { () =>
          val t0 = System.nanoTime()
          val g0 = gcMs()
          // noop sink materializes every output column (count() would
          // let Catalyst prune projections out of the measured plan).
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            errors.getOrElseUpdate(name,
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
          }
          ((System.nanoTime() - t0) / 1e9, gcMs() - g0)
        }
        gcs += gc
        secs
      }
      val times = scala.collection.mutable.ArrayBuffer.fill(REPS)(rep())
      var extra = 0
      while (extra < MAX_EXTRA && median(times.toSeq) > 2 * times.min) {
        times += rep(); extra += 1
      }
      gcByQuery(s"$sfDir:$name") = gcs.toVector
      // progress to stderr: long sweeps die mid-run (disk, OOM) and the
      // JSON only lands at the end — without this there is no way to
      // attribute the crash to a query
      System.err.println(
        s"[bench] done $sfDir $name min=${r3(times.min)}s")
      name -> times.toVector
    }
  }

  /** JSON string escape for error messages interpolated into the contract. */
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => String.format("\\u%04x", Int.box(c.toInt))
      case c => c.toString
    } + "\""

  private def errJson: String =
    errors.map { case (n, m) => s"${jstr(n)}:${jstr(m)}" }
      .mkString("{", ",", "}")

  private def skippedJson: String =
    skipped.map { case (k, (s, c)) =>
      s"""${jstr(k)}:{"sf":$s,"ceiling":$c}"""
    }.mkString("{", ",", "}")

  /** Median per-rep GC millis per query of one run dir. */
  private def gcJsonFor(sfDir: String): String =
    gcByQuery.collect { case (k, v) if k.startsWith(sfDir + ":") =>
      "\"" + k.stripPrefix(sfDir + ":") + "\":" +
        (if (v.isEmpty) "null" else v.sorted.apply(v.size / 2).toString)
    }.mkString("{", ",", "}")

  private def obj(results: Seq[(String, Vector[Double])])(
      f: Vector[Double] => String): String =
    results.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    if (sys.env.get("SPARK_GRAFT_REQUIRE_QUIET").contains("1")) {
      val l = loadavg()
      if (!quietLoad(l)) {
        System.err.println(s"[bench] REFUSED: SPARK_GRAFT_REQUIRE_QUIET=1 " +
          s"and host is not quiet (need all three loadavg < 2): $l")
        sys.exit(2)
      }
    }
    val spark = Sessions.fromEnv()
    sys.env.get("SPARK_GRAFT_SF_SWEEP") match {
      case Some(dirs) => sweep(spark, dirs.split(",").map(_.trim).toSeq)
      case None => single(spark,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    }
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries ERRORED: " +
        errors.keys.mkString(", "))
      sys.exit(1)
    }
  }

  /** The driver's per-round path: one scale factor. Stdout carries ONE
    * SHORT line — metric/value/unit plus pointers only, NO per-query
    * map: the driver captures a bounded tail window of stdout, and the
    * full 89-query map pushed the line past it, truncating the JSON
    * mid-object and leaving `parsed` null five rounds running. The full
    * machine contract (per-query medians/mins/reps, loadavg) goes to
    * $SPARK_GRAFT_BENCH_OUT (default BENCH_OUT.json).
    */
  private def single(spark: SparkSession, sfDir: String): Unit = {
    val loadBefore = loadavg()
    val results = runAll(spark, sfDir)
    val loadAfter = loadavg()
    val med = obj(results)(v => r3(median(v)))
    val total = results.map(v => median(v._2)).sum
    val totalMin = results.map(_._2.min).sum
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    val errNames = errors.keys.map(jstr).mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","reps":$REPS,"total_min":${r3(totalMin)},"n_queries":${results.size},"n_errors":${errors.size},"errors":$errNames,"n_skipped":${skipped.size},"sf":"$sfDir","detail":"$out"}"""
    println(line)
    val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec",
      |"reps":$REPS,"max_extra_reps":$MAX_EXTRA,
      |"total_min":${r3(totalMin)},
      |"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter",
      |"quiet_before":${quietLoad(loadBefore)},"quiet_after":${quietLoad(loadAfter)},
      |"n_errors":${errors.size},"errors":$errJson,
      |"skipped_quadratic":$skippedJson,
      |"queries":$med,
      |"queries_min":${obj(results)(v => r3(v.min))},
      |"queries_reps":${obj(results)(v => v.map(r3).mkString("[", ",", "]"))},
      |"queries_gc_ms":${gcJsonFor(sfDir)},
      |"sf":"$sfDir"}""".stripMargin.replace("\n", "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), full + "\n")
    System.err.println(s"[bench] full contract written to $out")
  }

  /** Scaling-evidence mode (`SPARK_GRAFT_SF_SWEEP=dir1,dir2,...`): run
    * the full suite at each scale factor in one JVM and fit, per query,
    * the least-squares slope of log(median time) on log(sf) — the
    * empirical scaling exponent behind SURVEY §6's design claims. An
    * exponent ≈1 is linear in data volume; well below 1 means fixed
    * per-query overhead (job launch, planning, the small side of a
    * broadcast) still dominates at these sfs; materially above 1 at the
    * TOP of the sweep is the super-linear red flag. The fit uses only
    * the upper decade(s) where data cost is visible; numbers land in
    * $SPARK_GRAFT_SWEEP_OUT (default BENCH_SWEEP.json).
    */
  private def sweep(spark: SparkSession, dirs: Seq[String]): Unit = {
    require(dirs.size >= 2, s"sweep needs >=2 sf dirs, got $dirs")
    val sfs = dirs.map(d => sfOfDir(d).getOrElse(
      throw new IllegalArgumentException(s"no sf in dir $d")))
    // two dirs parsing to the same sf would zero fit()'s denominator and
    // interpolate NaN/Infinity unquoted into the JSON contract
    require(sfs.distinct.size == sfs.size,
      s"sweep dirs must parse to distinct scale factors, got $sfs")
    val loadBefore = loadavg()
    val bySf = dirs.map(d => d -> runAll(spark, d))
    val loadAfter = loadavg()
    // union of names across runs: declared-quadratic queries vanish
    // above their sf ceiling, so per-name fits use the sfs where the
    // query actually ran (the skip is annotated in skipped_quadratic)
    val names = bySf.flatMap(_._2.map(_._1)).distinct
    // slope of log(t) on log(sf), least squares over all swept points
    def fit(xs: Seq[Double], ys: Seq[Double]): Double = {
      val lx = xs.map(math.log)
      val ly = ys.map(math.log)
      val mx = lx.sum / lx.size
      val my = ly.sum / ly.size
      val num = lx.zip(ly).map { case (x, y) => (x - mx) * (y - my) }.sum
      val den = lx.map(x => (x - mx) * (x - mx)).sum
      if (den == 0) Double.NaN else num / den
    }
    val exps = names.map { n =>
      val pts = bySf.zip(sfs).flatMap { case ((_, rs), sf) =>
        rs.find(_._1 == n).map(r => (sf, median(r._2)))
      }
      // fit over the top decade only when 3+ points: the bottom sf is
      // pure overhead for most queries and would bias the slope low
      val k = if (pts.size >= 3) 2 else pts.size
      val top = pts.takeRight(k)
      n -> (if (top.size < 2) Double.NaN
        else fit(top.map(_._1), top.map(_._2)))
    }
    val perSf = bySf.zip(sfs).map { case ((d, rs), sf) =>
      s""""$d":{"sf":$sf,"total":${r3(rs.map(v => median(v._2)).sum)},
        |"queries":${obj(rs)(v => r3(median(v)))},
        |"queries_min":${obj(rs)(v => r3(v.min))},
        |"queries_gc_ms":${gcJsonFor(d)}}""".stripMargin
        .replace("\n", "")
    }.mkString("{", ",", "}")
    // belt-and-braces: a non-finite exponent must serialize as null, not
    // as bare NaN/Infinity (invalid JSON)
    val expObj = exps.map { case (n, e) =>
      s""""$n":${if (java.lang.Double.isFinite(e)) r3(e) else "null"}"""
    }.mkString("{", ",", "}")
    val full = s"""{"metric":"sf_sweep","dirs":${dirs.map(d => "\"" + d + "\"")
        .mkString("[", ",", "]")},
      |"reps":$REPS,"fit":"least-squares slope of log(median) vs log(sf), top 2 swept sfs per query",
      |"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter",
      |"quiet_before":${quietLoad(loadBefore)},"quiet_after":${quietLoad(loadAfter)},
      |"n_errors":${errors.size},"errors":$errJson,
      |"skipped_quadratic":$skippedJson,
      |"exponents":$expObj,
      |"runs":$perSf}""".stripMargin.replace("\n", "")
    val out = sys.env.getOrElse("SPARK_GRAFT_SWEEP_OUT", "BENCH_SWEEP.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), full + "\n")
    val flagged = exps.filter(_._2 > 1.3).map(_._1)
    println(s"""{"metric":"sf_sweep","n_queries":${names.size},"superlinear":${flagged.size},"n_errors":${errors.size},"n_skipped":${skipped.size},"detail":"$out"}""")
    System.err.println(s"[bench] sweep written to $out; " +
      s"exponent>1.3: ${flagged.mkString(", ")}")
  }
}
