package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of graft's mains (Bench, Verify, GenData),
  * wired from the environment:
  *   - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions (default:
  *     the JVM's available processors);
  *   - `SPARK_GRAFT_MASTER`: a non-local master for the cluster smoke
  *     path, e.g. `local-cluster[2,2,2048]` (real worker JVMs, real
  *     executor classpaths and serialization); default `local[cpus]`;
  *   - `SPARK_GRAFT_APP_JAR`: the app shipped as a JAR via `spark.jars`,
  *     required under local-cluster;
  *   - `SPARK_GRAFT_CHECKPOINT_DIR`: flips [[Checkpoint]] into reliable
  *     mode (the shared-storage posture), with checkpoint cleaning on.
  * Shuffle scratch goes to the repo-owned `target/spark-local`: /tmp
  * cleaners have killed a bench 40 minutes in by deleting shuffle temp
  * files under /tmp/spark-local.
  */
object Sessions {
  def fromEnv(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val localDir = new java.io.File("target/spark-local")
    localDir.mkdirs()
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val cluster = master.startsWith("local-cluster")
    // the SerializedLambda rule: a bare classes dir on the executor
    // classpath deserializes closures in a different classloader and
    // every closure-bearing stage dies — fail HERE with the fix named,
    // not 40 minutes in with a ClassCastException
    if (cluster)
      require(sys.env.contains("SPARK_GRAFT_APP_JAR"),
        "SPARK_GRAFT_MASTER=local-cluster requires SPARK_GRAFT_APP_JAR " +
          "(the app shipped as a JAR via spark.jars; also export " +
          "SPARK_SCALA_VERSION=2.13)")
    val b0 = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.getAbsolutePath)
    // worker JVMs are spawned bare: hand them the driver's classpath
    val b1 = if (cluster)
      b0.config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
        .config("spark.jars", sys.env("SPARK_GRAFT_APP_JAR"))
      else b0
    // reliable checkpoints: Spark drops an rdd-* dir once its RDD is
    // garbage, and Checkpoint removes the application's subdir at stop
    val spark = sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .fold(b1)(d => b1.config(Checkpoint.CONF_KEY, d)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.tune(spark)
  }
}
