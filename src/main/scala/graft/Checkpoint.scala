package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.lit

/** The materialization barrier every iterative / self-joining stage uses
  * (shingle tables, LSH signatures, Lloyd codebooks, connected-component
  * rounds): cuts lineage so Catalyst can't inline an expensive derived
  * expression into post-explode projections (CollapseProject) or
  * re-derive giant constraint trees through Filters, and so iterative
  * plans don't nest ITER lineages deep.
  *
  * `localCheckpoint()` (the default) stores blocks in executor memory —
  * fastest, but NOT fault-tolerant: losing an executor loses blocks with
  * no lineage to recompute them, aborting the job. Fine on local[n];
  * wrong posture for a 1000-executor cluster where executor loss is
  * routine. Setting `spark.graft.checkpointDir` (session conf, or the
  * `SPARK_GRAFT_CHECKPOINT_DIR` env var) flips every barrier that goes
  * through this object to a reliable `checkpoint()` against that
  * directory (HDFS/object store) — the documented 100 TB posture as one
  * config switch, not a rewrite. CheckpointSpec proves results are
  * identical either way. Not covered: the per-batch `.localCheckpoint()`
  * calls of the streaming sinks (`Streaming.scala`, `BatchState.scala`)
  * and the merge of `Sources.upsertParquet`; they stay in executor
  * memory whatever the setting.
  *
  * Reliable checkpoints are never read by a later application, so none
  * outlives its own: each `rdd-*` dir lives in a per-application UUID
  * subdir that `SparkContext.setCheckpointDir` makes, and [[Cleanup]]
  * removes every such subdir when the context stops. The configured dir
  * itself stays — [[Artifacts.root]] falls back to it, and artifacts
  * live there. `Sessions.fromEnv` also turns on Spark's own
  * `cleanCheckpoints`, which drops an `rdd-*` dir once its RDD is
  * garbage.
  */
object Checkpoint {

  val CONF_KEY = "spark.graft.checkpointDir"

  private def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption(CONF_KEY)
      .orElse(sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR"))
      .filter(_.nonEmpty)

  // the dir each SparkContext's checkpoints were last pointed at by US:
  // SparkContext.setCheckpointDir stores a UUID SUBDIR of what it's
  // given, so the configured value can't be recovered from
  // sc.getCheckpointDir for comparison — track it here instead. Without
  // this, a checkpoint dir already set earlier in the session (by us
  // with an old conf value, or by other code) silently won and a
  // changed spark.graft.checkpointDir was ignored.
  private val pointedAt =
    scala.collection.concurrent.TrieMap.empty[String, String]

  // the UUID subdirs made for each application, removed at its end
  private val subdirs =
    scala.collection.concurrent.TrieMap.empty[String, Set[String]]

  /** Removes the checkpoint subdirs made for application `app` when it
    * ends (`SparkContext.stop`, which the JVM's shutdown hook also
    * calls).
    */
  private[graft] final class Cleanup(app: String, conf: Configuration)
      extends SparkListener {
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
      subdirs.replace(app, Set.empty).foreach(_.foreach { d =>
        val p = new Path(d)
        p.getFileSystem(conf).delete(p, true)
      })
      // a later checkpoint of this application points at a new subdir
      pointedAt.remove(app)
    }
  }

  private def removeAtStop(sc: SparkContext, subdir: String): Unit =
    synchronized {
      val app = sc.applicationId
      if (!subdirs.contains(app))
        sc.addSparkListener(new Cleanup(app, sc.hadoopConfiguration))
      subdirs(app) = subdirs.getOrElse(app, Set.empty) + subdir
    }

  /** Materialize `df` and cut its lineage — reliably when a checkpoint
    * dir is configured, in executor memory otherwise. The returned
    * frame's INHERITED size estimate is capped at Long.Max
    * ([[org.apache.spark.sql.graft.Shim.capStats]]): the checkpoint
    * carries the origin plan's Statistics, and in iterative loops the
    * join-product estimate otherwise compounds DOUBLE-exponentially —
    * the r16 phash-CC probe spent 367 of 432 s multiplying a
    * ~5¹³-digit BigInt inside driver-side stats estimation. Capping
    * changes no planning decision (all thresholds are longs).
    */
  def of(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Shim.capStats(reliableDir(df) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty ||
            !pointedAt.get(sc.applicationId).contains(dir)) {
          sc.setCheckpointDir(dir)
          pointedAt(sc.applicationId) = dir
          removeAtStop(sc, sc.getCheckpointDir.get)
        }
        df.checkpoint()
      case None => df.localCheckpoint()
    })

  /** [[of]] fused with a row count: materialize `df` and return how many
    * of its rows match `where` (all of them by default). An iterative
    * loop (connected components) probes convergence with it, and a
    * trainer sizes itself with it, without a second job launch each —
    * at the ~0.5 s/round action floor a separate probe is pure overhead.
    *
    *   - local (block-cache) mode FUSES into ONE job: the checkpoint is
    *     marked lazy and the count's full scan is the action that fills
    *     it. The scan must be full — a limit-1 probe could early-exit
    *     with partitions uncomputed, leaving the lazy checkpoint partial
    *     and silently re-deriving them from a lineage the caller
    *     believes cut.
    *   - reliable (checkpoint-dir) mode does NOT fuse: a lazy reliable
    *     checkpoint re-computes the whole lineage inside the write job
    *     it triggers, costing more than the count saves — it keeps the
    *     eager write, then counts the checkpointed files in full (a
    *     convergence probe here once read only `limit(1)` of them).
    *
    * The count runs on the RDD: `Dataset.count` plans an aggregate whose
    * exchange is a second job under AQE. CheckpointSpec pins both modes
    * to identical rows and count, and the local mode to one job.
    */
  def ofCounted(df: DataFrame,
      where: Column = lit(true)): (DataFrame, Long) = {
    val cp = reliableDir(df) match {
      case Some(_) => of(df)
      case None =>
        org.apache.spark.sql.graft.Shim.capStats(df.localCheckpoint(false))
    }
    (cp, cp.filter(where).queryExecution.toRdd.count())
  }
}
