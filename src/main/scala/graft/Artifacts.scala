package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one registry of persisted artifacts: IVF, PQ and text indexes,
  * kNN graphs, dedup and embed state, pipeline drops. [[cached]] builds
  * each (kind, corpus dir) once per JVM — Verify and every Bench rep
  * reuse one build — at a FIXED path, `<root>/graft-<kind>-<sanitized
  * dir>`, overwritten on rebuild and never accumulated (a temp
  * directory per invocation leaks one artifact per query).
  *
  * A build is keyed on the corpus FINGERPRINT too: the path, size and
  * mtime of every file under `dir`. A corpus rewritten in place under
  * the same dir (regenerated test data, a refreshed drop) is rebuilt
  * into the same path instead of serving the old build.
  */
object Artifacts {

  /** Artifact root: `spark.graft.indexDir` when set (a cluster points it
    * at shared object storage), else the checkpoint dir (both already
    * point at shared storage, so the persisted posture is real, not
    * driver-local), else the JVM temp dir.
    */
  def root(s: SparkSession): String =
    s.conf.getOption("spark.graft.indexDir")
      .orElse(s.conf.getOption(Checkpoint.CONF_KEY))
      .filter(_.nonEmpty)
      .getOrElse(sys.props("java.io.tmpdir"))

  private final case class Built(fingerprint: Listing.Files,
      path: String)

  private val built =
    scala.collection.concurrent.TrieMap.empty[(String, String), Built]

  @volatile private var counts = Map.empty[String, Int]

  /** Builds of `kind` this JVM — specs assert builds-once through it. */
  def builds(kind: String): Int = counts.getOrElse(kind, 0)

  /** Builds of every kind this JVM — Bench discards a rep that moved it. */
  def totalBuilds: Int = counts.values.sum

  /** Whether `path` backs a registry artifact. */
  private[graft] def isCached(path: String): Boolean =
    built.values.exists(_.path == path)

  /** The path of the `kind` artifact over the corpus at `dir`, running
    * `build(path)` into an emptied path first when this JVM has no build
    * of it for the corpus's current fingerprint. A rebuild reuses the
    * first build's path.
    */
  def cached(kind: String, s: SparkSession, dir: String)(
      build: String => Unit): String = {
    val fp = Listing.under(s, dir)
    def current: Option[String] = built.get((kind, dir))
      .collect { case b if b.fingerprint == fp => b.path }
    current.getOrElse(synchronized {
      current.getOrElse {
        val path = built.get((kind, dir)).map(_.path).getOrElse(
          new Path(root(s),
            s"graft-$kind-" + dir.replaceAll("[^A-Za-z0-9.]+", "_")).toString)
        val p = new Path(path)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        build(path)
        built((kind, dir)) = Built(fp, path)
        counts = counts.updated(kind, builds(kind) + 1)
        path
      }
    })
  }
}
