package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The one file-listing fingerprint: the sorted (path, size, mtime) of
  * every file a table or directory holds. Writers add files under new
  * names and never rewrite one in place, so an unchanged listing means
  * unchanged content. [[Artifacts]] keys builds on it, [[Tables.parquet]]
  * its inferred schemas, and `graft.sim.IndexQuery` its held codebooks.
  */
private[graft] object Listing {

  type Files = Seq[(String, Long, Long)]

  def of(files: Iterator[FileStatus]): Files =
    files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .toSeq.sorted

  /** Every file under `dir`, recursively, hidden ones included. */
  def under(s: SparkSession, dir: String): Files = {
    val p = new Path(dir)
    val it = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    of(Iterator.continually(it).takeWhile(_.hasNext).map(_.next()))
  }

  /** A plain file-source table's root path and the files it reads under
    * `partitionFilters`, from its relation's own listing: no Spark job,
    * and no second listing of the files. None for any other frame.
    */
  def relation(table: DataFrame, partitionFilters: Seq[Expression] = Nil)
      : Option[(String, Files)] =
    table.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation =>
      (r.location.rootPaths.mkString(","),
        of(r.location.listFiles(partitionFilters, Nil).iterator
          .flatMap(_.files).map(_.fileStatus)))
    }
}
