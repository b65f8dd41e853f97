package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources/sinks — SURVEY.md §2.9. Thin, typed wrappers around the
  * DataFrameReader/Writer API so every graft pipeline reads and writes
  * through one place with scale-safe defaults:
  *  - schema-on-read optional for parquet (self-describing), explicit for
  *    csv/json (schema inference is a full extra pass at 100 TB — only on
  *    request);
  *  - partitioned writes for downstream partition pruning;
  *  - no coalesce(1)-style anti-patterns: parallelism is preserved.
  */
object Sources {

  // ------------------------------------------------------------- readers
  /** `mergeSchema` reconciles SCHEMA-EVOLVED datasets (later files added
    * a column — routine at a long-lived ingest root): the read pays one
    * footer pass per file to union the schemas, so it is opt-in, not the
    * default (the default samples one footer — fine for a table written
    * in one shape). RobustnessSpec pins the union-plus-nulls semantics
    * through THIS path.
    */
  def readParquet(spark: SparkSession, path: String,
      schema: Option[StructType] = None,
      mergeSchema: Boolean = false): DataFrame =
    if (schema.isEmpty && !mergeSchema) graft.Tables.parquet(spark, path)
    else {
      val r = spark.read
      schema.foreach(r.schema)
      if (mergeSchema) r.option("mergeSchema", "true")
      r.parquet(path)
    }

  def readCsv(spark: SparkSession, path: String,
      schema: Option[StructType] = None, header: Boolean = true,
      inferSchema: Boolean = false): DataFrame = {
    val r = spark.read.option("header", header.toString)
    schema match {
      case Some(sc) => r.schema(sc)
      case None => r.option("inferSchema", inferSchema.toString)
    }
    r.csv(path)
  }

  def readJson(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.foreach(r.schema)
    r.json(path)
  }

  /** ORC is self-describing like parquet: schema optional, predicate
    * pushdown + column pruning reach the stripe reader.
    */
  def readOrc(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.foreach(r.schema)
    r.orc(path)
  }

  // ------------------------------------------------------------- writers
  def writeParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*)
    w.parquet(path)
  }

  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", header.toString).csv(path)

  def writeJson(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  def writeOrc(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*)
    w.orc(path)
  }

  /** Bucketed + sorted table write: co-located joins/aggregations on
    * `bucketCol` read back with NO exchange (and no sort, when
    * `sortCols` covers the operator's required ordering — e.g.
    * (key, time) for the native as-of join) — the 100 TB answer to
    * repeated large-large joins on a stable key. Bucket metadata lives
    * in the session catalog, so this writes a managed table rather than
    * a bare path.
    *
    * The frame is pre-shuffled onto the bucket key so each bucket lands
    * in ONE file: the scan only reports its sort order when every bucket
    * is single-file, and the sort-elision above depends on it.
    * (`repartition` and `bucketBy` share the same murmur3 hash
    * partitioning, so the task→bucket mapping is 1:1.) Readers that want
    * the sort elided (e.g. a zero-exchange zero-sort native as-of join —
    * AsofJoinSpec proves the plan) must also set
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true`: Spark 3
    * stopped reporting bucket sort order because multi-file buckets
    * would need a merge, which single-file buckets don't (SPARK-28595).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.repartition(nBuckets, df.col(bucketCol))
      .write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(nBuckets, bucketCol)
    if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
    w.saveAsTable(table)
  }

  /** MERGE-style keyed upsert into a hash-bucketed parquet layout — the
    * table-format-free emulation of `MERGE INTO target USING updates ON
    * target.key = updates.key WHEN MATCHED THEN UPDATE WHEN NOT MATCHED
    * THEN INSERT`. Rows live under `_bucket = pmod(hash(key), nBuckets)`
    * partition directories; an upsert
    *  1. buckets the updates the same way,
    *  2. reads back ONLY the touched buckets (static partition pruning —
    *     the bucket list is ≤ nBuckets values, driver-tiny by design),
    *  3. anti-joins the old rows of those buckets on the key,
    *  4. rewrites exactly the touched partitions via dynamic partition
    *     overwrite (untouched buckets are never read or written —
    *     asserted by file-mtime in SourcesSpec).
    *
    * Scale: per-upsert cost is O(touched buckets), not O(table); pick
    * nBuckets so a bucket ≈ a comfortable task (the same dial as
    * [[writeBucketed]]). The merged frame is materialized before the
    * overwrite (the plan reads the very partitions it rewrites); at
    * cluster scale use reliable `checkpoint()`/a staging dir so task
    * retries re-read, or a transactional table format's MERGE where one
    * is available — this emulation is crash-safe only per-partition
    * (parquet dir swap), not multi-partition-atomic.
    *
    * Updates must be unique per `key` (pre-aggregate otherwise): both
    * duplicates would survive, like a real MERGE's multi-match error.
    */
  def upsertParquet(spark: SparkSession, path: String, updates: DataFrame,
      key: String, nBuckets: Int): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val bucketed = updates.withColumn("_bucket",
      pmod(hash(col(key)), lit(nBuckets)))
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(fsPath)) {
      bucketed.write.partitionBy("_bucket").parquet(path)
    } else {
      val touched = bucketed.select("_bucket").distinct()
        .collect().map(_.getInt(0)).toSeq
      val survivors = graft.Tables.parquet(spark, path)
        .filter(col("_bucket").isin(touched: _*))
        .join(bucketed.select(key).distinct(), Seq(key), "left_anti")
      val merged = survivors.unionByName(bucketed).localCheckpoint()
      try {
        merged.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("_bucket")
          .parquet(path)
      } finally merged.unpersist()
    }
  }

  /** Read an [[upsertParquet]] table (the `_bucket` helper column is an
    * implementation detail and dropped; keep it by reading the path
    * directly when bucket-local processing wants it).
    */
  def readUpserted(spark: SparkSession, path: String): DataFrame =
    graft.Tables.parquet(spark, path).drop("_bucket")

  /** Small-file COMPACTION of a parquet dataset — the maintenance pass
    * every long-lived ingest loop needs (streaming sinks, upserts, and
    * per-slice appends all accrete files far below the scan-efficient
    * size; a 100 TB table of 1 MB files spends its scan time on footer
    * reads and task scheduling, and object stores throttle the LIST).
    *
    * Rewrites `path` into ≈`targetBytes` files: file count =
    * ceil(on-disk bytes / targetBytes), rows redistributed round-robin
    * (repartition without keys — no skew regardless of input layout).
    * Returns (filesBefore, filesAfter). Rows are preserved exactly;
    * ordering is not (parquet files are unordered sets — callers
    * needing an order sort on read).
    *
    * The rewrite stages into `path._compact_tmp` and swaps via two
    * renames (atomic per rename on HDFS/posix), so a crash leaves
    * either the old or the new layout plus at worst an orphaned tmp
    * dir — never a partial mix. Partitioned layouts compact per LEAF
    * partition directory at cluster scale (run this per partition);
    * this utility targets the flat-directory case (streaming state,
    * upsert buckets, index postings). Passing a partitioned ROOT
    * (`key=value` subdirectories) is rejected rather than assumed
    * away: a flat rewrite would read the partition columns as data and
    * swap in a layout that destroys the directory structure partition
    * pruning (incl. DPP) depends on. A directory with no data files
    * (an idle streaming sink that has only committed `_SUCCESS`) is a
    * no-op returning (0, 0) — there is nothing to compact, and
    * `spark.read.parquet` could not infer a schema from it anyway.
    */
  /** Z-ORDER clustered parquet write — multi-dimensional file skipping
    * for the two-filter scans a bucketed or linearly-sorted layout can't
    * serve (Delta's OPTIMIZE ZORDER BY, as a plain-parquet write): each
    * row's two cluster keys are min-max scaled to 16 bits (exact integer
    * arithmetic against one broadcast stats row — no driver action) and
    * bit-interleaved into a 32-bit Morton code; rows are then
    * range-partitioned AND sorted by that code, so every output file
    * covers a small square of (a, b) space and its parquet footer
    * min/max on BOTH columns is tight. A predicate on either column (or
    * a box on both) prunes row groups via ordinary stats pushdown —
    * ~√F of F files match a thin slice in either dimension, where a
    * b-filter on an a-sorted layout reads everything (SourcesSpec
    * measures bytesRead on both layouts).
    *
    * Scale: one extra exchange (the range partitioner) over the write
    * path; the stats row is a broadcast scalar. nFiles is the same dial
    * as compactParquet's targetBytes — size so a file ≈ a row group ≈
    * one task's comfortable read.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String,
      colB: String, nFiles: Int): Unit = {
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    // spread 16 bits over the even positions of a 32-bit word
    def spread(c: Column): Column = {
      val s1 = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FFL))
      val s2 = (s1.bitwiseOR(shiftleft(s1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
      val s3 = (s2.bitwiseOR(shiftleft(s2, 2))).bitwiseAND(lit(0x33333333L))
      (s3.bitwiseOR(shiftleft(s3, 1))).bitwiseAND(lit(0x55555555L))
    }
    // floor of a double division: operands stay ≤ ~6·10¹³ (exact in
    // double), and a ±1 bucket edge from the final rounding only nudges
    // a row one Morton cell over — irrelevant to a clustering layout
    def scale16(c: Column, mn: Column, mx: Column): Column =
      floor(((c.cast("long") - mn) * 65535L) / greatest(mx - mn, lit(1L)))
        .cast("long")
    val stats = df.agg(
      min(df.col(colA).cast("long")).as("mna"),
      max(df.col(colA).cast("long")).as("mxa"),
      min(df.col(colB).cast("long")).as("mnb"),
      max(df.col(colB).cast("long")).as("mxb"))
    df.crossJoin(broadcast(stats))
      .withColumn("__z",
        spread(scale16(df.col(colA), col("mna"), col("mxa")))
          .bitwiseOR(shiftleft(
            spread(scale16(df.col(colB), col("mnb"), col("mxb"))), 1)))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z", "mna", "mxa", "mnb", "mxb")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Fold all `ingest_id > 0` partitions of an ingest-partitioned state
    * table into the base (`ingest_id = 0`) — the maintenance pass that
    * keeps a daily-slice production loop from accreting thousands of
    * tiny partitions (every [[graft.dedup.DedupState.appendDedupState]]
    * / [[graft.sim.Knn.appendIvfIndex]] / sink batch adds one
    * `ingest_id=` level; [[graft.text.TextIndex.compactTextIndex]] is
    * the sibling for the tombstone side). Result-invariant: readers
    * ignore `ingest_id`, so folding moves rows, never changes them
    * (CompactSpec pins bit-equal answers per artifact).
    *
    * Layout-aware and partition-pruned: a `cent_id=/ingest_id=` table
    * reads ONLY the cells that have non-base slices (FS listing names
    * them — never a data scan), rewrites those cells' base partitions
    * via dynamic overwrite, and drops the folded slice directories; an
    * `ingest_id=`-only table is rewritten whole (its rows all move).
    * Rows must carry SET semantics (true of every graft state table:
    * one row per vec_id/bucket/pair) — the fold `distinct`s, which
    * makes a CRASHED fold heal on re-run (rows living in both the new
    * base and a not-yet-deleted slice dir collapse back to one).
    *
    * Replay contract AFTER compaction: a pre-compaction slice replay is
    * rejected by the append's duplicate-identity guard (its ids now
    * live under `ingest_id=0`) — the correct at-least-once behavior,
    * since the slice IS ingested; run compaction OFF the ingest path,
    * after in-flight slices settle (the compactTextIndex contract).
    *
    * Returns (leaf partition dirs before, after).
    */
  def foldIngestPartitions(spark: SparkSession, path: String): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(d: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val kids = fs.listStatus(d)
        .filter(e => e.isDirectory && e.getPath.getName.contains("="))
        .map(_.getPath).toSeq
      if (kids.isEmpty) Seq(d) else kids.flatMap(leaves)
    }
    val qp = fs.makeQualified(p)
    val leafDirs = leaves(qp)
    require(leafDirs != Seq(qp),
      s"foldIngestPartitions: $path has no partition directories")
    val rel = leafDirs.map(l =>
      l.toString.stripPrefix(qp.toString).stripPrefix("/"))
    val partCols = rel.head.split("/").map(_.split("=")(0)).toSeq
    require(partCols.last == "ingest_id",
      s"foldIngestPartitions: $path is partitioned by " +
        s"${partCols.mkString("/")}, expected an ingest_id leaf level")
    val nonzero = rel.filter(_.split("/").last != "ingest_id=0")
    if (nonzero.isEmpty) return (leafDirs.size, leafDirs.size)
    partCols match {
      case Seq("ingest_id") =>
        val folded = graft.Checkpoint.of(graft.Tables.parquet(spark, path)
          .withColumn("ingest_id", lit(0L)).distinct())
        folded.write.mode(SaveMode.Overwrite)
          .partitionBy("ingest_id").parquet(path)
      case Seq(top, "ingest_id") =>
        val affected = nonzero.map(_.split("/")(0).split("=")(1).toLong)
          .distinct
        val folded = graft.Checkpoint.of(graft.Tables.parquet(spark, path)
          .withColumn(top, col(top).cast("long"))
          .filter(col(top).isin(affected: _*))
          .withColumn("ingest_id", lit(0L)).distinct())
        folded.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(top, "ingest_id").parquet(path)
        nonzero.foreach(r =>
          fs.delete(new org.apache.hadoop.fs.Path(p, r), true))
      case other => throw new IllegalArgumentException(
        s"foldIngestPartitions: unsupported layout ${other.mkString("/")}")
    }
    (leafDirs.size, leaves(qp).size)
  }

  def compactParquet(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(p)
    val partitionDirs = entries.filter(e =>
      e.isDirectory && e.getPath.getName.contains("="))
    require(partitionDirs.isEmpty,
      s"compact: $path is a partitioned root (found ${partitionDirs.head
        .getPath.getName}/) — compact each leaf partition directory " +
        "instead; a flat rewrite would destroy the partition layout")
    val files = entries.filter(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
    if (files.isEmpty) return (0, 0)
    val totalBytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "._compact_tmp")
    fs.delete(tmp, true)
    graft.Tables.parquet(spark, path).repartition(nOut)
      .write.parquet(tmp.toString)
    val old = new org.apache.hadoop.fs.Path(path + "._compact_old")
    fs.delete(old, true)
    if (!fs.rename(p, old))
      throw new java.io.IOException(s"compact: cannot stage $path aside")
    if (!fs.rename(tmp, p)) {
      fs.rename(old, p) // roll back; the tmp dir remains for inspection
      throw new java.io.IOException(s"compact: cannot install $tmp")
    }
    fs.delete(old, true)
    val after = fs.listStatus(p).count(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
    (files.length, after)
  }
}
