package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Checkpoint, SparkEntry, Tables}
import graft.dedup.Dedup
import graft.handler.DistributedHandler
import graft.sim.{Knn, Pq}
import graft.streaming.Streaming
import graft.text.{Pipelines, Sampling, TextIndex}

/** One timed op: wall ms, items it processed, the output-check failure
  * (if any) and per-op facts the report derives ratios from.
  */
final case class OpResult(kind: String, ms: Double, items: Long,
    error: Option[String], extra: Map[String, Any] = Map.empty)

/** A workload over the generated tables in `data`. `setup` builds the
  * artifacts under `dir` and is timed; `prepare` makes the untimed set-up
  * checks; `op(i)` runs the i-th timed op and checks its output after
  * the clock stops.
  */
abstract class Workload(val data: String, val meta: Map[String, Any]) {
  def setup(s: SparkSession, t: Tracer, dir: String): Unit = ()
  def prepare(s: SparkSession, t: Tracer, work: String): Map[String, Any]
  def op(s: SparkSession, t: Tracer, i: Int): OpResult
  /** Ops run even past the time budget (at least one). */
  def minOps: Int = 1
  def maxOps: Int = Int.MaxValue

  protected def timed[T](t: Tracer, kind: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = t.span(s"op.$kind")(body)
    (r, (System.nanoTime - t0) / 1e6)
  }

  protected def vectors(s: SparkSession): DataFrame =
    Tables(s, data, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  protected def fail(cond: Boolean, msg: => String): Option[String] =
    if (cond) None else Some(msg)
}

object Workload {
  def digest(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  def tokens(text: String): Array[String] = text.split(' ').filter(_.nonEmpty)

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    d / math.sqrt(na * nb)
  }

  /** First failure among the checks, if any. */
  def firstError(checks: Option[String]*): Option[String] =
    checks.collectFirst { case Some(e) => e }
}

/** Batch corpus preparation: the clustered pipeline plus containment. */
final class CorpusPrepare(data: String, meta: Map[String, Any])
    extends Workload(data, meta) {
  import Workload._

  private val nDocs =
    meta("sizes").asInstanceOf[Map[String, Any]]("documents").toString.toLong
  private var expectedSummary: Seq[Row] = Nil
  private var expectedDrops = Set.empty[Long]
  private var families: Seq[Seq[Long]] = Nil
  private var shingles: Map[Long, Set[String]] = Map.empty

  // the library's own stage-4 summary of pipeline_prepare_clustered
  private def summarize(clean: DataFrame): DataFrame =
    clean
      .groupBy(col("lang"), Sampling.splitLabel(col("text")).as("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"))
      .orderBy("lang", "split")

  // three passes: the first one after the set-up checks runs partly cold,
  // the median is a warm one
  override def minOps: Int = 3

  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = (x & y).size
    inter.toDouble / (x.size + y.size - inter)
  }

  /** Driver-side stage 3: connected components of every pair of deduped
    * docs with Jaccard >= tau, dropping all but each component's min id.
    */
  private def nearDupDrops(): Set[Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = parent.get(x) match {
      case Some(p) if p != x => val r = find(p); parent(x) = r; r
      case _                 => x
    }
    val postings = shingles.toSeq
      .flatMap { case (id, sh) => sh.map(_ -> id) }.groupMap(_._1)(_._2)
    for {
      ids <- postings.values
      a <- ids; b <- ids if a < b && jaccard(a, b) >= Dedup.TAU
      (ra, rb) = (find(a), find(b)) if ra != rb
    } parent(math.max(ra, rb)) = math.min(ra, rb)
    parent.keys.filter(id => find(id) != id).toSet
  }

  private def splitOf(text: String): String = {
    val md5 = MessageDigest.getInstance("MD5").digest(text.getBytes(UTF_8))
    val bucket = ((md5(0) & 0xff) << 8) | (md5(1) & 0xff)
    if (bucket < 52429) "train" else if (bucket < 58982) "val" else "test"
  }

  def prepare(s: SparkSession, t: Tracer, work: String): Map[String, Any] = {
    val (deduped, sh) = Pipelines.stagesForProbe(s, data)
    val docs = deduped.select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    shingles = docs.map { case (id, _, txt) =>
      id -> tokens(txt).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    }.toMap
    // every pass must reproduce this independent answer
    expectedDrops = nearDupDrops()
    expectedSummary = docs.filterNot(d => expectedDrops(d._1))
      .groupBy { case (_, lang, txt) => (lang, splitOf(txt)) }.toSeq.sortBy(_._1)
      .map { case ((lang, split), ds) =>
        Row(lang, split, ds.length.toLong, ds.map(_._3.length.toLong).sum) }
    families = s.read.parquet(s"$data/planted_docs.parquet")
      .select("family", "doc_id").collect()
      .groupBy(_.getLong(0)).values
      .map(_.map(_.getLong(1)).filter(shingles.contains).toSeq)
      .filter(_.size > 1).toSeq
    // the useful_ratio denominator, counted for traced runs only
    val candidates =
      if (t.traced) Dedup.jaccardCandidates(sh, Dedup.DEFAULT_DF_CAP).count()
      else 0L
    Map("docs" -> nDocs, "deduped_docs" -> docs.length,
      "near_dup_drops" -> expectedDrops.size,
      "planted_families" -> families.size, "jaccard_candidates" -> candidates)
  }

  def op(s: SparkSession, t: Tracer, i: Int): OpResult = {
    val ((summary, pairs, drops, nCont), ms) = timed(t, "pass") {
      val (deduped, sh) =
        t.span("text.prepare_stages")(Pipelines.stagesForProbe(s, data))
      val pairs = t.span("dedup.jaccard_pairs")(
        Checkpoint.of(Dedup.jaccardPairs(sh, Dedup.TAU)))
      val drops = t.span("dedup.connected_components")(Checkpoint.of(
        Dedup.connectedComponents(
            pairs.select(col("a_id").as("u"), col("b_id").as("v")))
          .filter(col("label") < col("id")).select(col("id").as("doc_id"))))
      val summary = t.span("text.split_summary")(summarize(
        deduped.join(drops, Seq("doc_id"), "left_anti")).collect().toSeq)
      val nCont = t.span("dedup.containment_pairs")(
        SparkEntry.queries("dedup_containment")(s, data).count())
      (summary, pairs, drops, nCont)
    }
    val pairRows = pairs.collect()
    val dropIds = drops.collect().map(_.getLong(0)).toSet
    // re-verify an evenly spaced sample of the reported pairs
    val badPair = pairRows.sortBy(r => (r.getLong(0), r.getLong(1)))
      .zipWithIndex.collect { case (r, j) if j % 17 == 0 => r }
      .find { r =>
        val j = jaccard(r.getLong(0), r.getLong(1))
        j < Dedup.TAU || math.abs(j - r.getDouble(2)) > 1e-12
      }
    val survivors = families.filter(f => f.count(id => !dropIds(id)) != 1)
    val err = firstError(
      fail(dropIds == expectedDrops,
        s"kept set differs from the driver-side components " +
          s"(${dropIds.size} vs ${expectedDrops.size} drops)"),
      fail(summary == expectedSummary, "split summary differs"),
      fail(survivors.isEmpty,
        s"${survivors.size} planted near-dup families not cut to one doc"),
      fail(badPair.isEmpty, s"reported pair fails re-verification: ${badPair.orNull}"),
      fail(nCont > 0, "no containment pairs found"))
    Seq(pairs, drops).foreach(_.unpersist())
    OpResult("pass", ms, nDocs, err,
      Map("jaccard_pairs" -> pairRows.length, "containment_pairs" -> nCont))
  }
}

final case class Feat(doc_id: Long, text: String, v: Array[Double],
    payload: Array[Byte])

/** The featurizer the handler maps over each micro-batch: a signed
  * hashed bag of words (unit norm) plus the raw bytes as media payload.
  */
object Featurize {
  val DIM = 64

  def apply(item: (Long, String)): Feat = {
    val v = new Array[Double](DIM)
    Workload.tokens(item._2).foreach { w =>
      val h = MurmurHash3.stringHash(w)
      v((h & 0x7fffffff) % DIM) += (if (h < 0) -1.0 else 1.0)
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    Feat(item._1, item._2, v.map(_ / math.max(n, 1e-12)),
      item._2.getBytes(UTF_8))
  }
}

/** Micro-batch ingest into the dedup sinks, the text-index sink and the
  * IVF index, each batch followed by a read-after-write op and a seeded
  * run of interactive reads (IVF, PQ and ranked-text searches, relational
  * and as-of SQL) against the indexes built at set-up.
  */
final class StreamIngest(data: String, meta: Map[String, Any])
    extends Workload(data, meta) {
  import Workload._

  /** Reads per ingest cycle (one batch, one fresh read, then these). */
  private val READS = meta("reads_per_batch").toString.toInt
  /** The SQL ops a "sql" / "asof" read picks from (by its seeded slot). */
  val sqlNames: Map[String, Seq[String]] = Map(
    "sql" -> Seq("q01_agg", "q03_join_agg"),
    "asof" -> Seq("asof_join", "asof_join_native"))
  private val queries = SparkEntry.queries
  private val reads = meta("ops").asInstanceOf[Seq[Map[String, Any]]]
  private val markers = meta("markers").asInstanceOf[Seq[String]]
  private var dir = ""
  private var batches: IndexedSeq[Seq[(Long, String, Long)]] = IndexedSeq.empty
  private var sinks: Seq[(String, (DataFrame, Long) => Unit)] = Nil
  private var flagged = Set.empty[Long]
  private var pairs = Set.empty[(Long, Long)]
  private var vecs: Map[Long, Array[Double]] = Map.empty
  private var tf: Map[Long, Map[String, Int]] = Map.empty
  private var df: Map[String, Int] = Map.empty
  private var sqlDigest: Map[String, String] = Map.empty

  override def minOps: Int = 2 * (2 + READS)
  // cycle 0 is the untimed warm-up run by prepare
  override def maxOps: Int = (markers.size - 1) * (2 + READS)

  override def setup(s: SparkSession, t: Tracer, d: String): Unit = {
    dir = d
    val emb = vectors(s)
    t.span("sim.ivf_build")(Knn.buildIvfIndex(emb, s"$d/ivf"))
    t.span("sim.pq_build")(Pq.buildIvfPqIndex(emb, s"$d/pq"))
    // one range split per core: the default 32 splits x 32 term buckets
    // would write ~1000 files for a corpus this size
    t.span("text.index_build")(TextIndex.buildTextIndex(
      Tables(s, data, "documents").select("doc_id", "text"), s"$d/text",
      s.sparkContext.defaultParallelism))
  }

  def prepare(s: SparkSession, t: Tracer, work: String): Map[String, Any] = {
    batches = s.read.parquet(s"$data/stream.parquet")
      .select("batch_id", "item_id", "text", "planted_of").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq).toIndexedSeq
    sinks = Seq(
      "streaming.minhash_dedup_sink" ->
        Streaming.minhashDedupSink(s"$dir/minhash", Dedup.PERMS, Dedup.BANDS) {
          df => flagged = df.filter(col("is_neardup")).select("doc_id")
            .collect().map(_.getLong(0)).toSet },
      "streaming.embed_dedup_sink" ->
        Streaming.embedDedupSink(s"$dir/embed") {
          df => pairs = df.select("a_id", "b_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet },
      "text.index_sink" -> TextIndex.textIndexSink(s"$dir/stream_text"))
    vecs = vectors(s).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    tf = Tables(s, data, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        tokens(r.getString(1)).groupBy(identity).view.mapValues(_.length).toMap)
      .toMap
    df = tf.values.flatMap(_.keys).groupBy(identity).view
      .mapValues(_.size).toMap
    // each SQL op's answer is computed once here and written out for the
    // DuckDB oracle compare; timed runs must reproduce its digest
    sqlDigest = sqlNames.values.flatten.map { n =>
      val res = queries(n)(s, data)
      res.write.mode("overwrite").parquet(s"$work/sql/$n")
      n -> digest(res.collect().toSeq)
    }.toMap
    // an untimed cycle warms every op's code paths (the first batch through
    // the sinks compiles their plans); the SQL ops ran just above
    val warm = Seq(ingest(s, t, 0), fresh(s, t, 0)) ++
      reads.filter(o => Set("ivf", "pq", "text")(o("kind").toString))
        .groupBy(_("kind")).values.map(ks => read(s, t, ks.head))
    val oracle = SparkEntry.oracleSql
    Map("sql_oracle" -> sqlDigest.keys.map(n => n -> oracle(n)).toMap,
      "batches" -> batches.size, "batch_items" -> batches.head.size,
      "vectors" -> vecs.size, "docs" -> tf.size,
      "warmup_ops" -> warm.size, "warmup_errors" -> warm.flatMap(_.error))
  }

  def op(s: SparkSession, t: Tracer, i: Int): OpResult =
    cycleOp(s, t, i / (2 + READS) + 1, i % (2 + READS))

  private def cycleOp(s: SparkSession, t: Tracer, cycle: Int, pos: Int): OpResult =
    pos match {
      case 0 => ingest(s, t, cycle)
      case 1 => fresh(s, t, cycle)
      case p => read(s, t, reads((cycle * READS + p - 2) % reads.size))
    }

  private def ingest(s: SparkSession, t: Tracer, b: Int): OpResult = {
    val items = batches(b)
    val h = DistributedHandler()
    val per = (items.size + s.sparkContext.defaultParallelism - 1) /
      s.sparkContext.defaultParallelism
    import s.implicits._
    val (feat, ms) = timed(t, "batch") {
      val feat = t.span("handler.batched_map")(Checkpoint.of(
        h.batchedMap(items.map(x => (x._1, x._2)), per)(Featurize(_)).toDF()))
      val inputs = Seq(feat.select("doc_id", "text"),
        feat.select(col("doc_id").as("media_id"), col("payload")),
        feat.select("doc_id", "text"))
      sinks.zip(inputs).foreach { case ((name, sink), in) =>
        t.span(name) {
          sink(in, b.toLong)
          if (name == "text.index_sink")
            TextIndex.finalizeTextIndex(s, s"$dir/stream_text")
        }
      }
      t.span("sim.ivf_append")(Knn.appendIvfIndex(s, s"$dir/ivf",
        feat.select(col("doc_id").as("vec_id"), col("v")), b + 1L))
      feat
    }
    feat.unpersist()
    vecs ++= items.map(x => x._1 -> Featurize((x._1, x._2)).v)
    val planted = items.filter(_._3 >= 0)
    val mhMiss = planted.filterNot(p => flagged(p._1))
    val embMiss = planted.filterNot(p =>
      pairs((math.min(p._1, p._3), math.max(p._1, p._3))))
    OpResult("batch", ms, items.size, firstError(
      fail(mhMiss.isEmpty, s"minhash sink missed planted dups ${mhMiss.map(_._1)}"),
      fail(embMiss.isEmpty, s"embed sink missed planted dups ${embMiss.map(_._1)}")),
      Map("planted" -> planted.size,
        "minhash_hits" -> (planted.size - mhMiss.size),
        "embed_hits" -> (planted.size - embMiss.size)))
  }

  /** Read-after-write: the batch's marker term in the streamed text index,
    * and the batch's marker items as kNN queries against the IVF lists
    * they were just appended to.
    */
  private def fresh(s: SparkSession, t: Tracer, b: Int): OpResult = {
    val markerDocs = batches(b).filter(_._2.split(' ').contains(markers(b)))
      .map(_._1)
    val ((hits, nbrs), ms) = timed(t, "fresh") {
      val hits = t.span("text.fresh_query")(TextIndex.queryTextIndexRanked(
        s, s"$dir/stream_text", Seq(markers(b)), 20).collect())
      val nbrs = t.span("sim.fresh_read") {
        val q = s.read.parquet(s"$dir/ivf/lists")
          .filter(col("vec_id").isin(markerDocs: _*))
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        Knn.queryIvfIndex(s, s"$dir/ivf", q).collect()
      }
      (hits.map(_.getLong(0)).toSet, nbrs)
    }
    OpResult("fresh", ms, markerDocs.size, firstError(
      fail(markerDocs.nonEmpty && markerDocs.forall(hits),
        s"fresh text query misses batch $b items"),
      checkNeighbours(nbrs, markerDocs)))
  }

  private def checkNeighbours(rows: Array[Row], ids: Seq[Long]): Option[String] = {
    val byQ = rows.groupBy(_.getLong(0))
    val bad = ids.filter { q =>
      val rs = byQ.getOrElse(q, Array.empty[Row]).sortBy(_.getLong(2))
      val cos = rs.map(r => cosine(vecs(q), vecs(r.getLong(1))))
      !(rs.nonEmpty &&
        rs.map(_.getLong(2)).toSeq == (1L to rs.length.toLong) &&
        rs.zip(cos).forall { case (r, c) => math.abs(r.getDouble(3) - c) <= 1e-6 } &&
        cos.sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-12))
    }
    fail(bad.isEmpty, s"neighbour check failed for queries ${bad.mkString(",")}")
  }

  private def expectedText(terms: Seq[String], k: Int): Seq[(Long, Long, Long)] =
    tf.toSeq.flatMap { case (id, m) =>
      val hit = terms.distinct.filter(m.contains)
      if (hit.isEmpty) None
      else Some((id, hit.size.toLong,
        hit.map(w => m(w).toLong * 1000000L / df(w)).sum))
    }.sortBy { case (id, _, sc) => (-sc, id) }.take(k)

  private def read(s: SparkSession, t: Tracer, o: Map[String, Any]): OpResult =
    o("kind").asInstanceOf[String] match {
      case kind @ ("ivf" | "pq") =>
        val ids = o("ids").asInstanceOf[Seq[Any]].map(_.toString.toLong)
        val (rows, ms) = timed(t, kind) {
          val e = vectors(s)
          val q = e.filter(col("vec_id").isin(ids: _*))
            .select(col("vec_id").as("query_id"), col("v").as("qv"))
          if (kind == "ivf")
            t.span("sim.ivf_query")(
              Knn.queryIvfIndex(s, s"$dir/ivf", q).collect())
          else
            t.span("sim.pq_query")(
              Pq.queryIvfPqIndex(s, s"$dir/pq", q, e).collect())
        }
        OpResult(kind, ms, ids.size, checkNeighbours(rows, ids),
          Map("results" -> ids.size * 5))
      case "text" =>
        val terms = o("terms").asInstanceOf[Seq[String]]
        val (rows, ms) = timed(t, "text")(t.span("text.index_query")(
          TextIndex.queryTextIndexRanked(s, s"$dir/text", terms, 10).collect()))
        val got = rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        OpResult("text", ms, 1, fail(got == expectedText(terms, 10),
          s"ranked text answer differs for ${terms.mkString(" ")}"),
          Map("results" -> 10))
      case kind =>
        val names = sqlNames(kind)
        val name = names((o("slot").toString.toLong % names.size).toInt)
        val layer = if (kind == "asof") "plans.asof_query" else "operators.query"
        val (rows, ms) = timed(t, kind)(t.span(layer)(
          queries(name)(s, data).collect()))
        OpResult(kind, ms, 1, fail(digest(rows.toSeq) == sqlDigest(name),
          s"$name answer differs from its verified digest"),
          Map("query" -> name))
    }
}
