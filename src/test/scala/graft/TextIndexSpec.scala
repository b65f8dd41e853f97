package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

/** Persisted full-text index: build/query API, DPP-pruned reads,
  * build-once session caching (text_search itself is oracle-gated).
  */
class TextIndexSpec extends SparkSpec {

  test("text_search reads the postings with dynamic partition pruning " +
      "and reuses one session-cached build") {
    val d = SparkEntry.queries("text_search")(spark, sfDir)
    d.collect() // AQE finalizes the plan; triggers (at most one) build
    val afterFirst = Artifacts.builds("text")
    assert(afterFirst >= 1, "first query must have built the index")
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      "term broadcast must prune pb partitions at the postings scan")
    SparkEntry.queries("text_search")(spark, sfDir).collect()
    assert(Artifacts.builds("text") == afterFirst,
      "second query must NOT rebuild the index")
  }

  test("ranked retrieval: integer tf/df scoring matches a direct model, " +
      "rarer terms weigh more") {
    val rows = SparkEntry.queries("text_search_ranked")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == graft.text.TextIndex.RANKED_K)
    // scores sorted desc with doc_id tie-break, all positive
    assert(rows.sliding(2).forall { case Array((i1, _, s1), (i2, _, s2)) =>
      s1 > s2 || (s1 == s2 && i1 < i2) })
    assert(rows.forall(_._3 > 0))
    // direct model over the corpus for one scored doc
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty)))
    val terms = graft.text.TextIndex.RANKED_TERMS
    val df = terms.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    val (topId, topMatched, topScore) = rows.head
    val toks = docs.find(_._1 == topId).get._2
    val want = terms.filter(toks.contains).map(t =>
      toks.count(_ == t).toLong * 1000000L / df(t)).sum
    assert(topScore == want && topMatched ==
      terms.count(toks.contains).toLong)
  }

  test("streaming ingest + finalize answers exactly like a batch build") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val slices = docs.grouped(math.max(1, docs.length / 3)).toSeq
    val dir = Files.createTempDirectory("graft-text-stream").toFile
    try {
      val streamed = dir.getAbsolutePath + "/streamed"
      val batch = dir.getAbsolutePath + "/batch"
      val mem = MemoryStream[(Long, String)]
      val sink = graft.text.TextIndex.textIndexSink(streamed)
      val q = mem.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch(sink).start()
      try {
        slices.foreach { s => mem.addData(s.toSeq: _*); q.processAllAvailable() }
      } finally q.stop()
      // replay batch 0 (crash between the postings write and the
      // checkpoint commit): the dynamic (pb, batch_id) overwrite must
      // rewrite its own partitions, not append duplicate postings
      graft.text.TextIndex.textIndexSink(streamed)(
        slices.head.toSeq.toDF("doc_id", "text"), 0L)
      graft.text.TextIndex.finalizeTextIndex(spark, streamed)
      graft.text.TextIndex.buildTextIndex(
        Tables(spark, sfDir, "documents").select("doc_id", "text"), batch)
      def res(path: String) = graft.text.TextIndex
        .queryTextIndexRanked(spark, path,
          graft.text.TextIndex.RANKED_TERMS, graft.text.TextIndex.RANKED_K)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(res(streamed) == res(batch),
        "sliced streaming ingest (incl. a replayed micro-batch) must " +
          "answer exactly like the batch build")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("positions backfill: a sink-built index + finalize(positionsFrom) " +
      "answers phrase_pos exactly like a batch build") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docsDf = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val docs = docsDf.as[(Long, String)].collect().sortBy(_._1)
    val slices = docs.grouped(math.max(1, docs.length / 3)).toSeq
    val dir = Files.createTempDirectory("graft-text-pos").toFile
    try {
      val streamed = dir.getAbsolutePath + "/streamed"
      val batch = dir.getAbsolutePath + "/batch"
      val mem = MemoryStream[(Long, String)]
      val sink = graft.text.TextIndex.textIndexSink(streamed)
      val q = mem.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch(sink).start()
      try {
        slices.foreach { s => mem.addData(s.toSeq: _*); q.processAllAvailable() }
      } finally q.stop()
      // the sink stores each batch's sorted positions at ingest, so a
      // DICTIONARY-ONLY finalize (no corpus pass) answers phrase_pos
      graft.text.TextIndex.finalizeTextIndex(spark, streamed)
      graft.text.TextIndex.buildTextIndex(docsDf, batch)
      def phrase(path: String) = graft.text.TextIndex
        .queryTextIndexPhrase(spark, path, graft.text.TextIndex.PHRASE)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = phrase(streamed)
      assert(got.nonEmpty && got == phrase(batch),
        "streamed index + dictionary-only finalize must answer " +
          "phrase_pos exactly like the batch build")
      // the positionsFrom RECOVERY path still works and still fails
      // fast on a partial corpus
      val err = intercept[IllegalArgumentException] {
        graft.text.TextIndex.finalizeTextIndex(spark, streamed,
          positionsFrom = Some(docsDf.limit(5)))
      }
      assert(err.getMessage.contains("positionsFrom"))
      graft.text.TextIndex.finalizeTextIndex(spark, streamed,
        positionsFrom = Some(docsDf))
      assert(phrase(streamed) == got,
        "a positions recovery pass must reproduce the stored positions")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("takedown: removeDocs answers every query like a fresh build on " +
      "the remaining corpus; compact makes it physical") {
    val docsDf = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val gone = docsDf.filter(col("doc_id") % 7 === 0).select("doc_id")
    val keepDf = docsDf.join(gone, Seq("doc_id"), "left_anti")
    val dir = Files.createTempDirectory("graft-text-del").toFile
    try {
      val full = dir.getAbsolutePath + "/full"
      val rest = dir.getAbsolutePath + "/rest"
      graft.text.TextIndex.buildTextIndex(docsDf, full)
      graft.text.TextIndex.buildTextIndex(keepDf, rest)
      graft.text.TextIndex.removeDocs(spark, full, gone)
      def results(path: String) = (
        graft.text.TextIndex.queryTextIndex(spark, path,
          graft.text.TextIndex.QUERY_TERMS)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        graft.text.TextIndex.queryTextIndexRanked(spark, path,
          graft.text.TextIndex.RANKED_TERMS, graft.text.TextIndex.RANKED_K)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSeq,
        graft.text.TextIndex.queryTextIndexPhrase(spark, path,
          graft.text.TextIndex.PHRASE)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      val want = results(rest)
      assert(results(full) == want,
        "tombstoned index must answer AND/ranked(df-refreshed)/" +
          "phrase_pos like a fresh build on the remaining corpus")
      // idempotent re-remove
      graft.text.TextIndex.removeDocs(spark, full, gone)
      assert(results(full) == want)
      // a positions backfill after a takedown needs ONLY the remaining
      // corpus — the removed text may legitimately be gone (that is
      // what the takedown was for); tombstoned postings are exempt
      // from the coverage contract and dropped by the rewrite
      graft.text.TextIndex.finalizeTextIndex(spark, full,
        positionsFrom = Some(keepDf))
      assert(results(full) == want,
        "post-takedown backfill from the live corpus must not change " +
          "answers")
      graft.text.TextIndex.compactTextIndex(spark, full)
      assert(results(full) == want, "compaction must not change results")
      assert(!new java.io.File(s"$full/deleted").exists(),
        "compaction must clear the tombstone set")
      assert(spark.read.parquet(s"$full/postings")
        .join(gone, Seq("doc_id"), "left_semi").count() == 0,
        "compaction must physically drop the removed docs' postings")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("streaming sink fails fast on a buildTextIndex single-level layout") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-text-mixed").toFile
    try {
      val p = dir.getAbsolutePath + "/idx"
      graft.text.TextIndex.buildTextIndex(
        Tables(spark, sfDir, "documents").select("doc_id", "text").limit(20), p)
      // streaming into a batch-built path would mix (pb=) and
      // (pb=, batch_id=) depths — the first batch must throw, not write
      val err = intercept[IllegalArgumentException] {
        graft.text.TextIndex.textIndexSink(p)(
          Seq((1L, "alpha beta")).toDF("doc_id", "text"), 0L)
      }
      assert(err.getMessage.contains("mixed-depth"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("term-range-sorted build + pushed In(term) filter: footer stats " +
      "cut bytes read vs an unsorted build of the same postings") {
    import org.apache.spark.sql.graft.Shim
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val dir = Files.createTempDirectory("graft-text-sorted").toFile
    try {
      val sorted = dir.getAbsolutePath + "/sorted"
      graft.text.TextIndex.buildTextIndex(docs, sorted, splits = 32)
      // unsorted control: identical postings + dictionary, written with
      // a keyless round-robin split (the pre-sort layout) — every file
      // spans the full term range, so stats can skip nothing
      val unsorted = dir.getAbsolutePath + "/unsorted"
      val postings = docs
        .select(col("doc_id"),
          org.apache.spark.sql.functions.explode(
            graft.text.TextOps.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("tf"))
        .withColumn("pb", graft.text.TextIndex.termBucket(col("term")))
      postings.repartition(32)
        .write.partitionBy("pb").parquet(s"$unsorted/postings")
      postings.groupBy("term", "pb")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("df"))
        .write.parquet(s"$unsorted/terms")
      val bytes = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
      def bytesReadOf(path: String): (Long, Seq[(Long, Long)]) = {
        spark.sparkContext.addSparkListener(listener)
        bytes.set(0L)
        val rows = try {
          val d = graft.text.TextIndex
            .queryTextIndex(spark, path, Seq("merge")).orderBy("doc_id")
          val r = d.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
          assert(d.queryExecution.executedPlan.toString
            .contains("EqualTo(term,merge)"),
            "the literal term filter must reach the parquet scan")
          r
        } finally {
          Shim.waitListeners(spark)
          spark.sparkContext.removeSparkListener(listener)
        }
        (bytes.get(), rows)
      }
      val (sortedBytes, sortedRows) = bytesReadOf(sorted)
      val (unsortedBytes, unsortedRows) = bytesReadOf(unsorted)
      assert(sortedRows == unsortedRows && sortedRows.nonEmpty,
        "layout must not change results")
      assert(sortedBytes < unsortedBytes / 2,
        s"sorted build must read <half the bytes for a 1-term query " +
          s"($sortedBytes vs $unsortedBytes)")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("buildTextIndex/queryTextIndex: caller path, overwrite-in-place, " +
      "AND semantics match a direct computation") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val dir = Files.createTempDirectory("graft-text-idx").toFile
    try {
      val path = dir.getAbsolutePath + "/idx"
      graft.text.TextIndex.buildTextIndex(docs, path)
      graft.text.TextIndex.buildTextIndex(docs, path) // overwrite, no dupes
      assert(new java.io.File(path).listFiles().map(_.getName).toSet ==
        Set("postings", "terms"))
      val got = graft.text.TextIndex
        .queryTextIndex(spark, path, Seq("table", "sort", "table"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // independent model: docs whose token lists contain BOTH terms,
      // scored by the two terms' total occurrences
      val want = docs.select(col("doc_id"),
          graft.text.TextOps.tokens(col("text")).as("toks"))
        .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
        .filter { case (_, ts) => ts.contains("table") && ts.contains("sort") }
        .map { case (id, ts) =>
          id -> ts.count(t => t == "table" || t == "sort").toLong }
        .toMap
      assert(got == want)
      // a term absent from the corpus can never satisfy AND semantics
      assert(graft.text.TextIndex
        .queryTextIndex(spark, path, Seq("table", "zzz_not_a_word"))
        .collect().isEmpty)
      // ranked OR still returns the matches of the present terms
      assert(graft.text.TextIndex
        .queryTextIndexRanked(spark, path, Seq("table", "zzz_not_a_word"), 5)
        .collect().length == 5)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("text_search_phrase_pos answers from the index alone (no " +
      "documents scan), equals the verify-scan phrase query, and " +
      "tf-only reads prune the positions column") {
    val d = SparkEntry.queries("text_search_phrase_pos")(spark, sfDir)
    val got = d.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = SparkEntry.queries("text_search_phrase")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.nonEmpty && got == want,
      "positional adjacency must equal the bigram verify count")
    val plan = d.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      "phrase_pos must not touch the documents table")
    assert(plan.contains("dynamicpruning"),
      "phrase_pos must keep the DPP-pruned postings read")
    // the tf-only query's scan must NOT read the positions arrays
    val s2 = SparkEntry.queries("text_search")(spark, sfDir)
    s2.collect()
    val scan = s2.queryExecution.executedPlan.toString
    assert(!scan.contains("positions"),
      "tf-only reads must column-prune the positions arrays")
  }
}
