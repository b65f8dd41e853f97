package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The driver half of the shingle-pair kernels ([[Dedup.jaccardPairs]]
  * and [[Dedup.containmentPairs]]). Both find every pair of documents
  * that shares a kept shingle (2 ≤ df ≤ cap) with its exact count of
  * shared kept shingles. With V > 0 shingles over the cap, the count is
  * taken over the full shingle sets instead, as the plan's verify does.
  *
  * In Spark that is a df aggregate, a postings self-join, a pair
  * aggregate and a checkpoint: 8 and 11 jobs per call, whose shuffle AQE
  * folds into one or two tasks at test scale. A bounded shingle table
  * instead ends on the driver:
  *   - [[collect]] counts the postings in one job and, at ≤ bound of
  *     them, collects every (doc_id, sh, nsh) row in ONE more job, then
  *     checks and interns the shingles into int codes;
  *   - [[jaccard]] and [[containment]] count df, build posting lists of
  *     the kept shingles and ScanCount each candidate pair's exact
  *     intersection ([[scan]]), then apply the plan's predicate in the
  *     same long and double arithmetic.
  * Dedup wraps the rows in a LocalRelation with the distributed plan's
  * schema. DedupSpec pins rows and schema on both paths through the
  * `driverPostings` seam; ShinglePairsSpec checks the kernel against
  * brute-force all-pairs.
  *
  * The bounds are [[DRIVER_POSTINGS]] postings and [[DRIVER_ANSWER_ROWS]]
  * answer rows. Anything the driver cannot reproduce exactly takes the
  * distributed plan: a non-long, null or duplicate doc_id; a null sh or
  * nsh; nsh ≠ size(sh); an sh that is not an array of (UTF8_BINARY)
  * strings, or holds a null or repeated entry.
  */
private[graft] object ShinglePairs {

  /** The largest shingle table, in postings Σ size(sh), that the driver
    * takes: 2^22. Timed on GenData replicas of sf0.1 (4-core container,
    * local[4], cap 1000; median of 4 calls, 1 at 4.17M), driver path vs
    * distributed plan, jaccard / containment in seconds:
    *   - 0.26M postings (sf0.1):  0.52 / 0.54  vs   4.2 / 4.4
    *   - 1.04M:                   1.96 / 1.84  vs  10.9 / 10.9
    *   - 2.08M:                   3.85 / 3.98  vs  27.3 / 26.3
    *   - 2.60M (sf1):             5.64 / 5.37  vs  53.9 / 58.0
    *   - 4.17M:                   7.8 / 11.3   vs  97.5 / 118.5
    * The driver wins by 7–10× at every size, so memory sets the bound,
    * not a crossover: at 4.17M postings both kernels ran in a 1 GB heap
    * (≤ 621 MB used after a call). About half the driver time is the
    * collect, half the single-threaded ScanCount, which grows with
    * Σ df². sf3 (30 replicas, 7.8M postings) is past the bound; no
    * path was timed there.
    */
  private[graft] val DRIVER_POSTINGS = 1L << 22

  /** The largest answer, in rows, that the driver builds: 2^20. Each row
    * is boxed, copied to a Row and then to the LocalRelation; in a 1 GB
    * heap 2^20 rows of the worst case (identical documents, every pair
    * an answer) took 12 s and left 738 MB used, 2^21 rows 26 s and
    * 1005 MB. Real answers are near-dups: 5104 containment rows at sf1.
    */
  private[graft] val DRIVER_ANSWER_ROWS = 1L << 20

  /** Shingle sets on the driver in ascending, unique id order: document
    * i is `ids(i)` with the distinct shingle codes `sets(i)`, ascending,
    * each in `0 until nCodes`. Documents with no shingles are left out:
    * they pair nothing.
    */
  final case class Postings(ids: Array[Long], sets: Array[Array[Int]],
      nCodes: Int)

  /** The (doc_id, sh, nsh) frame on the driver, in two jobs, when it
    * holds ≤ `bound` postings and the driver reproduces it exactly; None
    * sends the caller to its distributed plan.
    */
  def collect(shingleTable: DataFrame, bound: Long): Option[Postings] = {
    val sch = shingleTable.schema
    val typed = sch("doc_id").dataType == LongType &&
      (sch("nsh").dataType == LongType ||
        sch("nsh").dataType == IntegerType) &&
      (sch("sh").dataType match {
        case ArrayType(StringType, _) => true
        case _ => false
      })
    if (!typed || bound < 0) return None
    // job 1: the postings the collect would ship, Σ size(sh) (not Σ nsh,
    // which a frame with nsh ≠ size(sh) would misstate)
    val postings = shingleTable.select(col("sh")).queryExecution.toRdd
      .map(r => if (r.isNullAt(0)) 0L else r.getArray(0).numElements.toLong)
      .fold(0L)(_ + _)
    if (postings > bound) return None
    // job 2: every row, checked and interned here
    val rows = shingleTable
      .select(col("doc_id"), col("sh"), col("nsh").cast(LongType))
      .collect()
    val codes = new java.util.HashMap[String, Integer]
    def code(s: String): Int = {
      val known = codes.putIfAbsent(s, codes.size)
      if (known == null) codes.size - 1 else known.intValue
    }
    val docs = rows.iterator.map { r =>
      val sh = if (r.anyNull) null else r.getSeq[String](1)
      if (sh == null || r.getLong(2) != sh.length || sh.contains(null)) None
      else {
        val set = sh.iterator.map(code).toArray
        java.util.Arrays.sort(set)
        val unique = (1 until set.length).forall(i => set(i) != set(i - 1))
        if (unique) Some((r.getLong(0), set)) else None
      }
    }.toArray
    if (docs.contains(None)) return None
    // documents with no shingles pair nothing and are left out
    val sorted = docs.flatten.filter(_._2.nonEmpty).sortBy(_._1)
    if ((1 until sorted.length).exists(i => sorted(i)._1 == sorted(i - 1)._1))
      None
    else Some(Postings(sorted.map(_._1), sorted.map(_._2), codes.size))
  }

  /** (a_id, b_id, jaccard) for every pair a_id < b_id that shares a kept
    * shingle and has `inter / (na + nb − inter) ≥ tau`, inter as
    * [[scan]] gives it. None past `maxRows` rows.
    */
  def jaccard(p: Postings, cap: Int, tau: Double,
      maxRows: Long): Option[Array[(Long, Long, Double)]] = {
    val out = Array.newBuilder[(Long, Long, Double)]
    var rows = 0L
    val whole = scan(p, cap) { (a, b, inter) =>
      val (na, nb) = (p.sets(a).length.toLong, p.sets(b).length.toLong)
      val jab = inter.toDouble / (na + nb - inter)
      if (jab >= tau) {
        out += ((p.ids(a), p.ids(b), jab))
        rows += 1
      }
      rows <= maxRows
    }
    if (whole) Some(out.result()) else None
  }

  /** (src_id, dst_id, containment_micro) for both orientations of every
    * pair that shares a kept shingle, with `inter · 10^6 DIV n_src ≥
    * tauMicro`, inter as [[scan]] gives it. None past `maxRows` rows.
    */
  def containment(p: Postings, cap: Int, tauMicro: Long,
      maxRows: Long): Option[Array[(Long, Long, Long)]] = {
    val out = Array.newBuilder[(Long, Long, Long)]
    var rows = 0L
    val whole = scan(p, cap) { (a, b, inter) =>
      val (ca, cb) = (inter * 1000000L / p.sets(a).length,
        inter * 1000000L / p.sets(b).length)
      if (ca >= tauMicro) { out += ((p.ids(a), p.ids(b), ca)); rows += 1 }
      if (cb >= tauMicro) { out += ((p.ids(b), p.ids(a), cb)); rows += 1 }
      rows <= maxRows
    }
    if (whole) Some(out.result()) else None
  }

  /** ScanCount over the posting lists of the kept shingles: visits every
    * document pair a < b (as indices, so as ids) that shares a shingle
    * with 2 ≤ df ≤ cap, in (a, b) order, with its intersection. With no
    * shingle over the cap that is the kept count, exact. With V > 0 of
    * them it is the count over the FULL sets, as the distributed verify
    * takes it. The plan's bracket needs no twin here: a shingle two
    * documents share has df ≥ 2, so the full count is ≤ min(kept + V,
    * min(na, nb)) and both predicates grow with it; a pair the bracket
    * prunes fails on the full count too. Stops, returning false, when
    * `visit` does.
    */
  private def scan(p: Postings, cap: Int)(
      visit: (Int, Int, Long) => Boolean): Boolean = {
    val n = p.ids.length
    val df = new Array[Int](p.nCodes)
    p.sets.foreach(_.foreach(c => df(c) += 1))
    val v = df.count(_ > cap)
    def kept(c: Int) = df(c) >= 2 && df(c) <= cap
    // posting lists, documents ascending: list c is post(start(c) until
    // start(c + 1)), empty unless c is kept
    val start = new Array[Int](p.nCodes + 1)
    var c = 0
    while (c < p.nCodes) {
      start(c + 1) = start(c) + (if (kept(c)) df(c) else 0)
      c += 1
    }
    val post = new Array[Int](start(p.nCodes))
    val cursor = java.util.Arrays.copyOf(start, p.nCodes)
    var a = 0
    while (a < n) {
      p.sets(a).foreach { c =>
        if (kept(c)) { post(cursor(c)) = a; cursor(c) += 1 }
      }
      a += 1
    }
    // scanning a in order, cursor(c) is a's own slot in list c: every
    // later slot holds a partner b > a
    System.arraycopy(start, 0, cursor, 0, p.nCodes)
    val count = new Array[Int](n)
    val touched = new Array[Int](n)
    var go = true
    a = 0
    while (go && a < n) {
      var m = 0
      p.sets(a).foreach { c =>
        if (kept(c)) {
          var q = cursor(c) + 1
          while (q < start(c + 1)) {
            val b = post(q)
            if (count(b) == 0) { touched(m) = b; m += 1 }
            count(b) += 1
            q += 1
          }
          cursor(c) += 1
        }
      }
      java.util.Arrays.sort(touched, 0, m)
      var t = 0
      while (t < m) {
        val b = touched(t)
        val inter =
          if (v == 0) count(b) else intersection(p.sets(a), p.sets(b))
        go = go && visit(a, b, inter)
        count(b) = 0
        t += 1
      }
      a += 1
    }
    go
  }

  /** |x ∩ y| of two ascending code sets. */
  private def intersection(x: Array[Int], y: Array[Int]): Int = {
    var (i, j, k) = (0, 0, 0)
    while (i < x.length && j < y.length) {
      if (x(i) < y(j)) i += 1
      else if (x(i) > y(j)) j += 1
      else { k += 1; i += 1; j += 1 }
    }
    k
  }
}
