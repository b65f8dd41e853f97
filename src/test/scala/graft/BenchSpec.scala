package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's declared-quadratic ceilings name real queries (Bench's
  * build-discarding rep is covered in ArtifactsSpec).
  */
class BenchSpec extends AnyFunSuite {

  test("every declared-quadratic skip names a real SparkEntry query") {
    // a renamed query must not leave a stale ceiling entry: the skip
    // would silently stop applying and the sweep would re-inherit the
    // O(n²) grid it exists to annotate away
    val known = SparkEntry.queries.keySet
    for ((name, ceiling) <- Bench.declaredQuadratic) {
      assert(known.contains(name),
        s"declaredQuadratic names unknown query '$name'")
      assert(ceiling >= 0.1,
        s"ceiling for '$name' must keep the driver's per-round sf0.1 " +
          "bench running it (the driver never skips)")
    }
  }
}
