package graft

/** [[Bench.measure]], the per-query timing step: a query that fails
  * at build or at write yields no sample instead of ending the run.
  */
class BenchSpec extends SparkSpec {
  test("a build that throws is a failed query, not a failed run") {
    var builds = 0
    val t = Bench.measure(spark, "broken", iters = 2, base = None) {
      builds += 1
      throw new IllegalStateException("build failed")
    }
    assert(t == Bench.Timing(Nil, suspect = false))
    assert(builds == 3, "one warm-up and two samples each try the build")
  }

  test("a working query yields one sorted sample per iteration") {
    val t = Bench.measure(spark, "q1_agg", iters = 2, base = None)(
      SparkEntry.queries("q1_agg")(spark, sf))
    assert(t.samples.size == 2 && t.samples == t.samples.sorted)
    assert(t.samples.forall(_ > 0) && !t.suspect)
  }
}
