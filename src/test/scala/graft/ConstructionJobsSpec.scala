package graft

/** Jobs launched while a lazy analytics query is BUILT (not executed):
  * a declared-schema table read runs none, so only the `events` read,
  * which keeps schema inference, launches one. */
class ConstructionJobsSpec extends SparkSpec {
  private val expected = Map(
    "q01_pricing_summary" -> 0,
    "q04_multiway_join" -> 0,
    "q15_window_rank" -> 0,
    "q18_topk" -> 0,
    "q_simhash" -> 0,
    "q34_sessionization" -> 1)

  expected.foreach { case (q, want) =>
    test(s"$q launches $want job(s) at construction") {
      val (_, jobs) = JobCount(spark)(SparkEntry.queries(q)(spark, sf))
      assert(jobs == want, s"$q ran $jobs construction jobs, expected $want")
    }
  }
}
