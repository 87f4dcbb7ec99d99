package graft

/** Jobs launched while a query is BUILT (not executed): a declared-schema
  * table read runs none, so only the `events` read, which keeps schema
  * inference, launches one. A `Materialize` barrier runs its write at
  * construction (an aggregating write is two jobs: the shuffle map stage
  * and the write) and reads it back with no inference job. */
class ConstructionJobsSpec extends SparkSpec {
  private val expected = Map(
    "q01_pricing_summary" -> 0,
    "q04_multiway_join" -> 0,
    "q15_window_rank" -> 0,
    "q18_topk" -> 0,
    "q_simhash" -> 0,
    "q34_sessionization" -> 1,
    "q_hll_union" -> 4, // two aggregating barriers
    "q_temperature_mix" -> 2, // one aggregating barrier
    "q_incr_rollup" -> 3, // the events read + one aggregating barrier
    "q_tuner_loop" -> 9, // three tuned q01 counts; the tuner itself runs none
    // Iterative queries: every step's write jobs, no read-back inference.
    "q_pagerank_parts" -> 21,
    "q_bfs_hops" -> 18,
    "q_dedup_clusters" -> 20)

  expected.foreach { case (q, want) =>
    test(s"$q launches $want job(s) at construction") {
      val (_, jobs) = JobCount(spark)(SparkEntry.queries(q)(spark, sf))
      assert(jobs == want, s"$q ran $jobs construction jobs, expected $want")
    }
  }
}
