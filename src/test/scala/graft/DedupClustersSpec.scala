package graft

import graft.dedup.DedupClusters

/** Connected components refuse to return labels that have not reached a
  * fixpoint: a component whose diameter exceeds the round budget would
  * otherwise come back split into several plausible-looking clusters. */
class DedupClustersSpec extends SparkSpec {
  import spark.implicits._

  // A 5-node path: min-label propagation needs 4 rounds to carry label 1
  // to node 5, and a 5th to see nothing change.
  private def path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id1", "id2")

  test("a path longer than maxIters rounds throws, naming maxIters") {
    val e = intercept[IllegalStateException](
      DedupClusters.connectedComponents(path, maxIters = 1))
    assert(e.getMessage.contains("maxIters"), e.getMessage)
  }

  test("with enough rounds the path is one component labelled 1") {
    val labels = DedupClusters.connectedComponents(path, maxIters = 5)
      .as[(Long, Long)].collect().toMap
    assert(labels == (1L to 5L).map(_ -> 1L).toMap)
  }
}
