package graft

import org.apache.spark.sql.types.StructType
import graft.queries.GraphOps

/** q_bfs_hops writes each level's rows under the visited root its own
  * anti-join reads. That is correct only because `read.parquet` lists the
  * root's files when the DataFrame is built, so the level never sees its
  * own rows as visited. Plant a file under `visited/` after building and
  * the result must not change. */
class BfsListingSpec extends SparkSpec {
  import spark.implicits._

  private def setup(): (String, String) = {
    val tmp = graft.core.TempDirs.create("graft-bfs-listing")
    Seq((1L, 2L), (1L, 3L)).toDF("src", "dst").write.parquet(s"$tmp/edges")
    Seq((1L, 0)).toDF("node", "dist").write.parquet(s"$tmp/visited/lvl=0")
    (tmp, s"$tmp/visited")
  }

  private def plant(visited: String): Unit =
    Seq((2L, 1)).toDF("node", "dist").write.parquet(s"$visited/lvl=1")

  private def nodes(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("node").as[Long].collect().toSet

  test("a level's anti-join ignores files planted after it is built") {
    val (tmp, visited) = setup()
    val e = spark.read.parquet(s"$tmp/edges")
    val frontier = Seq(1L).toDF("node")
    val level = GraphOps.bfsLevel(spark, frontier, e, visited, 1)
    plant(visited)
    assert(nodes(level) == Set(2L, 3L))
    // Control: built after the plant, the same level does see it.
    assert(nodes(GraphOps.bfsLevel(spark, frontier, e, visited, 1)) == Set(3L))
  }

  test("a declared-schema read lists its files when built too") {
    val (_, visited) = setup()
    val read = spark.read.schema(StructType.fromDDL("node BIGINT, dist INT"))
      .parquet(visited)
    plant(visited)
    assert(nodes(read) == Set(1L))
  }
}
