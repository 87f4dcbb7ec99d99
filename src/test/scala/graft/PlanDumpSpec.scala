package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.PlanDump

/** PLANS.md is regenerated on every gate run, so the dump must mask what
  * changes from run to run and keep everything else. */
class PlanDumpSpec extends AnyFunSuite {
  test("stable masks expression ids, exchange ids and scratch-dir suffixes only") {
    val raw = "Exchange hashpartitioning(qid#1203L, 8), ENSURE_REQUIREMENTS, [plan_id=417]\n" +
      "+- FileScan parquet [cid#12,emb#13] Location: InMemoryFileIndex(1 paths)" +
      "[file:/tmp/graft-ivf-idx2106001860300811563/assigned], ReadSchema: struct<cid:bigint>"
    assert(PlanDump.stable(raw) ==
      "Exchange hashpartitioning(qid#xL, 8), ENSURE_REQUIREMENTS, [plan_id=x]\n" +
      "+- FileScan parquet [cid#x,emb#x] Location: InMemoryFileIndex(1 paths)" +
      "[file:/tmp/graft-ivf-idx*/assigned], ReadSchema: struct<cid:bigint>")
  }
}
