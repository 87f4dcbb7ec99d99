package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.tuner._

/** Property tests (SURVEY.md §5 item 3): tuner invariants over generated
  * histories. Uses raw scalacheck Gen with fixed seeds (scalatestplus
  * bridge is not in the offline cache). */
class TunerPropertySpec extends AnyFunSuite {

  private val conf = Map(
    "spark.executor.instances" -> "4",
    "spark.executor.cores" -> "2",
    "spark.executor.memory" -> "4g")
  private val cp = new ComputePartitions(conf)

  private val stageGen: Gen[StageRunInfo] = for {
    cpu <- Gen.choose(1L, 10000L)
    stageMs <- Gen.choose(1L, 10000L)
    inputMb <- Gen.choose(1, 100000)
    execs <- Gen.choose(1, 16)
    parts <- Gen.choose(1, 256)
  } yield StageRunInfo.summarize(cpu, stageMs, inputMb.toLong << 20, execs, ShuffleVolume(1, 1),
    Seq.fill(parts)(0L))

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("recommendation is always positive") {
    samples(Gen.listOfN(3, stageGen), 100).foreach { h =>
      assert(cp.fromStageMetricSharedCluster(h) > 0, s"history=$h")
    }
  }

  test("plateau is a fixpoint: equal partition counts recommend themselves") {
    samples(stageGen, 100).foreach { s =>
      val h = List(s, s.copy(executorCpuTimeMs = s.executorCpuTimeMs + 1))
      assert(cp.fromStageMetricSharedCluster(h) == s.numPartitionsUsed)
    }
  }

  test("improving history always grows beyond both runs") {
    samples(stageGen, 100).foreach { s =>
      val better = s.copy(executorCpuTimeMs = s.executorCpuTimeMs / 2,
        numPartitionsUsed = s.numPartitionsUsed + 1)
      val rec = cp.fromStageMetricSharedCluster(List(s, better))
      assert(rec > better.numPartitionsUsed)
    }
  }

  test("cold start honors slots floor") {
    assert(cp.fromStageMetricSharedCluster(Nil) >= 8)
  }
}
