package graft.limit

import org.scalatest.funsuite.AnyFunSuite

/** The exactly-once rule behind the limiter's map-side sums: slots are keyed
  * by map partition and merged by replacement, so a retried or speculative
  * attempt of a partition (same deterministic rows, same slot content)
  * counts once, while distinct partitions add. */
class CellSumsAccumulatorSpec extends AnyFunSuite {
  private val part0 = Map(("sink_a", 1L) -> ((10L, 2L)), ("sink_b", 1L) -> ((5L, 1L)))
  private val part1 = Map(("sink_a", 1L) -> ((7L, 1L)))

  private def slot(pid: Int, cells: SinglePassLimit.CellSums) = {
    val acc = new SinglePassLimit.CellSumsAccumulator
    acc.add(pid -> cells)
    acc
  }

  test("a duplicate slot for one map partition counts once; distinct partitions add") {
    val acc = slot(0, part0)
    acc.merge(slot(0, part0)) // retry of partition 0
    acc.merge(slot(1, part1))
    acc.merge(slot(0, part0)) // speculative duplicate, merged after partition 1
    assert(acc.value.keySet === Set(0, 1))
    assert(acc.totals === Map(("sink_a", 1L) -> ((17L, 3L)), ("sink_b", 1L) -> ((5L, 1L))))
  }
}
