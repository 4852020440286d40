package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-core-count artifact path: the `_c<cpus>` suffix goes
  * into the file name, never into a directory name. */
class BenchSpec extends AnyFunSuite {

  test("perCpuPath splices the suffix before the file name's extension only") {
    assert(Bench.perCpuPath("a.d/bench", "4") === "a.d/bench_c4")
    assert(Bench.perCpuPath("a.d/bench.json", "4") === "a.d/bench_c4.json")
    assert(Bench.perCpuPath("bench.json", "4") === "bench_c4.json")
    assert(Bench.perCpuPath("bench", "4") === "bench_c4")
  }
}
