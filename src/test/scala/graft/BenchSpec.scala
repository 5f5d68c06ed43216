package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The bench's per-query artifact: per-core files always, and a legacy
  * file that a run on fewer cores never overwrites. */
class BenchSpec extends AnyFunSuite {

  private def body(cpus: Int) =
    s"""{\n  "_sf": "sf",\n  "_cpus": "$cpus",\n  "q_a": 1.000\n}\n"""

  test("legacy per-query file keeps the larger core count, in either order") {
    for (order <- Seq(Seq(32, 8), Seq(8, 32))) {
      val dir = Files.createTempDirectory("bench-perquery")
      order.foreach(c => Bench.writePerQuery(dir, body(c), c))
      assert(Files.readString(dir.resolve("BENCH_PERQUERY.json")) == body(32),
        s"order $order")
      for (c <- order)
        assert(Files.readString(dir.resolve(s"BENCH_PERQUERY_c$c.json")) == body(c))
    }
  }

  test("legacy per-query file: absent, unmarked or same-core files are replaced") {
    assert(Bench.replacesLegacy(None, 8))
    assert(Bench.replacesLegacy(Some("{}"), 8))
    assert(Bench.replacesLegacy(Some(body(8)), 8))
    assert(!Bench.replacesLegacy(Some(body(32)), 8))
  }
}
