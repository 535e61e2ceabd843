package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench band guard's history reader — a pure-JVM gate (no Spark).
  * The guard is only as good as its history parse: the driver's
  * BENCH_r*.json artifacts hold the bench JSON line ESCAPED inside a
  * "tail" string (`\"q33\":38.7`), a format a naive regex silently
  * fails on — which would disable the outlier guard without failing
  * anything. This suite pins both formats and the min-over-rounds
  * rule against hand fixtures.
  */
class BenchGuardSpec extends AnyFunSuite {

  private def withDir(f: java.io.File => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory("benchhist").toFile
    try f(d)
    finally org.apache.commons.io.FileUtils.deleteDirectory(d)
  }

  private def write(dir: java.io.File, name: String, text: String): Unit =
    java.nio.file.Files.writeString(
      new java.io.File(dir, name).toPath, text)

  test("reads the driver's ESCAPED tail format and the bare form; " +
    "min over rounds; sf-scoped; non-BENCH files ignored") {
    withDir { d =>
      // The driver artifact shape: the bench line escaped in "tail",
      // short keys, with a front-truncated first entry (the driver
      // keeps only the output tail) — the damaged token must not parse
      // as a query.
      write(d, "BENCH_r18.json",
        """{"n": 18, "rc": 0,
          | "tail": "33\":38.7,\"q34\":0.7,\"q187\":9.8,\"q60\":4.4},\"sf\":\"/root/testdata/sf0.1\",\"value\":273.6",
          | "parsed": null}""".stripMargin)
      // An earlier round with the clean q33 value and a FULL-NAME key
      // (the detail-file form) — min-over-rounds must pick 2.2.
      write(d, "BENCH_r17.json",
        """{"tail": "\"q33_minhash_neardup\":2.2,\"q187\":2.8,\"q60\":4.9,\"sf\":\"/root/testdata/sf0.1\""}""")
      // Bare (unescaped) bench output form.
      write(d, "BENCH_r16.json",
        """{"queries":{"q33":2.5,"q187":2.4},"sf":"/root/testdata/sf0.1"}""")
      // The artifact's pretty-printed "parsed" block: a space after
      // each colon, one entry per line.
      write(d, "BENCH_r19.json",
        """{
          |  "n": 19,
          |  "parsed": {
          |    "metric": "total",
          |    "queries": {
          |      "q01": 1.0,
          |      "q200": 3.6
          |    },
          |    "sf": "/data/sf0.1"
          |  }
          |}""".stripMargin)
      // A DIFFERENT scale factor's round — its (tiny) values must not
      // poison the sf0.1 bars; note sf0.01 ⊅ "/sf0.1".
      write(d, "BENCH_r15.json",
        """{"queries":{"q33":0.1,"q187":0.1},"sf":"/root/testdata/sf0.01"}""")
      // Not a BENCH artifact — must be ignored entirely.
      write(d, "CORRECTNESS_r18.json", """{"q33":{"rows_match":true}}""")
      val h = Bench.benchHistory(d, "sf0.1")
      assert(h.get("q33").contains(2.2), h)   // min(38.7, 2.2, 2.5)
      assert(h.get("q187").contains(2.4), h)  // min(9.8, 2.8, 2.4)
      assert(h.get("q60").contains(4.4), h)
      assert(h.get("q34").contains(0.7), h)
      assert(h.get("q01").contains(1.0), h)
      assert(h.get("q200").contains(3.6), h)
      // The truncated "33\":38.7" fragment must not mint a bogus id.
      assert(!h.contains("q3") || h("q3") > 0, h)
      // The sf0.01 view sees ONLY its own round.
      val h01 = Bench.benchHistory(d, "sf0.01")
      assert(h01.get("q33").contains(0.1) && h01.size == 2, h01)
    }
  }

  test("sf anchor tolerates trailing separators — a round recorded " +
    "with SPARK_GRAFT_SF_DIR=/path/sf0.1/ stays in the history") {
    withDir { d =>
      // Bare form with a trailing slash in the recorded sf path.
      write(d, "BENCH_r10.json",
        """{"queries":{"q33":2.0},"sf":"/root/testdata/sf0.1/"}""")
      // Escaped tail form with a trailing slash.
      write(d, "BENCH_r11.json",
        """{"tail": "\"q187\":2.1},\"sf\":\"/root/testdata/sf0.1/\",\"value\":9"}""")
      val h = Bench.benchHistory(d, "sf0.1")
      assert(h.get("q33").contains(2.0), h)
      assert(h.get("q187").contains(2.1), h)
      // Still sf-scoped: neither lands in the sf0.01 view.
      assert(Bench.benchHistory(d, "sf0.01").isEmpty)
    }
  }

  test("bandBar: 2x the history best, floored at 1 s") {
    assert(Bench.bandBar(2.5) == 5.0)
    assert(Bench.bandBar(0.2) == 1.0)   // sub-second rows jitter
    assert(Bench.bandBar(0.5) == 1.0)
    assert(Bench.bandBar(10.0) == 20.0)
  }

  test("empty dir / unreadable files yield an empty history (guard " +
    "disabled, never crashing the bench)") {
    withDir { d =>
      assert(Bench.benchHistory(d, "sf0.1").isEmpty)
      assert(Bench.benchHistory(new java.io.File(d, "absent"),
        "sf0.1").isEmpty)
    }
  }
}
