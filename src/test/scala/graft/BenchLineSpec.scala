package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver parses exactly one machine-readable line from Bench and
  * keeps only the last ~2000 chars of output — rounds 1-4 lost their
  * bench numbers to an uncapped line that truncated mid-JSON. Pin the
  * contract: metric-first key order, bounded length, slowest queries
  * kept, headline total always present.
  */
class BenchLineSpec extends AnyFunSuite {

  private val many = (1 to 300).map(i => f"query_$i%03d" -> i * 0.01).toMap

  test("line starts with the documented metric-first header") {
    val line = Bench.jsonLine("/root/testdata/sf0.1", many)
    assert(line.startsWith("""{"metric":"total","value":"""), line.take(60))
    assert(line.contains(""","unit":"sec","sf":0.1,"errors":0,"queries":{"""))
  }

  test("broken entries surface as errors:N, never as a faster total") {
    // VERDICT r7 #2: the timed loop used to swallow Throwables, so a
    // plan that broke recorded its time-to-throw as a serving time.
    // Bench.main now drops zero-success entries from the total and
    // reports them here; the driver (and a reader) sees errors>0.
    val line = Bench.jsonLine("/root/testdata/sf0.1", many, errors = 3)
    assert(line.contains(""","errors":3,"queries":{"""))
    // and main exits nonzero + excludes the entry — pinned textually
    val bench = scala.io.Source.fromFile(
      "src/main/scala/graft/Bench.scala", "UTF-8").mkString
    assert(bench.contains("if (errors > 0) sys.exit(1)"),
      "broken entries must produce a nonzero exit code")
    assert(bench.contains("if (ok) Some(name -> best) else { errors += 1; None }"),
      "zero-success entries must be excluded from the total")
  }

  test("line stays under budget no matter how many queries ran") {
    val line = Bench.jsonLine("/root/testdata/sf0.1", many)
    assert(line.length <= 1400 + 2, s"len=${line.length}")
    // and it is still well-formed: balanced braces, ends the object
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(line.endsWith("}}"))
  }

  test("slowest queries survive the cap; the fastest are dropped first") {
    val line = Bench.jsonLine("/root/testdata/sf0.1", many)
    assert(line.contains("\"query_300\":3.000"), "slowest must be kept")
    assert(!line.contains("\"query_001\":"), "fastest should be cut first")
  }

  test("detail budget keeps every entry with the same schema (side file)") {
    // VERDICT r20 #2: the capped line's window churn produced phantom
    // dropped/new entries in round-over-round PERF diffs. Bench.main
    // also writes the uncapped line to BENCH_DETAIL.json through
    // writeDetail; write it for real and read it back.
    val dir = java.nio.file.Files.createTempDirectory("graft_detail")
    val path = dir.resolve("BENCH_DETAIL.json")
    try {
      Bench.writeDetail(path.toString, "/root/testdata/sf0.1", many,
        errors = 2, pins = many, drift = Some(1.1))
      val text = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      assert(text.endsWith("}\n") && text.count(_ == '\n') == 1)
      assert(text.startsWith("""{"metric":"total","value":"""))
      // well-formed JSON whose query map holds every entry
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(text)
      assert(json.get("errors").asInt == 2)
      assert(json.get("median_pin_ratio").asDouble == 1.0)
      val queries = json.get("queries")
      assert(queries.size == many.size)
      many.foreach { case (k, v) =>
        assert(math.abs(queries.get(k).asDouble - v) < 1e-9, k)
      }
    } finally {
      java.nio.file.Files.deleteIfExists(path)
      java.nio.file.Files.delete(dir)
    }
  }

  test("total is the sum over ALL queries, not just the embedded ones") {
    val line = Bench.jsonLine("/root/testdata/sf0.1", many)
    val v = """"value":([0-9.]+)""".r.findFirstMatchIn(line).get.group(1)
    val expected = many.values.sum
    assert(math.abs(v.toDouble - expected) < 0.01, s"$v vs $expected")
  }

  test("a deliberately slowed entry shows up in regressions, capped and budgeted") {
    // VERDICT r10 #3: >2x-of-pin entries surface in the line itself so
    // no round spends a cycle hand-diffing BENCH files for outliers.
    val pins = many.map { case (k, _) => k -> 0.001 } // everything x10+
    val line = Bench.jsonLine("/root/testdata/sf0.1", many, pins = pins)
    assert(line.contains(""","regressions":{"""), line.takeRight(200))
    assert(line.contains("\"query_300\":3000.0"), "worst ratio must be kept")
    // capped at 6 so the field can't evict the queries map
    val regBody = line.split(""""regressions":\{""")(1).takeWhile(_ != '}')
    assert(regBody.count(_ == ':') <= 6, regBody)
    assert(line.length <= 1400 + 2, s"len=${line.length}")
    assert(line.count(_ == '{') == line.count(_ == '}'))
    // metric-first prefix the driver parses is untouched by the field
    assert(line.contains(""","unit":"sec","sf":0.1,"errors":0,"queries":{"""))
  }

  test("median pin ratio: load-invariant health field, absent without pins") {
    // VERDICT r11 #3: twice (r10, r11) the driver's bench total ran
    // ~1.5x the isolated truth under host load and its regression
    // queue flagged only noise. The median of per-entry time/pin
    // ratios is the self-adjudicating health number: load can't move
    // the median of min-of-k across 200+ entries; a real regression
    // moves it. SURVEY §5 documents the threshold (≤1.15 = healthy).
    val pins = many.map { case (k, v) => k -> v } // ratio exactly 1.0
    val line = Bench.jsonLine("/root/testdata/sf0.1", many, pins = pins)
    assert(line.contains(""","median_pin_ratio":1.00"""), line.takeRight(120))
    assert(line.length <= 1400 + 2 && line.endsWith("}"))
    assert(line.count(_ == '{') == line.count(_ == '}'))
    // metric-first prefix the driver parses is untouched by the field
    assert(line.contains(""","unit":"sec","sf":0.1,"errors":0,"queries":{"""))
    // even-count median averages the middle pair
    val two = Map("a" -> 1.0, "b" -> 3.0)
    val line2 = Bench.jsonLine("/root/testdata/sf0.1", two,
      pins = Map("a" -> 1.0, "b" -> 1.0))
    assert(line2.contains(""""median_pin_ratio":2.00"""), line2)
    // no pins → no field (e.g. an sf without a committed pin set)
    assert(!Bench.jsonLine("/root/testdata/sf0.1", many)
      .contains("median_pin_ratio"))
  }

  test("drift-normalized median: raw and normalized both emitted, " +
      "absent without drift or without pins") {
    // VERDICT r19 #5: both r19 clean runs read mpr 1.17 on a host
    // measured 1.08x over pins — the ≤1.15 criterion was being missed
    // by host lottery. The line now carries the sentinel-measured
    // host_drift and the normalized median; the raw median stays so a
    // fast host can't mask a regression.
    val pins = many.map { case (k, v) => k -> v / 1.2 } // ratio 1.20
    val line = Bench.jsonLine("/root/testdata/sf0.1", many, pins = pins,
      drift = Some(1.2))
    assert(line.contains(""","median_pin_ratio":1.20"""), line.takeRight(160))
    assert(line.contains(""","host_drift":1.20"""), line.takeRight(160))
    assert(line.contains(""","median_pin_ratio_norm":1.00"""),
      line.takeRight(160))
    assert(line.length <= 1400 + 2 && line.count(_ == '{') == line.count(_ == '}'))
    // metric-first prefix the driver parses is untouched
    assert(line.contains(""","unit":"sec","sf":0.1,"errors":0,"queries":{"""))
    // no drift → raw only
    val raw = Bench.jsonLine("/root/testdata/sf0.1", many, pins = pins)
    assert(raw.contains("median_pin_ratio") && !raw.contains("host_drift"))
    // no pins → neither (nothing to normalize)
    val none = Bench.jsonLine("/root/testdata/sf0.1", many,
      drift = Some(1.2))
    assert(!none.contains("median_pin_ratio") && !none.contains("host_drift"))
  }

  test("hostDrift: median of sentinel ratios; None below 2 sentinels") {
    val res = Map("a" -> 2.0, "b" -> 3.0, "c" -> 10.0)
    val pins = Map("a" -> 1.0, "b" -> 2.0, "c" -> 5.0)
    assert(Bench.hostDrift(res, pins, Seq("a", "b", "c")).contains(2.0))
    // even count averages the middle pair
    assert(Bench.hostDrift(res, pins, Seq("a", "b")).contains(1.75))
    // a lone sentinel must not rescale the gate
    assert(Bench.hostDrift(res, pins, Seq("a")).isEmpty)
    assert(Bench.hostDrift(res, Map.empty, Seq("a", "b")).isEmpty)
    // an unmeasured or unpinned sentinel simply drops out
    assert(Bench.hostDrift(res, pins, Seq("a", "b", "zz")).contains(1.75))
  }

  test("the sentinel entries exist in the suite and in every pinned scale") {
    val sentinels = Seq("bpe_train", "text_entropy", "q07_window_rank")
    sentinels.foreach { s =>
      assert(SparkEntry.queries.contains(s), s)
      assert(Bench.loadPins("/root/testdata/sf0.1").contains(s), s"$s sf0.1")
      assert(Bench.loadPins("target/sf10").contains(s), s"$s sf10")
      assert(Bench.loadPins("target/sf30u").contains(s), s"$s sf30")
    }
    // and Bench runs them first (suite start = solo read)
    val bench = scala.io.Source.fromFile(
      "src/main/scala/graft/Bench.scala", "UTF-8").mkString
    assert(bench.contains(
      """val sentinels = Seq("bpe_train", "text_entropy", "q07_window_rank")"""))
    assert(bench.contains("if (sentinels.contains(name)) 0 else 1"),
      "sentinels must be ordered to the front of the suite")
  }

  test("within-2x entries and unpinned entries produce no regressions field") {
    val pins = many.map { case (k, v) => k -> v / 1.9 } // all under 2x
    val line = Bench.jsonLine("/root/testdata/sf0.1", many, pins = pins)
    assert(!line.contains("regressions"), line.takeRight(120))
    val line2 = Bench.jsonLine("/root/testdata/sf0.1", many) // no pins at all
    assert(!line2.contains("regressions"))
  }

  test("the committed sf0.1 pins resource loads and covers the suite") {
    val pins = Bench.loadPins("/root/testdata/sf0.1")
    assert(pins.size >= 170, s"only ${pins.size} pins")
    assert(pins.values.forall(v => v > 0 && v < 60), "pin sanity")
    // every queries entry has a pin — a new operator must re-pin
    val missing = SparkEntry.queries.keySet -- pins.keySet
    assert(missing.isEmpty, s"unpinned entries: $missing")
    // and an unknown scale yields no pins (no spurious regressions)
    assert(Bench.loadPins("/root/testdata/sf77").isEmpty)
  }

  test("the committed sf10 pins resource loads and covers the suite") {
    // VERDICT r14 #3: decade adjudication of "in-suite memory
    // pressure" entries becomes a mechanical median_pin_ratio read —
    // loadPins already keys on the sfN segment, so an sf10 bench run
    // (SPARK_GRAFT_SF_DIR=target/sf10) emits the ratio automatically
    // once this resource exists.
    val pins = Bench.loadPins("target/sf10")
    assert(pins.size >= 200, s"only ${pins.size} sf10 pins")
    assert(pins.values.forall(v => v > 0 && v < 120), "pin sanity")
    val missing = SparkEntry.queries.keySet -- pins.keySet
    assert(missing.isEmpty, s"unpinned entries at sf10: $missing")
  }

  test("empty run still emits a parseable zero line") {
    val line = Bench.jsonLine("/root/testdata/sf0.01", Map.empty)
    assert(line == """{"metric":"total","value":0.000,"unit":"sec","sf":0.01,"errors":0,"queries":{}}""")
  }

  test("emission path: sbt's success footer is suppressed so the line is last") {
    // r1–r5 all recorded parsed:null because "[success] Total time ..."
    // followed the metric line in stdout. build.sbt must keep the
    // suppression settings, and Bench.main must print the line after
    // spark.stop() with nothing following it.
    val buildSbt = scala.io.Source.fromFile("build.sbt", "UTF-8").mkString
    assert(buildSbt.contains("Global / showSuccess := false"), "showSuccess")
    assert(buildSbt.contains("Global / showTiming := false"), "showTiming")
    val bench = scala.io.Source.fromFile(
      "src/main/scala/graft/Bench.scala", "UTF-8").mkString
    val stopIdx = bench.indexOf("spark.stop()")
    val printIdx = bench.indexOf("println(jsonLine(")
    assert(stopIdx >= 0 && printIdx > stopIdx,
      "metric line must print AFTER spark.stop()")
  }
}
