package graft

import java.nio.file.Files

import graft.snort.GraftConfig
import graft.sources.Unified2Fixture

/** End-to-end CLI parity: a real charlotte.conf drives the whole loop
  * — test mode renders u2fast lines, parquet mode ingests enriched
  * alerts, a rerun after spool growth ingests only the delta (the
  * scheduled-batch daemon loop).
  */
class CharlotteSpec extends SparkSuite {

  private def writeConfig(): (String, GraftConfig, String) = {
    val root = tempDir("graft_cli")
    val spool = Unified2Fixture.writeSpool(s"$root/spool")
    val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")
    val conf = s"""{
      "spools": {"sensorX": {"directories": ["$spool"],
        "filename": "snort.log"}},
      "global": {"signature_map": "$sid", "generator_map": "$gen",
        "classification_map": "$cls"}
    }"""
    val path = s"$root/charlotte.conf"
    Files.writeString(java.nio.file.Paths.get(path), conf)
    (path, GraftConfig.load(path), root)
  }

  test("test mode renders enriched u2fast lines from the config's spools") {
    val (_, config, _) = writeConfig()
    val lines = Charlotte.textLines(spark, config, config.spools.head)
    assert(lines.nonEmpty)
    assert(lines.forall(_.contains("[**]")), "u2fast framing")
    assert(lines.exists(_.contains("WEB-MISC test http alert")),
      "sid-msg.map enrichment must reach the text output")
  }

  test("parquet mode ingests, and a rerun picks up only new spool data") {
    val (_, config, root) = writeConfig()
    val out = s"$root/out"
    Charlotte.run(spark, config, "parquet", out)
    val first = spark.read.parquet(s"$out/sensorX").count()
    assert(first > 0)

    // spool grows; the scheduled-batch rerun ingests the delta only
    val dir = config.spools.head.directories.head
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "snort.log.1800000099"),
      Unified2Fixture.eventV2(1, 99, 1800000099L, 1000001, 1, 3, 2, 1,
        Array[Byte](10, 0, 0, 9), Array[Byte](10, 0, 0, 10), 1, 2, 6))
    Charlotte.run(spark, config, "parquet", out)
    val second = spark.read.parquet(s"$out/sensorX").count()
    assert(second == first + 1, s"expected one new alert: $first -> $second")

    // maintenance mode: small per-drain files compact, rows unchanged
    Charlotte.run(spark, config, "compact", out)
    assert(spark.read.parquet(s"$out/sensorX").count() == second)

    // the recommended loop is drain → compact → drain: ingest must
    // still append correctly after the rewrite (checkpoint intact)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "snort.log.1800000199"),
      Unified2Fixture.eventV2(1, 100, 1800000199L, 1000001, 1, 3, 2, 1,
        Array[Byte](10, 0, 0, 11), Array[Byte](10, 0, 0, 12), 1, 2, 6))
    Charlotte.run(spark, config, "parquet", out)
    assert(spark.read.parquet(s"$out/sensorX").count() == second + 1)
  }
}
