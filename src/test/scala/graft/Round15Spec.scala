package graft

import org.apache.spark.sql.functions._

/** Round-15 wave: the text_boiler_ngrams CMS prefilter path (VERDICT
  * r14 #1) must be an invisible optimization — the sketch is one-sided
  * (estimate >= truth), so forcing it ON and OFF over the same corpus
  * must produce bit-identical reports. The prefilter is opt-in via
  * `spark.graft.boiler.cmsMaxPairs` (the sf0.1 A/B measured it 6x the
  * entry's whole serving time on the head-heavy gate corpus — see the
  * boilerNgrams scaladoc); this spec pins the equivalence under force
  * AND under the conf-enabled auto gate, so the scale path stays
  * correct even though the default never takes it.
  */
class Round15Spec extends SparkSuite {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("boilerNgrams: CMS-prefiltered and exact paths are bit-identical") {
    val on = rows(TextOps.boilerNgrams(spark, sfDir, Some(true)))
    val off = rows(TextOps.boilerNgrams(spark, sfDir, Some(false)))
    assert(on.nonEmpty)
    assert(on == off, "CMS prefilter changed the report")
  }

  test("boilerNgrams auto-gate: conf-enabled CMS engages below the bound and matches") {
    val off = rows(TextOps.boilerNgrams(spark, sfDir, None))
    spark.conf.set("spark.graft.boiler.cmsMaxPairs",
      TextOps.BoilerCmsMaxPairs.toString)
    try {
      // sf0.001 has ~26k distinct (doc, gram) pairs << 2^21, so the
      // conf-enabled auto path IS the CMS path
      val auto = rows(TextOps.boilerNgrams(spark, sfDir, None))
      assert(auto == off)
    } finally spark.conf.unset("spark.graft.boiler.cmsMaxPairs")
  }

  test("SURVEY §2 lists every SparkEntry.queries key (the coverage contract is self-auditing)") {
    // VERDICT r14 #2: five shipped r12 operators were missing from the
    // §2 checklist — entries that exist but aren't listed are invisible
    // to the coverage audit. This pins the sync permanently.
    val survey = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val s2 = survey.substring(
      survey.indexOf("## §2 "), survey.indexOf("## §3 "))
    val missing = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(k => s2.contains(s"`$k`"))
    assert(missing.isEmpty,
      s"queries entries missing from SURVEY §2: ${missing.mkString(", ")}")
  }

  test("dedup_simhash: depth-2 and depth-3 pigeonhole keys yield identical pairs") {
    // the third pigeonhole level is pure keyspace widening — recall is
    // exact at every depth, so the pair set must be bit-identical
    val d2 = rows(DedupOps.dedupSimhash(spark, sfDir, Some(2)))
    val d3 = rows(DedupOps.dedupSimhash(spark, sfDir, Some(3)))
    assert(d2.nonEmpty, "fixture corpus must surface simhash pairs")
    assert(d2 == d3, "key depth changed the pair set")
  }

  test("dedup_simhash occupancy: auto depth bounds expected random candidates") {
    // VERDICT r14 #6: a FIXED 2^28 keyspace lets random sig-pair
    // candidates grow ~D²/2^25 — quadratic occupancy. The auto depth
    // must keep expected random candidates ≤ 32·D (linear) across the
    // whole D range: keys(d)·D²/2 / keyspace(d) with keys 16/64 and
    // keyspace 2^28/2^37 for depths 2/3.
    def expectedCandidates(d: Long, depth: Int): Double = depth match {
      case 2 => 16.0 * d * d / 2 / (1L << 28).toDouble
      case 3 => 64.0 * d * d / 2 / (1L << 37).toDouble
    }
    (10 to 30).map(1L << _).foreach { d =>
      val depth = DedupOps.simhashKeyDepth(d)
      assert(expectedCandidates(d, depth) <= 32.0 * d,
        s"D=$d depth=$depth occupancy unbounded")
    }
    // and the switch point is where depth 2 stops being linear
    assert(DedupOps.simhashKeyDepth(DedupOps.SimhashDepth3Sigs - 1) == 2)
    assert(DedupOps.simhashKeyDepth(DedupOps.SimhashDepth3Sigs) == 3)
  }

  test("boilerNgrams: boiler set is the df>=3 head, n_grams counts repeats") {
    import spark.implicits._
    val dir = tempDir("graft_r15")
    // gram "a b c" appears in docs 1,2,3 (df=3, boiler), twice in doc 1
    // (occurrences count with repeats); "x y z" df=2 (not boiler);
    // doc 4 has zero boiler grams (left-join + coalesce path)
    val docs = Seq(
      (1L, "a b c a b c", "s"), // grams: a b c, b c a, c a b, a b c
      (2L, "a b c", "s"),
      (3L, "q a b c", "s"),     // grams: q a b, a b c
      (4L, "x y z", "s"),
      (5L, "x y z", "s"),
      (6L, "hi", "s"))          // <3 words: excluded entirely
    docs.map { case (id, tx, src) => (id, tx, "en", src, tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    Seq(Some(true), Some(false)).foreach { force =>
      val r = TextOps.boilerNgrams(spark, dir, force).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getBoolean(4))).toSeq
      assert(r == Seq(
        (1L, 4L, 2L, true),  // 4 grams, "a b c" twice is boiler
        (2L, 1L, 1L, false), // 1 gram, all boiler -> frac 1.0 > 0.5
        (3L, 2L, 1L, true),
        (4L, 1L, 0L, true),  // df=2 gram: not boiler
        (5L, 1L, 0L, true)), s"force=$force: ${r.mkString(",")}")
    }
  }
}
