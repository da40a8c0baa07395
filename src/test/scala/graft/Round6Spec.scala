package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Round-6 regressions: malformed rule-map lines must be skipped the
  * way the oracle's `[0-9]+` guard skips them (never crash in toLong),
  * and the ngram-jaccard prefix blocks must cap their fan-out.
  */
class Round6Spec extends SparkSuite {

  test("sigMap skips empty / unicode-digit / alpha sids instead of crashing") {
    val dir = java.nio.file.Paths.get(tempDir("maps6"))
    val sid = dir.resolve("sid-msg.map")
    Files.writeString(sid,
      """|1 || ok alert
         |٣ || unicode digit sid
         | || empty sid
         |x2 || alpha sid
         |2 || second ok
         |""".stripMargin)
    val rows = graft.snort.Maps.sigMap(spark, sid.toString).collect()
    assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L))
  }

  test("genMap skips a line whose gid/aid is not ASCII-numeric") {
    val dir = java.nio.file.Paths.get(tempDir("maps6g"))
    val gen = dir.resolve("gen-msg.map")
    Files.writeString(gen, "1 || ٣ || bad\n2 || 7 || good\n")
    val g = graft.snort.Maps.genMap(spark, gen.toString).collect()
    assert(g.length == 1 && g(0).getLong(0) == 2L)
  }

  test("ngram_jaccard caps a hot boilerplate-prefix block at 8 sampled docs") {
    import spark.implicits._
    val d = "target/fixtures_hotprefix"
    val boiler = "BOILERPLATE HEAD " // 17 chars — shared 16-char prefix
    // 12 docs share the boilerplate prefix: the block keeps its 8
    // LOWEST doc_ids (sampled, not dropped — a >8-copy true-dup
    // cluster must still surface pairs), so no pair may touch doc_ids
    // 8–11. Docs 100/101 are a near-dup pair in a cold block and must
    // survive untouched.
    val docs = ((0L to 11L).map(i => (i,
        boiler + s"unique tail $i " + ("x" * i.toInt),
        "en", s"s$i", 40L)) ++ Seq(
        (100L, "shared small block prefix aa common text body here",
          "en", "s100", 50L),
        (101L, "shared small block prefix aa common text body herE",
          "en", "s101", 50L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val pairs = q("dedup_ngram_jaccard", d).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((100L, 101L)),
      s"cold-block near-dup pair must survive: $pairs")
    val beyondCap = pairs.filter { case (a, b) =>
      (a >= 8L && a <= 11L) || (b >= 8L && b <= 11L) }
    assert(beyondCap.isEmpty,
      s"docs beyond the 8-doc block sample must not pair: $beyondCap")
  }

  test("strings within edit distance 2 always share a deletion variant") {
    import org.apache.spark.unsafe.types.UTF8String
    def variants(s: String): Set[Long] = {
      val arr = graft.functions.ExprKernels
        .delVariants(UTF8String.fromString(s), 2, 12)
      (0 until arr.numElements()).map(arr.getLong).toSet
    }
    // multi-byte BMP chars included deliberately: the kernel deletes
    // UTF-16 CHARS (levBand's units) — a byte-level kernel would need
    // ≥2 byte deletions for one multi-byte substitution and silently
    // break recall on non-ASCII names (ADVICE r6)
    val alphabet =
      ('a' to 'z') ++ ('0' to '9') ++ "éüñøλжá中末".toSeq
    def rchar(rng: scala.util.Random): Char =
      alphabet(rng.nextInt(alphabet.length))
    val rng = new scala.util.Random(1)
    for (_ <- 1 to 300) {
      val base =
        (1 to (6 + rng.nextInt(18))).map(_ => rchar(rng)).mkString
      var s = base
      for (_ <- 0 until 1 + rng.nextInt(2)) {
        val p = if (s.isEmpty) 0 else rng.nextInt(s.length)
        s = rng.nextInt(3) match {
          case 0 if s.nonEmpty => s.patch(p, Nil, 1)
          case 1 => s.patch(p, Seq(rchar(rng)), 0)
          case _ if s.nonEmpty => s.updated(p, rchar(rng))
          case _ => s
        }
      }
      // edits can land anywhere, incl. outside the 12-char suffix
      // window — the windowed key must still share a variant
      assert(variants(base).intersect(variants(s)).nonEmpty,
        s"no shared variant: '$base' vs '$s'")
    }
  }

  test("q71's deletion-variant blocking equals the quadratic block join") {
    import org.apache.spark.sql.graft.DatasetBridge
    val fast = q("q71_fuzzy_match", sfDir).collect().toSeq
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_custkey"),
        col("c_name"))
    val a = c.select(col("c_nationkey"), col("c_mktsegment"),
      col("c_custkey").as("a_key"), col("c_name").as("a_name"))
    val b = c.select(col("c_nationkey"), col("c_mktsegment"),
      col("c_custkey").as("b_key"), col("c_name").as("b_name"))
    val quad = a.join(b, Seq("c_nationkey", "c_mktsegment"))
      .filter(col("a_key") < col("b_key"))
      .withColumn("dist", DatasetBridge.column(
        graft.functions.LevenshteinBand(
          DatasetBridge.expression(col("a_name")),
          DatasetBridge.expression(col("b_name")), 2)).cast("long"))
      .filter(col("dist") <= 2)
      .select(col("a_key"), col("a_name"), col("b_key"), col("b_name"),
        col("dist"))
      .orderBy(col("a_key"), col("b_key")).collect().toSeq
    assert(fast == quad, s"fast=${fast.size} quad=${quad.size}")
  }

  test("bpe_train matches an independent in-memory BPE reference") {
    import spark.implicits._
    val d = "target/fixtures_bpe"
    val texts = Seq(
      "low lower lowest low low newer newest wide wider widest",
      "low slow slower newest newest lower low wide",
      "the lowest slowest newest low lower the the")
    texts.zipWithIndex.map { case (t2, i) =>
      (i.toLong, t2, "en", s"s$i", t2.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = q("bpe_train", d).collect().toSeq
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // reference: plain in-memory BPE (Sennrich et al.), greedy
    // left-to-right rewrite, ties broken (count DESC, a, b)
    val words = texts.flatMap(_.toLowerCase.split(" ").filter(_.nonEmpty))
    var vocab: Seq[(Vector[String], Long)] = words.groupBy(identity).toSeq
      .map { case (w, g) =>
        (w.map(_.toString).toVector :+ "</w>", g.size.toLong) }
    val expect = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    for (step <- 1 to 10) {
      val counts = scala.collection.mutable
        .Map.empty[(String, String), Long].withDefaultValue(0L)
      for ((seq, c) <- vocab; i <- 0 until seq.length - 1)
        counts((seq(i), seq(i + 1))) += c
      val ((a, b), cnt) = counts.toSeq
        .sortBy { case ((x, y), c) => (-c, x, y) }.head
      expect += ((step, a, b, a + b, cnt))
      vocab = vocab.map { case (seq, c) =>
        val nb = Vector.newBuilder[String]
        var i = 0
        while (i < seq.length) {
          if (i + 1 < seq.length && seq(i) == a && seq(i + 1) == b) {
            nb += (a + b); i += 2
          } else { nb += seq(i); i += 1 }
        }
        (nb.result(), c)
      }
    }
    assert(got == expect.toSeq, s"got $got\nexpect $expect")
  }

  test("classMap skips a non-numeric priority but its ordinal is consumed") {
    val dir = java.nio.file.Paths.get(tempDir("maps6c"))
    val cls = dir.resolve("classification.config")
    Files.writeString(cls,
      """|config classification: a,A desc,1
         |config classification: b,B desc,high
         |config classification: c,C desc,3
         |""".stripMargin)
    val c = graft.snort.Maps.classMap(spark, cls.toString).collect()
    // id assignment precedes the guard (idstools line-ordinal
    // convention) — same on the oracle side (ROW_NUMBER before WHERE)
    assert(c.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "c")))
  }
}
