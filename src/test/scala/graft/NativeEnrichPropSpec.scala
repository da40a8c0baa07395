package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Arbitrary.arbitrary
import org.scalacheck.rng.Seed

import graft.functions.Net
import graft.snort.Maps

/** Property checks of the follow sink's native expressions, at a fixed
  * seed: `Net.ipToString` renders every address blob as the built-in
  * case chain it replaced does, and the broadcast lookups
  * (`Maps.lookupSignatures` / `lookupClassifications`) give the rows,
  * schema and nullability of the join API over `combinedSigMap` /
  * `classMap`, interpreted and codegen'd.
  */
class NativeEnrichPropSpec extends SparkSuite {

  private def check(p: Prop, cases: Int): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(cases)
      .withWorkers(1)
      .withInitialSeed(Seed(20261020L))
    val res = Test.check(params, p)
    assert(res.passed, res.status.toString)
  }

  /** `f` with the session's expressions interpreted (`codegen` false)
    * or generated.
    */
  private def withCodegen[T](codegen: Boolean)(f: => T): T = {
    val conf = Map(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" ->
        (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val before = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---- addresses -------------------------------------------------------

  /** `Net.ipToString` as it was composed from built-in functions. */
  private def builtInIpText(c: Column): Column =
    when(length(c) === 4, Net.inet_ntoa(conv(hex(c), 16, 10).cast("long")))
      .when(length(c) === 16, Net.inet6_ntoa(c))
      .otherwise(Net.hexlify(c))

  /** The old and new renderings of one binary input slot, analyzed. */
  private lazy val renderings: Seq[Expression] = {
    val in = spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("b", BinaryType))))
    in.select(builtInIpText(col("b")), Net.ipToString(col("b")))
      .queryExecution.analyzed match {
      case Project(list, child) =>
        list.map(BindReferences.bindReference(_: Expression, child.output))
    }
  }

  /** 0–20 bytes, lengths 4 and 16 and zero bytes (IPv6 zero runs,
    * `::ffff:` prefixes) often; null now and then.
    */
  private val blob: Gen[Array[Byte]] = {
    val byte = Gen.frequency(3 -> arbitrary[Byte], 2 -> Gen.const(0: Byte),
      1 -> Gen.const(-1: Byte))
    val len = Gen.frequency(3 -> Gen.const(4), 3 -> Gen.const(16),
      4 -> Gen.choose(0, 20))
    Gen.frequency(1 -> Gen.const(null),
      20 -> len.flatMap(n => Gen.listOfN(n, byte).map(_.toArray)))
  }

  test("the native address renderer equals the built-in case chain") {
    val Seq(builtIn, native) = renderings
    assert(native.nullable && builtIn.nullable)
    assert(native.dataType == StringType)
    val projections = Seq(
      InterpretedUnsafeProjection.createProjection(renderings),
      GenerateUnsafeProjection.generate(renderings))
    check(Prop.forAll(blob) { b =>
      val outs = projections.map { p =>
        val r = p(InternalRow(b))
        (0 to 1).map(i => if (r.isNullAt(i)) null else r.getUTF8String(i)
          .toString)
      }
      outs.forall(o => o(0) == o(1)) && outs(0) == outs(1) &&
        (b == null) == (outs(0)(1) == null)
    }, 10000)
  }

  test("rendered addresses, one row per form") {
    val blobs = Seq(Array[Byte](10, 0, 0, 1), Array[Byte](-1, -1, -1, -1),
      Array.fill[Byte](16)(0), Array[Byte](1, 2, -85), Array.emptyByteArray,
      null)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      blobs.map(Row(_)), 1), StructType(Seq(StructField("b", BinaryType))))
    Seq(false, true).foreach { codegen =>
      withCodegen(codegen) {
        assert(df.select(Net.ipToString(col("b"))).collect().map(_.get(0))
          .toSeq == Seq("10.0.0.1", "255.255.255.255", "::", "0102ab", "",
            null))
      }
    }
  }

  // ---- rule-map lookups ------------------------------------------------

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("generator_id", LongType),
    StructField("signature_id", LongType),
    StructField("signature_revision", LongType),
    StructField("classification_id", LongType),
    StructField("priority_id", LongType)))

  /** Map files and events over small key pools, so that keys repeat in
    * a map file, go unmapped, or are null in an event.
    */
  private case class Case(sidLines: Seq[(Long, String)],
      genLines: Seq[(Long, Long, String)], classNames: Seq[String],
      events: Seq[Seq[Option[Long]]])

  private val word: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar))
      .map(_.mkString)
  private def orNull(g: Gen[Long]): Gen[Option[Long]] =
    Gen.frequency(1 -> Gen.const(None), 6 -> g.map(Some(_)))

  private val cases: Gen[Case] = for {
    sids <- Gen.choose(0, 10).flatMap(Gen.listOfN(_,
      Gen.zip(Gen.choose(1L, 8L), word)))
    gens <- Gen.choose(0, 6).flatMap(Gen.listOfN(_,
      Gen.zip(Gen.oneOf(1L, 116L, 119L), Gen.choose(1L, 4L), word)))
    classes <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, word))
    events <- Gen.choose(1, 40).flatMap(Gen.listOfN(_, Gen.sequence[
      Seq[Option[Long]], Option[Long]](Seq(
        orNull(Gen.oneOf(1L, 116L, 119L, 122L)), orNull(Gen.choose(1L, 9L)),
        orNull(Gen.choose(0L, 5L)), orNull(Gen.choose(0L, 7L)),
        orNull(Gen.choose(1L, 4L))))))
  } yield Case(sids, gens, classes, events)

  test("the native lookups equal the join API over the parsed maps") {
    val dir = Paths.get(tempDir("graft-lookprop"))
    val (sid, gen, cls) = (dir.resolve("sid-msg.map"),
      dir.resolve("gen-msg.map"), dir.resolve("classification.config"))
    val sc = spark.sparkContext
    var repeated = 0
    check(Prop.forAll(cases) { c =>
      Files.writeString(sid, c.sidLines.map { case (s, m) => s"$s || $m\n" }
        .mkString)
      Files.writeString(gen, c.genLines.map { case (g, s, m) =>
        s"$g || $s || $m\n" }.mkString)
      Files.writeString(cls, c.classNames.map(n =>
        s"config classification: $n,desc $n,2\n").mkString)
      if (c.sidLines.map(_._1).distinct.size < c.sidLines.size) repeated += 1
      val events = spark.createDataFrame(sc.parallelize(
        c.events.zipWithIndex.map { case (e, i) =>
          Row.fromSeq(i.toLong +: e.map(_.getOrElse(null))) }, 2),
        eventSchema)
      val sigs = sc.broadcast(Maps.sigLookup(sid.toString, gen.toString))
      val names = sc.broadcast(Maps.classLookup(cls.toString))
      try Seq(false, true).forall { codegen =>
        withCodegen(codegen) {
          val looked = Maps.lookupClassifications(
            Maps.lookupSignatures(events, sigs), names)
          val joined = Maps.enrichClassifications(
            Maps.enrichSignatures(events,
              Maps.combinedSigMap(spark, sid.toString, gen.toString)),
            Maps.classMap(spark, cls.toString))
            .select(looked.columns.toSeq.map(col): _*)
          looked.schema == joined.schema && rows(looked) == rows(joined)
        }
      } finally { sigs.destroy(); names.destroy() }
    }, 30)
    assert(repeated > 0, "no case repeated a key in sid-msg.map")
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
}
