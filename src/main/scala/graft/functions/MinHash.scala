package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** 64-permutation MinHash signature of a string-array column in ONE
  * pass: each element is hashed once (FNV-1a 64) and the 64 permuted
  * values are `h_j = mix64(h ^ seed_j)` with the SplitMix64 finalizer —
  * a full avalanche per permutation, so the 64 minima are effectively
  * independent (a plain affine `a_j·h+b_j` family correlates argmins
  * across permutations and inflates LSH band collisions). Replaces the
  * declarative `transform(sequence(0,63), j -> array_min(transform(
  * shingles, s -> hash(j, s))))`, which materializes 64 intermediate
  * arrays per row and re-hashes every shingle 64 times in interpreted
  * lambdas — the dominant cost of the LSH dedup family at bench.
  */
case class MinHashSig(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(input: Any): Any =
    ExprKernels.minhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprKernels.minhash($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct hashed character n-grams of a string in one pass: a
  * sliding FNV-1a 64 over the UTF-8 bytes, deduplicated into an
  * `array<long>`. The hashed-gram set gives the same Jaccard
  * similarity as the string-gram set (collisions are ~2^-64) without
  * materializing thousands of short substrings per row — the
  * `transform(sequence(...), i -> substring(...))` + array_distinct
  * chain it replaces allocates every gram as a String first.
  */
case class NgramHashes(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    ExprKernels.ngrams(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprKernels.ngrams($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramHashes {
  def column(text: Column, n: Int): Column =
    DatasetBridge.column(NgramHashes(DatasetBridge.expression(text), n))
}

/** Winnowing fingerprints (Schleimer et al., SIGMOD'03) of a string
  * in ONE pass: positional k-byte FNV-1a 64 grams, minimum over each
  * sliding window of `w`, distinct survivors as `array<long>`.
  * Replaces the two chained interpreted higher-order transforms
  * (`transform(sequence, i -> xxhash64(substring(...)))` then
  * `transform(sequence, j -> array_min(slice(...)))`), which allocate
  * every 8-char gram as a String and materialize both intermediate
  * arrays per row — the dominant cost of substring-level dedup at
  * bench. Byte-positional rather than character-positional (identical
  * on ASCII corpora; multi-byte code points shift gram boundaries,
  * not winnowing guarantees).
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override protected def nullSafeEval(input: Any): Any =
    ExprKernels.winnow(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprKernels.winnow($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  def column(shingles: Column): Column =
    DatasetBridge.column(MinHashSig(DatasetBridge.expression(shingles)))

  val NPerms = 64

  // deterministic SplitMix64 stream -> 64 permutation seeds
  val Seeds: Array[Long] =
    Iterator.iterate(42L) { s => s + 0x9e3779b97f4a7c15L }.drop(1).map { s =>
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }.take(NPerms).toArray
}
