package graft.functions

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** Row-level kernels shared by the native expressions' interpreted
  * `eval` AND generated code. A standalone object (no companion class)
  * compiles to STATIC forwarders on `graft.functions.ExprKernels`, so
  * whole-stage-generated Java calls these directly — the expressions
  * implement `doGenCode` as one static call instead of extending
  * `CodegenFallback`, which would break the WholeStageCodegen span of
  * every stage they appear in (and with it the pipelining of the
  * surrounding operators in the LSH/ANN hot paths).
  */
object ExprKernels {

  /** Sequential-sum dot product; null on length mismatch or null
    * element (zip_with+aggregate parity — see [[DotProd]]).
    */
  def dot(l: ArrayData, r: ArrayData, lFloat: Boolean,
      rFloat: Boolean): java.lang.Double = {
    val n = l.numElements()
    if (n != r.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (l.isNullAt(i) || r.isNullAt(i)) return null
      val x = if (lFloat) l.getFloat(i).toDouble else l.getDouble(i)
      val y = if (rFloat) r.getFloat(i).toDouble else r.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Sequential-sum squared L2 distance; null on length mismatch or
    * null element (same propagation as [[dot]]).
    */
  def l2sq(l: ArrayData, r: ArrayData, lFloat: Boolean,
      rFloat: Boolean): java.lang.Double = {
    val n = l.numElements()
    if (n != r.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (l.isNullAt(i) || r.isNullAt(i)) return null
      val x = if (lFloat) l.getFloat(i).toDouble else l.getDouble(i)
      val y = if (rFloat) r.getFloat(i).toDouble else r.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Argmax-dot / argmin-L2² over an array of (id, cvec) structs — the
    * IVF cell-assignment / PQ-encoding inner loop (see
    * [[NearestEntry]]). Strict-improvement replacement: on ties the
    * EARLIEST entry wins, so an id-sorted entries array reproduces the
    * `aggregate`-fold (and min-of-struct) tie rule it replaces.
    * Entries with a null id/vec or a length-mismatched vec are skipped
    * (the fold's CaseWhen treated their null score as no-improvement);
    * null if no entry qualifies.
    */
  def nearestEntry(vec: ArrayData, entries: ArrayData, vecFloat: Boolean,
      entFloat: Boolean, useL2: Boolean, idLong: Boolean): Any = {
    var best = if (useL2) Double.MaxValue else Double.NegativeInfinity
    var bestId: Any = null
    val n = entries.numElements()
    var i = 0
    while (i < n) {
      if (!entries.isNullAt(i)) {
        val row = entries.getStruct(i, 2)
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val d = if (useL2) l2sq(vec, row.getArray(1), vecFloat, entFloat)
            else dot(vec, row.getArray(1), vecFloat, entFloat)
          if (d != null) {
            val dd = d.doubleValue()
            if (if (useL2) dd < best else dd > best) {
              best = dd
              bestId = if (idLong) java.lang.Long.valueOf(row.getLong(0))
                else java.lang.Integer.valueOf(row.getInt(0))
            }
          }
        }
      }
      i += 1
    }
    bestId
  }

  /** Unit-normalized copy as double[] — one norm pass then one divide
    * pass (see [[UnitNorm]]). Replaces the declarative
    * `transform(a, x -> x / sqrt(dot(a, a)))` composition, whose norm
    * subtree sits INSIDE the lambda and re-evaluates per ELEMENT:
    * O(d²) multiplies per row across the whole ANN/dedup family's
    * corpus normalization. Arithmetic is bit-identical to the
    * composition (ascending-index square sum = DotProd's order, one
    * sqrt, per-element divide), including the edges: a null ELEMENT
    * nulls the norm and with it every output element (x / NULL); a
    * zero vector reproduces Spark Divide's zero-divisor contract —
    * the standard divide-by-zero error under ANSI, all-NULL elements
    * in default mode (Spark's Divide returns NULL on a zero divisor
    * even for doubles; it never emits IEEE ±Inf).
    */
  def unitNorm(a: ArrayData, isFloat: Boolean, ansi: Boolean,
      qc: QueryContext): ArrayData = {
    val n = a.numElements()
    var acc = 0.0
    var anyNull = false
    var i = 0
    while (i < n && !anyNull) {
      if (a.isNullAt(i)) anyNull = true
      else {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        acc += x * x
      }
      i += 1
    }
    if (anyNull) return new GenericArrayData(new Array[Any](n))
    val nrm = math.sqrt(acc)
    if (nrm == 0.0) {
      if (ansi)
        throw org.apache.spark.sql.graft.DatasetBridge.divideByZeroError(qc)
      return new GenericArrayData(new Array[Any](n))
    }
    val out = new Array[Double](n)
    var j = 0
    while (j < n) {
      val x = if (isFloat) a.getFloat(j).toDouble else a.getDouble(j)
      out(j) = x / nrm
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Top-k entry ids by dot product over an array of (id, cvec)
    * structs — [[nearestEntry]]'s k-bounded sibling for multi-probe
    * routing (see [[TopCellsDot]]): one insertion-sorted (score DESC,
    * earliest-entry-first) buffer of size k per row, so a corpus-sized
    * relation computes its nProbe cells map-only against the broadcast
    * centroid array instead of crossJoin-exploding n×cells rows into a
    * window sort. Tie rule matches the SQL `ORDER BY dot DESC, id ASC`
    * twin when the entries array is id-sorted: insertion requires
    * STRICT improvement to displace an earlier (smaller-id) entry.
    * Entries with null/mismatched vecs are skipped; returns the ≤ k
    * qualifying ids ranked, or null for a null input vec.
    */
  def topCellsDot(vec: ArrayData, entries: ArrayData, k: Int,
      vecFloat: Boolean, entFloat: Boolean): ArrayData = {
    val ids = new Array[Long](k)
    val scs = new Array[Double](k)
    var cnt = 0
    val n = entries.numElements()
    var i = 0
    while (i < n) {
      if (!entries.isNullAt(i)) {
        val row = entries.getStruct(i, 2)
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val d = dot(vec, row.getArray(1), vecFloat, entFloat)
          if (d != null) {
            val dd = d.doubleValue()
            if (cnt < k || dd > scs(cnt - 1)) {
              var p = if (cnt < k) cnt else k - 1
              while (p > 0 && dd > scs(p - 1)) {
                scs(p) = scs(p - 1); ids(p) = ids(p - 1); p -= 1
              }
              scs(p) = dd
              ids(p) = row.getLong(0)
              if (cnt < k) cnt += 1
            }
          }
        }
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(ids, cnt))
  }

  /** Distinct-element Jaccard; Divide(0,0)-identical ∅/∅ semantics:
    * NULL in default mode, the standard divide-by-zero error under
    * ANSI (see [[JaccardSim]]).
    */
  def jaccard(l: ArrayData, r: ArrayData, elemType: DataType,
      ansi: Boolean, qc: QueryContext): java.lang.Double = {
    val la = l.toObjectArray(elemType)
    val ra = r.toObjectArray(elemType)
    val lSet = new java.util.HashSet[Any](la.length * 2)
    var i = 0
    while (i < la.length) { lSet.add(la(i)); i += 1 }
    val seen = new java.util.HashSet[Any](ra.length * 2)
    var inter = 0
    var rDistinct = 0
    i = 0
    while (i < ra.length) {
      if (seen.add(ra(i))) {
        rDistinct += 1
        if (lSet.contains(ra(i))) inter += 1
      }
      i += 1
    }
    val union = lSet.size + rDistinct - inter
    if (union == 0) {
      if (ansi)
        throw org.apache.spark.sql.graft.DatasetBridge.divideByZeroError(qc)
      else null
    } else java.lang.Double.valueOf(inter.toDouble / union.toDouble)
  }

  /** 64-permutation MinHash signature (see [[MinHashSig]]). */
  def minhash(arr: ArrayData): ArrayData = {
    val mins = Array.fill(MinHashSig.NPerms)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = fnv1a64(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < MinHashSig.NPerms) {
          var z = h ^ MinHashSig.Seeds(j)
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z ^= (z >>> 31)
          if (z < mins(j)) mins(j) = z
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** 64-bit SimHash of a token array (see [[SimHash64]]). */
  def simhash(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = fnv1a64(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Distinct hashed character n-grams (see [[NgramHashes]]). */
  def ngrams(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    if (bytes.length < n) {
      out += fnv1a64(bytes)
    } else {
      var start = 0
      while (start + n <= bytes.length) {
        var h = 0xcbf29ce484222325L
        var i = start
        while (i < start + n) {
          h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1
        }
        if (seen.add(h)) out += h
        start += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  @inline private def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Winnowing fingerprints (see [[WinnowFingerprints]]): positional
    * k-byte FNV-1a grams, minimum per sliding window of `w`, distinct
    * survivors in first-occurrence order. Shorter-than-k input hashes
    * whole; a gram count below `w` yields one whole-array window —
    * the same edge semantics as the declarative
    * `transform(sequence(1, greatest(…, 1)))` chain it replaces.
    */
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val m = bytes.length
    val nGrams = if (m < k) 1 else m - k + 1
    val grams = new Array[Long](nGrams)
    if (m < k) grams(0) = fnv1a64(bytes)
    else {
      var start = 0
      while (start + k <= m) {
        var h = 0xcbf29ce484222325L
        var i = start
        while (i < start + k) {
          h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1
        }
        grams(start) = h
        start += 1
      }
    }
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    val nWin = math.max(nGrams - w + 1, 1)
    var j = 0
    while (j < nWin) {
      var mn = Long.MaxValue
      var i = j
      val end = math.min(j + w, nGrams)
      while (i < end) { if (grams(i) < mn) mn = grams(i); i += 1 }
      if (seen.add(mn)) out += mn
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** FastSS symmetric-deletion variant hashes (Bocek et al., 2007)
    * over a fixed-length SUFFIX window: FNV-1a 64 of the last
    * `min(len, w)` UTF-16 chars with every subset of ≤ k positions
    * deleted, deduplicated.
    *
    * Chars, not bytes: [[levBand]] measures edit distance over UTF-16
    * chars (String.charAt), so the blocking key must delete the SAME
    * units — deleting UTF-8 bytes would need ≥2 byte deletions for one
    * multi-byte char substitution and silently break the recall
    * contract on non-ASCII input.
    *
    * Why a window is still recall-1 for window edit distance ≤ k:
    * take an optimal alignment of s and t with cost ≤ k. Edits beyond
    * both windows leave the windows untouched. Within the windows,
    * each substitution deletes one char on each side, each insert/
    * delete deletes one char on one side AND shifts the window
    * boundary, pulling ≤1 extra trailing char into the OTHER side's
    * window — trimmed by one extra trailing deletion there. Each of
    * the ≤ k edits therefore costs at most one deletion per side, so
    * two strings with edit distance ≤ k always share a ≤ k-deletion
    * variant of their windows. A SUFFIX (not prefix) window because
    * structured keys (Customer#000000001) put their entropy at the
    * END — a prefix window would degenerate to one giant block.
    *
    * The window caps variant count at C(w,2)+w+1 per row — CONSTANT,
    * where full-string FastSS is O(len²) (the q71 sf1 decade outlier:
    * 15.8× wall at 10× data because upsampling lengthens names).
    * Over-generated candidates (window-distance ≤ k but true distance
    * > k) are removed by the exact [[levBand]] verify, identical to
    * before.
    */
  def delVariants(s: UTF8String, k: Int, w: Int): ArrayData = {
    require(k >= 1 && k <= 2, s"delVariants supports k in [1,2], got $k")
    require(w >= 4 && w <= 64,
      s"delVariants window must be in [4,64], got $w — this blocking " +
        "scheme is for short join keys (names/codes), not documents")
    val str = s.toString
    val full = str.length
    val n = math.min(full, w)
    val off = full - n // suffix window start
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    // hash with window positions d1 (and d2) skipped; -1 = none.
    // Each UTF-16 char feeds FNV as two bytes (hi, lo) so distinct
    // char sequences keep distinct hash streams.
    def hashSkipping(d1: Int, d2: Int): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < n) {
        if (i != d1 && i != d2) {
          val c = str.charAt(off + i)
          h ^= ((c >> 8) & 0xffL); h *= 0x100000001b3L
          h ^= (c & 0xffL); h *= 0x100000001b3L
        }
        i += 1
      }
      h
    }
    def add(h: Long): Unit = if (seen.add(h)) out += h
    add(hashSkipping(-1, -1))
    var i = 0
    while (i < n) {
      add(hashSkipping(i, -1))
      if (k >= 2) {
        var j = i + 1
        while (j < n) { add(hashSkipping(i, j)); j += 1 }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Banded (Ukkonen) Levenshtein: the exact edit distance when it is
    * <= k, else k+1. O((2k+1)·n) time and one O(m) row — vs the full
    * O(n·m) matrix of plain levenshtein — with a whole-row early exit
    * when every band cell exceeds k. For threshold-filtered fuzzy
    * matching (`dist <= k`) the capped result is indistinguishable
    * from the exact one, and at 18-char keys with k=2 this does ~5
    * cells per row instead of 18.
    */
  def levBand(a: UTF8String, b: UTF8String, k: Int): Int = {
    val sa = a.toString
    val sb = b.toString
    val (s, t) = if (sa.length <= sb.length) (sa, sb) else (sb, sa)
    val n = s.length
    val m = t.length
    val inf = k + 1
    if (m - n > k) return inf
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, inf)
    var j = 0
    while (j <= math.min(m, k)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, inf)
      cur(0) = if (i <= k) i else inf
      var best = cur(0)
      val lo = math.max(1, i - k)
      val hi = math.min(m, i + k)
      j = lo
      while (j <= hi) {
        val cost = if (s.charAt(i - 1) == t.charAt(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        val del = prev(j) + 1
        val ins = cur(j - 1) + 1
        if (del < v) v = del
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(j) = v
        if (v < best) best = v
        j += 1
      }
      if (best >= inf) return inf
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    math.min(prev(m), inf)
  }

  /** Spread the lower 31 bits of `v` to even bit positions. */
  private def spread31(v: Long): Long = {
    var x = v & 0x7fffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** 62-bit Morton code: a's bits at odd positions, b's at even.
    * Inputs must be in [0, 2^31): silently masking would COLLIDE
    * distant keys (5 and 2^31+5) and send negatives above every
    * positive code — destroying exactly the rectangle property the
    * layout exists for — so out-of-domain input fails loudly. Rank
    * or bucket wider keys into the domain first.
    */
  def zvalue(a: Long, b: Long): Long = {
    if (((a | b) & ~0x7fffffffL) != 0L)
      throw new IllegalArgumentException(
        s"graft_zvalue domain is [0, 2^31): got ($a, $b)")
    (spread31(a) << 1) | spread31(b)
  }

  /** 16-byte address → RFC 5952 text: lowercase hex groups without
    * leading zeros, the longest (leftmost on tie) run of >= 2 zero
    * groups compressed to `::`; IPv4-mapped addresses use the §5 mixed
    * notation (`::ffff:192.0.2.1`), like inet_ntop. Returns null for
    * any other length — the caller decides the fallback rendering.
    */
  def inet6(bytes: Array[Byte]): UTF8String = {
    if (bytes == null || bytes.length != 16) return null
    val g = new Array[Int](8)
    var i = 0
    while (i < 8) {
      g(i) = ((bytes(2 * i) & 0xff) << 8) | (bytes(2 * i + 1) & 0xff)
      i += 1
    }
    if (g(0) == 0 && g(1) == 0 && g(2) == 0 && g(3) == 0 && g(4) == 0 &&
        g(5) == 0xffff)
      return UTF8String.fromString("::ffff:" +
        (bytes(12) & 0xff) + "." + (bytes(13) & 0xff) + "." +
        (bytes(14) & 0xff) + "." + (bytes(15) & 0xff))
    var bestStart = -1
    var bestLen = 0
    var runStart = -1
    i = 0
    while (i <= 8) {
      if (i < 8 && g(i) == 0) {
        if (runStart < 0) runStart = i
      } else if (runStart >= 0) {
        val len = i - runStart
        if (len > bestLen) { bestLen = len; bestStart = runStart }
        runStart = -1
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder(41)
    if (bestLen >= 2) {
      i = 0
      while (i < bestStart) {
        if (i > 0) sb.append(':')
        sb.append(Integer.toHexString(g(i)))
        i += 1
      }
      sb.append("::")
      i = bestStart + bestLen
      var first = true
      while (i < 8) {
        if (!first) sb.append(':')
        sb.append(Integer.toHexString(g(i)))
        first = false
        i += 1
      }
    } else {
      i = 0
      while (i < 8) {
        if (i > 0) sb.append(':')
        sb.append(Integer.toHexString(g(i)))
        i += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }

  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  /** A unified2 address blob as text (see [[IpText]]): the dotted quad
    * of the unsigned octets for 4 bytes, [[inet6]] for 16, lowercase
    * hex for any other length.
    */
  def ipText(bytes: Array[Byte]): UTF8String = bytes.length match {
    case 4 =>
      UTF8String.fromString(new java.lang.StringBuilder(15)
        .append(bytes(0) & 0xff).append('.').append(bytes(1) & 0xff)
        .append('.').append(bytes(2) & 0xff).append('.')
        .append(bytes(3) & 0xff).toString)
    case 16 => inet6(bytes)
    case n =>
      val out = new Array[Byte](2 * n)
      var i = 0
      while (i < n) {
        out(2 * i) = HexDigits((bytes(i) >> 4) & 0xf)
        out(2 * i + 1) = HexDigits(bytes(i) & 0xf)
        i += 1
      }
      UTF8String.fromBytes(out)
  }
}
