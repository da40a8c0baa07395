package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the measured-scaling story:
  * replicates the driver's sf0.1 tables `copies`× with per-copy key
  * shifts that preserve referential integrity (orders still join
  * their customers, lineitems their orders/parts/suppliers, copies
  * never collide). Used to extend SURVEY §5's 0.01→0.1 scaling table
  * one more decade (sf0.1 → ~sf1) inside the sandbox; NOT part of the
  * library surface and never writes outside target/.
  *
  * Workload-structure choices:
  *  - documents: copy 0 is verbatim; later copies get a deterministic
  *    per-copy WORD PERMUTATION of each text. A permuted doc shares
  *    almost no 3-word shingles or 4-char grams with its original, so
  *    the dedup entries see the same per-copy dup-rate instead of a
  *    quadratic cross-copy explosion of artificial exact dups.
  *  - embeddings: per-(copy, dim) deterministic jitter, same reason
  *    for the ANN entries (copies are near-orthogonal, not clones).
  *  - region/nation: genuine dimensions, kept as-is (they would stay
  *    25 rows at 100 TB too).
  *
  * CHAINED rounds (sf0.1 → sf1 → sf10) need per-round disambiguation,
  * or round 2's copies collide with round 1's and manufacture
  * artificial duplicates (measured at the sf10 decade: q71's match
  * set went 24× superlinear because base+" x111" arises from EITHER
  * round, and a doc permuted with copy-key k in round 2 equals the
  * round-1 copy-k permutation exactly):
  *  - names: per-copy suffix chars come from `alphabet` — pass a
  *    DISJOINT 9-char alphabet per round (default "123456789"; e.g.
  *    "abcdefghi" for the second round) so suffixes from different
  *    rounds stay ≥3 edits apart;
  *  - documents: the permutation hash is salted with the already
  *    round-shifted doc_id, so chained permutations never repeat.
  *
  * Usage: runMain graft.MakeScale /root/testdata/sf0.1 target/sf1 10
  *        runMain graft.MakeScale target/sf1 target/sf10 10 abcdefghi
  */
object MakeScale {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val alphabet = if (args.length > 3) args(3) else "123456789"
    // copies beyond alphabet+1 switch to the RS-4 suffix code (see
    // the c_name block below), so no alphabet-size require here
    val spark = GraftSession.build("graft-makescale")

    def tbl(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1L
    // one row per copy; crossJoin fans each source row out `copies`×
    val ks = spark.range(copies).toDF("k")
    def fan(df: DataFrame): DataFrame = df.crossJoin(broadcast(ks))

    // key strides (max+1 per key domain so copies never collide)
    val cust = tbl("customer"); val ck = stride(cust, "c_custkey")
    val supp = tbl("supplier"); val sk = stride(supp, "s_suppkey")
    val part = tbl("part"); val pk = stride(part, "p_partkey")
    val ords = tbl("orders"); val ok = stride(ords, "o_orderkey")
    val ev = tbl("events")
    val ek = stride(ev, "event_id"); val uk = stride(ev, "user_id")
    val docs = tbl("documents"); val dk = stride(docs, "doc_id")
    val emb = tbl("embeddings"); val vk = stride(emb, "vec_id")

    def write(df: DataFrame, n: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$n.parquet")

    // The streaming entries read `$dir/<name>.parquet` as a LEAF FILE
    // through pathGlobFilter, so the stream-fed tables must land as a
    // single plain file (a part-file directory would glob to nothing
    // and silently empty every stream entry at this scale).
    def writeSingleFile(df: DataFrame, n: String): Unit = {
      import java.nio.file.{Files, Path, Paths, StandardCopyOption}
      import scala.util.Using
      // every directory-stream helper closed via Using — unclosed
      // Files.list/walk streams leak directory handles (ADVICE r7)
      def rmTree(p: Path): Unit =
        Using.resource(Files.walk(p)) { st =>
          st.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(q => Files.deleteIfExists(q))
        }
      val tmp = s"$out/_tmp_$n"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val src = Using.resource(Files.list(Paths.get(tmp))) { st =>
        st.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().orElse(null)
      }
      require(src != null,
        s"no .parquet part file under $tmp — write produced nothing?")
      val dst = Paths.get(s"$out/$n.parquet")
      // an earlier non-single-file write may have left dst as a part-
      // file DIRECTORY: deleteIfExists throws on non-empty dirs, so
      // clear it recursively first
      if (Files.isDirectory(dst)) rmTree(dst)
      else Files.deleteIfExists(dst)
      Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING)
      // drop the now-empty tmp dir (part file already moved out)
      rmTree(Paths.get(tmp))
    }

    // genuine small dims: single copy
    write(tbl("region"), "region")
    write(tbl("nation"), "nation")

    // c_name gets a per-copy suffix with PAIRWISE EDIT DISTANCE ≥ 3:
    // 10 VERBATIM copies of every name would be 10 dist-0 fuzzy
    // matches of each other — an upsampling artifact, not a workload
    // property (real 10× data has 10× the distinct names).
    //  - copies ≤ alphabet+1: one alphabet char repeated 3× (Hamming
    //    3 between any two distinct copies) — the original scheme,
    //    so existing fixtures regenerate byte-identically;
    //  - copies beyond that (the r17 SINGLE-ROUND fresh-entropy
    //    fixtures, ×100/×300, VERDICT r16 #5): a length-4
    //    Reed-Solomon-style code over a 37-char (prime) alphabet —
    //    suffix chars are the evaluations of f(x) = a + b·x at
    //    x = 0,1,2,3 with (a,b) = (k mod 37, k div 37); two distinct
    //    degree-≤1 polynomials over Z_37 agree at ≤1 point, so any
    //    two suffixes differ in ≥3 of 4 positions. 37² = 1369
    //    codewords ≫ any fan-out a single round needs.
    val cName: Column =
      if (copies - 1 <= alphabet.length) {
        val alphaArr = array(alphabet.map(ch => lit(ch.toString)): _*)
        when(col("k") === 0, col("c_name"))
          .otherwise(concat(col("c_name"), lit(" x"),
            repeat(element_at(alphaArr, col("k").cast("int")), 3)))
      } else {
        val rs = "0123456789abcdefghijklmnopqrstuvwxyz_" // 37, prime
        require(copies <= rs.length.toLong * rs.length,
          s"RS suffix code supports <= ${rs.length * rs.length} copies")
        val rsArr = array(rs.map(ch => lit(ch.toString)): _*)
        val a = col("k") % rs.length
        val b = col("k") / rs.length
        val evals = (0 to 3).map(x =>
          element_at(rsArr, ((a + b * x) % rs.length).cast("int") + 1))
        when(col("k") === 0, col("c_name"))
          .otherwise(concat(col("c_name") +: lit(" x") +: evals: _*))
      }
    write(fan(cust)
      .withColumn("c_name", cName)
      .withColumn("c_custkey", col("c_custkey") + col("k") * ck)
      .drop("k"), "customer")
    write(fan(supp)
      .withColumn("s_suppkey", col("s_suppkey") + col("k") * sk)
      .drop("k"), "supplier")
    write(fan(part)
      .withColumn("p_partkey", col("p_partkey") + col("k") * pk)
      .drop("k"), "part")
    write(fan(ords)
      .withColumn("o_orderkey", col("o_orderkey") + col("k") * ok)
      .withColumn("o_custkey", col("o_custkey") + col("k") * ck)
      .drop("k"), "orders")
    write(fan(tbl("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + col("k") * ok)
      .withColumn("l_partkey", col("l_partkey") + col("k") * pk)
      .withColumn("l_suppkey", col("l_suppkey") + col("k") * sk)
      .drop("k"), "lineitem")
    writeSingleFile(fan(ev)
      .withColumn("event_id", col("event_id") + col("k") * ek)
      .withColumn("user_id", col("user_id") + col("k") * uk)
      .drop("k"), "events")

    // documents: copy 0 verbatim; later copies word-permuted by a
    // per-(round, copy, position, token) hash sort — near-zero shingle
    // overlap with the original, so dup RATE stays constant across
    // copies. The round's alphabet string salts the hash: it is
    // round-unique (chained rounds must pass disjoint alphabets), so
    // round 2 never replays round 1's permutation for the same k —
    // while, unlike a doc_id salt, planted duplicate texts still
    // permute IDENTICALLY within a copy and the corpus keeps its
    // constant per-copy dup rate instead of diluting it 10× per round.
    val permuted = expr(s"""concat_ws(' ', transform(array_sort(
        transform(filter(split(text, ' '), x -> x != ''),
          (t, i) -> struct(xxhash64(t, i, k, '$alphabet') AS h, t AS t))),
        e -> e.t))""")
    writeSingleFile(fan(docs)
      .withColumn("text",
        when(col("k") === 0 || length(trim(col("text"))) === 0,
          col("text")).otherwise(permuted))
      .withColumn("doc_id", col("doc_id") + col("k") * dk)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("k"), "documents")

    // embeddings: per-(copy, vec, dim) deterministic jitter keeps the
    // copies near the original's region without being clones; vec_id
    // shifts FIRST so the jitter seed is round-unique (same reasoning
    // as the documents salt)
    writeSingleFile(fan(emb)
      .withColumn("vec_id", col("vec_id") + col("k") * vk)
      .withColumn("embedding", expr("""transform(embedding,
        (x, i) -> CAST(x + (pmod(xxhash64(vec_id, i, k), 200L) - 100L)
          / 400.0 * CAST(sign(k) AS DOUBLE) AS FLOAT))"""))
      .drop("k"), "embeddings")

    println(s"SCALED $src -> $out x$copies")
    spark.stop()
  }
}
