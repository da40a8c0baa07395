package graft

/** Location scheme for the oracle-base dumps (the candidate-generation
  * intermediates DuckDB re-derives downstream logic from). Entries
  * never write them: each module whose oracles read dumps has one
  * `oracleDumps(s, dir)` step, and [[Verify]] runs every step once
  * before its entries. Dumps are scoped BY CORPUS DIR **and BY
  * applicationId**: the `oracleSql`
  * strings are built statically (no dir or session in scope), so they
  * bake in literal placeholders and [[Verify]] substitutes the actual
  * corpus slug and its own applicationId when it writes
  * `oracle_sql.json`. Corpus scoping stops a dump against another
  * dir from clobbering the gate's dumps; applicationId scoping stops a
  * CONCURRENT JVM on the SAME corpus (a second Verify run, or a test
  * running the dump steps) from overwriting the store mid-read —
  * centroid training uses avg() (order-dependent float sum), so a
  * concurrent re-dump between Verify and the DuckDB compare could
  * otherwise flip hash comparisons.
  */
object OracleDumps {
  val Base = "/root/repo/target/graft_scratch/oracle_base"
  /** Literal tokens inside static SQL strings. */
  val Placeholder = "__GRAFT_SF_SLUG__"
  val AppIdPlaceholder = "__GRAFT_APP_ID__"
  def slug(dir: String): String = dir.replaceAll("[^a-zA-Z0-9]", "_")
  /** Collision-free scratch-store slug (ADVICE r15): the sanitized dir
    * plus a hex hash of the RAW string, so two distinct corpus dirs
    * that sanitize identically (`target/sf1` vs `target_sf1`) can
    * never share a standing-index store. Used by the per-corpus
    * parquet stores (minhash / histgram / ivf); stale copies are
    * pruned by [[housekeep]] via the trailing `local_<millis>` appId
    * stamp those store names keep LAST in the path.
    */
  def scratchSlug(dir: String): String =
    slug(dir) + "_h" +
      Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))
  /** Runtime dump root for the dump steps writing against `dir` from
    * session `s` — unique per (corpus, JVM).
    */
  def root(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    housekeep(s)
    s"$Base/${slug(dir)}__${s.sparkContext.applicationId}"
  }

  /** Write `df` as the single-partition parquet dump at `path`. */
  def write(df: org.apache.spark.sql.DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** Millis stamp embedded in a local-mode applicationId (or in a dir
    * name derived from one — slugging turns `local-123` into
    * `local_123`). None for non-local masters.
    */
  private[graft] def appTs(name: String): Option[Long] =
    raw"local[-_](\d{10,})".r.findAllMatchIn(name).toSeq.lastOption
      .map(_.group(1).toLong)

  /** App-ID scoping means every Verify run writes a fresh copy of the
    * dumps, and every JVM (each suite, bench, Verify run) a fresh copy
    * of the stores — without cleanup they accumulate unboundedly
    * across rounds (ADVICE r7). Once per
    * JVM, delete any sibling scoped dir stamped >3 h OLDER than this
    * app's own local-<millis> stamp. Age is measured app-to-app (no
    * wall clock), the margin keeps every concurrent JVM and any
    * just-exited Verify run alive — the driver's DuckDB compare reads
    * the dumps minutes AFTER the Verify JVM exits, which is also why
    * a session must never delete its OWN dumps on shutdown.
    */
  private val housekept = new java.util.concurrent.atomic.AtomicBoolean(false)
  private[graft] val StaleMs = 3L * 3600 * 1000
  def housekeep(s: org.apache.spark.sql.SparkSession): Unit =
    if (housekept.compareAndSet(false, true))
      appTs(s.sparkContext.applicationId).foreach(ts => pruneStale(ts))

  /** Delete every app-stamped dir under the scratch root (and under
    * oracle_base) more than [[StaleMs]] older than `myTs`. Split from
    * [[housekeep]] so the deletion logic is testable without the
    * once-per-JVM latch — and parameterized on the base dir so the
    * TEST prunes a sandbox tree, never the real scratch root: the
    * spec's synthetic far-future `myTs` would otherwise delete every
    * LIVE dump on the machine, breaking a concurrent or just-exited
    * Verify run's DuckDB compare (observed r11: a test suite running
    * beside a Verify wiped its oracle base mid-gate).
    */
  private[graft] def pruneStale(myTs: Long,
      base: java.io.File = new java.io.File(Base)): Unit = {
    def prune(parent: java.io.File): Unit = {
      val kids = parent.listFiles()
      if (kids != null) kids.foreach { d =>
        if (d.isDirectory &&
            appTs(d.getName).exists(ts => myTs - ts > StaleMs))
          deleteRecursively(d.toPath)
      }
    }
    prune(base.getParentFile)
    prune(base)
  }

  /** Best-effort recursive delete; walk stream closed via Using
    * (an unclosed Files.walk leaks a directory handle — ADVICE r7).
    */
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    try scala.util.Using.resource(java.nio.file.Files.walk(p)) { st =>
      st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
    } catch { case _: java.io.IOException => () }
  /** DuckDB macros the byte-level oracles share (prepend them to the
    * query). `h2i(h, p, k)`: the k hex digits of `h` from 1-based
    * position p as an integer.
    */
  val H2iMacro: String =
    """CREATE OR REPLACE MACRO h2i(h, p, k) AS list_reduce(
          list_transform(range(CAST(p AS INT), CAST(p + k AS INT)),
            i -> strpos('0123456789ABCDEF', h[CAST(i AS INT)]) - 1),
          (a, b) -> a * 16 + b);"""
  /** `bytes_of(t)`: the UTF-8 bytes of `t`; needs [[H2iMacro]]. */
  val BytesOfMacro: String =
    """CREATE OR REPLACE MACRO bytes_of(t) AS (
          list_transform(range(0, octet_length(encode(t))),
            i -> h2i(hex(encode(t)), 2*CAST(i AS INT)+1, 2)));"""
  /** `graft_crc32(t)`: zlib's CRC-32 of `t`'s UTF-8 bytes as an inline
    * 256-entry table fold; needs [[BytesOfMacro]]. */
  val Crc32Macro: String =
    """CREATE OR REPLACE MACRO graft_crc32(t) AS (
          xor(list_reduce(list_prepend(CAST(4294967295 AS BIGINT),
            bytes_of(t)),
            (crc, b) -> xor([0,1996959894,3993919788,2567524794,124634137,1886057615,3915621685,2657392035,249268274,2044508324,3772115230,2547177864,162941995,2125561021,3887607047,2428444049,498536548,1789927666,4089016648,2227061214,450548861,1843258603,4107580753,2211677639,325883990,1684777152,4251122042,2321926636,335633487,1661365465,4195302755,2366115317,997073096,1281953886,3579855332,2724688242,1006888145,1258607687,3524101629,2768942443,901097722,1119000684,3686517206,2898065728,853044451,1172266101,3705015759,2882616665,651767980,1373503546,3369554304,3218104598,565507253,1454621731,3485111705,3099436303,671266974,1594198024,3322730930,2970347812,795835527,1483230225,3244367275,3060149565,1994146192,31158534,2563907772,4023717930,1907459465,112637215,2680153253,3904427059,2013776290,251722036,2517215374,3775830040,2137656763,141376813,2439277719,3865271297,1802195444,476864866,2238001368,4066508878,1812370925,453092731,2181625025,4111451223,1706088902,314042704,2344532202,4240017532,1658658271,366619977,2362670323,4224994405,1303535960,984961486,2747007092,3569037538,1256170817,1037604311,2765210733,3554079995,1131014506,879679996,2909243462,3663771856,1141124467,855842277,2852801631,3708648649,1342533948,654459306,3188396048,3373015174,1466479909,544179635,3110523913,3462522015,1591671054,702138776,2966460450,3352799412,1504918807,783551873,3082640443,3233442989,3988292384,2596254646,62317068,1957810842,3939845945,2647816111,81470997,1943803523,3814918930,2489596804,225274430,2053790376,3826175755,2466906013,167816743,2097651377,4027552580,2265490386,503444072,1762050814,4150417245,2154129355,426522225,1852507879,4275313526,2312317920,282753626,1742555852,4189708143,2394877945,397917763,1622183637,3604390888,2714866558,953729732,1340076626,3518719985,2797360999,1068828381,1219638859,3624741850,2936675148,906185462,1090812512,3747672003,2825379669,829329135,1181335161,3412177804,3160834842,628085408,1382605366,3423369109,3138078467,570562233,1426400815,3317316542,2998733608,733239954,1555261956,3268935591,3050360625,752459403,1541320221,2607071920,3965973030,1969922972,40735498,2617837225,3943577151,1913087877,83908371,2512341634,3803740692,2075208622,213261112,2463272603,3855990285,2094854071,198958881,2262029012,4057260610,1759359992,534414190,2176718541,4139329115,1873836001,414664567,2282248934,4279200368,1711684554,285281116,2405801727,4167216745,1634467795,376229701,2685067896,3608007406,1308918612,956543938,2808555105,3495958263,1231636301,1047427035,2932959818,3654703836,1088359270,936918000,2847714899,3736837829,1202900863,817233897,3183342108,3401237130,1404277552,615818150,3134207493,3453421203,1423857449,601450431,3009837614,3294710456,1567103746,711928724,3020668471,3272380065,1510334235,755167117][CAST((xor(crc, b) & 255) + 1 AS INT)],
              crc // 256)), 4294967295));"""

  /** Placeholder-form root for the static SQL strings. */
  val SqlRoot = s"$Base/${Placeholder}__$AppIdPlaceholder"
  /** Bind both placeholders for session `s` against `dir` — the one
    * substitution [[Verify]] applies before writing oracle_sql.json.
    */
  def bind(sql: String, s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    sql.replace(Placeholder, slug(dir))
      .replace(AppIdPlaceholder, s.sparkContext.applicationId)
}
