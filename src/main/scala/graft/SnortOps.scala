package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{DecodePacket, Net}
import graft.snort.{Maps, SnortStar}
import graft.sources.{Unified2, Unified2Fixture}

/** Charlotte-native surface (SURVEY.md §2.A): unified2 spool reading,
  * rule-map enrichment, packet decode, Snorby star-schema output.
  *
  * The driver's test tables carry no unified2 files, so these entries
  * materialize a deterministic fixture spool (public unified2 byte
  * layout, see [[graft.sources.Unified2Fixture]]) and run the REAL
  * pipeline over it; SnortSpec asserts the planted golden values.
  * Binary parsing itself is outside DuckDB, so the parse entries stay
  * rows-only + spec; everything DOWNSTREAM of parsing (enrichment
  * joins + fallbacks, dim surrogate keys, text rendering, arithmetic)
  * is oracled against the [[oracleBaseDir]] dumps or directly.
  */
object SnortOps {

  // The fixture pipeline feeds many entries; cache per session so each
  // Verify/Bench run parses and enriches the spool once. The fixture
  // root is the corpus the artifacts are cached under.
  private def fixtureRecords(s: SparkSession): DataFrame = {
    val root = Unified2Fixture.defaultRoot()
    IndexCache.getOrBuild(s, root, "u2_records") {
      val spool = Unified2Fixture.writeSpool(s"$root/spool")
      Unified2.records(s, Seq(spool), "snort.log", "sensor1").persist()
    }
  }

  /** Fixture spool + maps → enriched alerts (the full ingest path). */
  def fixtureAlerts(s: SparkSession): DataFrame = {
    val root = Unified2Fixture.defaultRoot()
    IndexCache.getOrBuild(s, root, "u2_alerts") {
      val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")
      Maps.enrichClassifications(
        Maps.enrichSignatures(Unified2.alerts(fixtureRecords(s)),
          Maps.combinedSigMap(s, sid, gen)),
        Maps.classMap(s, cls)).persist()
    }
  }

  /** u2_bulk_ingest's enriched alerts: the bulk fixture spool (60k
    * alerts over 16 files) through single-pass parse+assembly and the
    * map enrichment.
    */
  private def bulkAlerts(s: SparkSession): DataFrame = {
    // alert-volume knob for solo scale probes (r16: the README's
    // 600 k ingest-MB/s number); the driver's gate and suite runs
    // keep the 60 k default. Dir is keyed by the count so a scale
    // probe can never poison the default fixture's marker cache.
    val nAlerts = s.conf.getOption("spark.graft.u2.bulkAlerts")
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .filter(_ > 0).getOrElse(60000)
    val spool = Unified2Fixture.writeBulkSpool(
      s"${Unified2Fixture.defaultRoot()}/bulk" +
        (if (nAlerts == 60000) "" else s"_$nAlerts"), nAlerts, 16)
    val (sid, gen, cls) = Unified2Fixture.writeMaps(
      s"${Unified2Fixture.defaultRoot()}/maps")
    // single-pass parse+assembly per spool file (map-only stage;
    // see Unified2.alertsAssembled) — the join-based alerts() path
    // re-read every byte 3× and shuffled 4× for file-local keys
    Maps.enrichClassifications(
      Maps.enrichSignatures(
        Unified2.alertsAssembled(s, Seq(spool), "snort.log", "bulk1"),
        Maps.combinedSigMap(s, sid, gen)),
      Maps.classMap(s, cls))
  }

  /** Where the UPSTREAM relations (pre-enrichment alerts + parsed rule
    * maps) are dumped so DuckDB can re-derive the enrichment, dim, and
    * rendering entries independently. Absolute path: the driver's
    * DuckDB process has an unknown cwd. IPs are dumped already rendered
    * (the binary→string step is itself oracled via inet_funcs; RFC 5952
    * v6 output is not reasonably expressible in SQL) — everything
    * DOWNSTREAM of the dump (joins, fallbacks, dense_rank keys, text
    * assembly) is what those oracles check.
    */
  // placeholder form: interpolated into the static SQL strings;
  // Verify binds the applicationId (alongside the SF slug) when it
  // writes oracle_sql.json. AppId scoping keeps a concurrent JVM's
  // re-dump from overwriting these mid-read (same rationale as
  // OracleDumps.root).
  val oracleBaseDir =
    s"${OracleDumps.Base}/snort__${OracleDumps.AppIdPlaceholder}"

  /** The snort oracle dumps, under [[oracleBaseDir]] bound to this
    * session (the fixture is the corpus, so `dir` is unused).
    */
  def oracleDumps(s: SparkSession, dir: String): Unit = {
    val od = OracleDumps.bind(oracleBaseDir, s, dir)
    val root = Unified2Fixture.defaultRoot()
    val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")
    val records = fixtureRecords(s)
    OracleDumps.write(Unified2.alerts(records)
      .select(col("sensor"), col("src_file"), col("rec_index"),
        col("sensor_id"), col("event_id"), col("event_second"),
        col("event_microsecond"), col("event_ts"),
        col("signature_id"), col("generator_id"),
        col("signature_revision"), col("classification_id"),
        col("priority_id"),
        Net.ipToString(col("ip_source")).as("src_ip"),
        Net.ipToString(col("ip_destination")).as("dst_ip"),
        col("sport_itype"), col("dport_icode"), col("protocol")),
      s"$od/alerts_base")
    OracleDumps.write(Maps.combinedSigMap(s, sid, gen), s"$od/sigmap")
    OracleDumps.write(Maps.classMap(s, cls), s"$od/classmap")
    // record-level skeleton (no binary payloads): lets SQL re-derive
    // the event←packet/extra ASSEMBLY (grouping keys + counts)
    OracleDumps.write(records
      .select(col("sensor"), col("src_file"), col("rec_index"),
        col("sensor_id"), col("event_id"), col("event_second"),
        col("rec_type")),
      s"$od/records_base")
    // decoded per-packet headers (decode itself is binary, spec-
    // tested; addresses land as dotted-quad/RFC5952 strings) keyed
    // by record identity — SQL re-derives slot ranks, cid, inet_aton
    val packets = records.filter(col("rec_type") === Unified2.Packet)
    OracleDumps.write(packets
      .withColumn("d", DecodePacket.column(col("packet_data")))
      .select(col("sensor"), col("src_file"), col("rec_index"),
        col("sensor_id"), col("event_id"), col("event_second"),
        col("d.ip_ver").as("ip_ver"), col("d.ip_src").as("ip_src"),
        col("d.ip_dst").as("ip_dst")),
      s"$od/packets_decoded")
    // raw frames as hex: packet_decode's oracle re-implements the
    // whole eth→VLAN→IP→L4 walk in SQL over these
    OracleDumps.write(packets.select(col("event_id"), col("rec_index"),
        hex(col("packet_data")).as("h")),
      s"$od/packets_raw")
    // the enriched bulk pre-normalize base (parse+assembly output), so
    // u2_bulk_ingest's oracle re-derives the star cid windows and dim
    // keys at bulk scale; written unsplit like the bulk spool's parse
    bulkAlerts(s)
      .withColumn("n_pkts",
        greatest(coalesce(size(col("packets")), lit(0)), lit(1)))
      .select(col("sensor"), col("src_file"), col("rec_index"),
        col("generator_id"), col("signature_id"), col("sig_rev"),
        col("sig_priority"), col("classification_id"), col("sig_msg"),
        col("event_ts"), col("n_pkts"))
      .write.mode("overwrite")
      .parquet(s"$od/bulk_alerts")
    // byte-identical copies of the RAW rule-map files (the parse
    // entries' oracles re-implement the parsers in SQL over these)
    // and of the RAW spool files, for u2_parse's SQL re-parse
    def copyInto(to: String, files: Seq[java.nio.file.Path]): Unit = {
      val d = java.nio.file.Paths.get(to)
      java.nio.file.Files.createDirectories(d)
      files.foreach(p => java.nio.file.Files.copy(p,
        d.resolve(p.getFileName),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    }
    copyInto(s"$od/raw", Seq(sid, gen, cls).map(java.nio.file.Paths.get(_)))
    val spool = java.nio.file.Paths.get(
      Unified2Fixture.writeSpool(s"$root/spool"))
    scala.util.Using.resource(java.nio.file.Files.list(spool)) { ls =>
      copyInto(s"$od/raw_spool", ls.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("snort.log")))
    }
  }

  /** The '||'-separated map parsers in SQL over a byte-identical copy
    * of raw map `file`: comment/blank filter, split + trim, as `p`
    * (parts). */
  private def mapPartsCtes(file: String): String =
    s"""c AS (SELECT content FROM
            read_text('$oracleBaseDir/raw/$file')),
          l AS (SELECT trim(x) AS line FROM
            (SELECT unnest(string_split(content, chr(10))) AS x FROM c)),
          f AS (SELECT line FROM l
            WHERE line <> '' AND NOT starts_with(line, '#')),
          p AS (SELECT list_transform(string_split(line, '||'),
            x -> trim(x)) AS parts FROM f)"""

  /** The dumped pre-enrichment alerts `b` and combined sid/gen map `m`. */
  private val baseSigCtes =
    s"""b AS (SELECT * FROM
            read_parquet('$oracleBaseDir/alerts_base/*.parquet')),
          m AS (SELECT * FROM
            read_parquet('$oracleBaseDir/sigmap/*.parquet'))"""

  /** The reference's signature fallbacks over `b` LEFT JOIN `m`
    * (Unknown Alert g:s / rev 0 / priority 10 on unmapped sigs), as
    * sig_msg, sig_rev, sig_priority. */
  private val sigFallbackCols =
    """COALESCE(m.msg, 'Unknown Alert ' ||
            CAST(b.generator_id AS VARCHAR) || ':' ||
            CAST(b.signature_id AS VARCHAR)) AS sig_msg,
          CASE WHEN m.sid IS NULL THEN 0
            ELSE COALESCE(b.signature_revision, 1) END AS sig_rev,
          CASE WHEN m.sid IS NULL THEN 10
            ELSE b.priority_id END AS sig_priority"""

  /** `e` = the enriched events of `b`, `m` and records `r`, each with
    * its packet-slot count n_pkts (≥ 1) — the star's input. */
  private val enrichedEventCtes =
    s"""pk AS (SELECT sensor, src_file, sensor_id, event_id,
              event_second, COUNT(*) AS n_packets
            FROM r WHERE rec_type = 2 GROUP BY ALL),
          e AS (SELECT b.*, $sigFallbackCols,
              GREATEST(COALESCE(pk.n_packets, 0), 1) AS n_pkts
            FROM b LEFT JOIN m ON b.generator_id = m.gid
              AND b.signature_id = m.sid
            LEFT JOIN pk USING (sensor, src_file, sensor_id, event_id,
              event_second))"""

  /** The SQL reference of the distributed (sid, cid) normalization
    * over enriched events `e`: sensor surrogate keys `sd` (sensors from
    * `sensors`), signature keys `g2`, per-sensor file bases `fb` and
    * each alert's first cid `wc.cid_base` — the same two-level prefix
    * sums as [[SnortStar.normalize]].
    */
  private def cidWindowCtes(sensors: String): String =
    s"""sd AS (SELECT sensor, CAST(DENSE_RANK() OVER (ORDER BY sensor)
              AS BIGINT) AS sensor_sid
            FROM (SELECT DISTINCT sensor FROM $sensors)),
          g2 AS (SELECT *, CAST(DENSE_RANK() OVER (ORDER BY s_gid,
                s_sid, s_rev, s_class_id, s_priority, s_msg) AS BIGINT)
                AS sig_id
            FROM (SELECT DISTINCT generator_id AS s_gid,
                signature_id AS s_sid, sig_rev AS s_rev,
                classification_id AS s_class_id,
                sig_priority AS s_priority, sig_msg AS s_msg FROM e)),
          fb AS (SELECT sensor, src_file, COALESCE(SUM(file_pkts) OVER (
                PARTITION BY sensor ORDER BY src_file
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS file_base
            FROM (SELECT sensor, src_file, SUM(n_pkts) AS file_pkts
              FROM e GROUP BY ALL)),
          wc AS (SELECT e.*, fb.file_base + COALESCE(SUM(e.n_pkts)
                OVER (PARTITION BY e.sensor, e.src_file
                  ORDER BY e.rec_index
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + 1 AS cid_base
            FROM e JOIN fb USING (sensor, src_file))"""

  /** The event fact table over [[cidWindowCtes]]: one row per packet
    * slot, with the Snorby timestamp rendering. */
  private val eventFactSql =
    """ev0 AS (SELECT sd.sensor_sid AS sid, wc.cid_base,
              g2.sig_id,
              strftime(wc.event_ts, '%Y-%m-%d %H:%M:%S') AS ts,
              unnest(range(0, wc.n_pkts)) AS slot
            FROM wc JOIN sd USING (sensor)
            JOIN g2 ON wc.generator_id = g2.s_gid
              AND wc.signature_id = g2.s_sid AND wc.sig_rev = g2.s_rev
              AND wc.classification_id = g2.s_class_id
              AND wc.sig_priority = g2.s_priority
              AND wc.sig_msg = g2.s_msg)
        SELECT sid, CAST(cid_base + slot AS BIGINT) AS cid,
          sig_id AS signature, ts AS "timestamp"
        FROM ev0 ORDER BY sid, cid"""

  val entries: Seq[Entry] = Seq(
    Entry("u2_parse", (s, _) => {
      // binary columns render as hex for the flat-column verify
      // surface (same move as sigmap_parse's csv'd refs); the library
      // API keeps them binary
      fixtureRecords(s)
        .withColumn("ip_source", Net.hexlify(col("ip_source")))
        .withColumn("ip_destination", Net.hexlify(col("ip_destination")))
        .withColumn("packet_data", Net.hexlify(col("packet_data")))
        .withColumn("extra_blob", Net.hexlify(col("extra_blob")))
        .orderBy(col("src_file"), col("rec_index"))
    },
      // the unified2 PARSER re-implemented in SQL over byte-identical
      // spool copies: a recursive CTE walks the (type, len) framing
      // with the same truncated-tail stop, then per-type field
      // extraction at the spec offsets (event v1/v2 ip4/ip6 incl. the
      // conditional mpls/vlan tail, packet with plen clamp, extra-data
      // with blob-length clamp) — binary columns land as unhex'd
      // blobs. Only the src_file STRING maps through the record
      // skeleton (basename join; path naming isn't parser logic).
      Some(s"""${OracleDumps.H2iMacro}
        WITH RECURSIVE
        f AS (SELECT parse_filename(filename) AS fname, hex(content) AS h,
            CAST(octet_length(content) AS BIGINT) AS nb
          FROM read_blob('$oracleBaseDir/raw_spool/*')),
        fmap AS (SELECT DISTINCT src_file, parse_filename(src_file) AS fname
          FROM read_parquet('$oracleBaseDir/records_base/*.parquet')),
        walk AS (
          SELECT fname, h, nb, CAST(0 AS BIGINT) AS off, CAST(-1 AS BIGINT) AS idx,
              CAST(NULL AS BIGINT) AS rtype, CAST(NULL AS BIGINT) AS boff,
              CAST(NULL AS BIGINT) AS blen
            FROM f
          UNION ALL
          SELECT fname, h, nb, off + 8 + h2i(h, 2*(off+4)+1, 8), idx + 1,
              h2i(h, 2*off+1, 8), off + 8, h2i(h, 2*(off+4)+1, 8)
            FROM walk
            WHERE nb - off >= 8
              AND h2i(h, 2*(off+4)+1, 8) < 2147483648
              AND nb - off - 8 >= h2i(h, 2*(off+4)+1, 8)),
        recs AS (SELECT fname, h, idx, rtype, boff, blen, 2*boff+1 AS pb
          FROM walk WHERE idx >= 0),
        -- event records: v1/v2, ip4/ip6
        ev AS (SELECT *,
            CASE WHEN rtype IN (72, 105) THEN 16 ELSE 4 END AS iplen,
            rtype IN (104, 105) AS v2
          FROM recs WHERE rtype IN (7, 72, 104, 105)),
        ev2 AS (SELECT fname, idx, rtype,
            h2i(h, pb, 8) AS sensor_id, h2i(h, pb+8, 8) AS event_id,
            h2i(h, pb+16, 8) AS event_second, h2i(h, pb+24, 8) AS event_microsecond,
            h2i(h, pb+32, 8) AS signature_id, h2i(h, pb+40, 8) AS generator_id,
            h2i(h, pb+48, 8) AS signature_revision, h2i(h, pb+56, 8) AS classification_id,
            h2i(h, pb+64, 8) AS priority_id,
            lower(substr(h, CAST(pb+72 AS INT), CAST(2*iplen AS INT))) AS ip_source,
            lower(substr(h, CAST(pb+72+2*iplen AS INT), CAST(2*iplen AS INT))) AS ip_destination,
            h2i(h, pb+72+4*iplen, 4) AS sport_itype,
            h2i(h, pb+76+4*iplen, 4) AS dport_icode,
            h2i(h, pb+80+4*iplen, 2) AS protocol,
            h2i(h, pb+82+4*iplen, 2) AS impact_flag,
            h2i(h, pb+86+4*iplen, 2) AS blocked,
            CASE WHEN v2 AND blen - (36+2*iplen+8) >= 6
              THEN h2i(h, pb+88+4*iplen, 8) END AS mpls_label,
            CASE WHEN v2 AND blen - (36+2*iplen+8) >= 6
              THEN h2i(h, pb+96+4*iplen, 4) END AS vlan_id
          FROM ev),
        pk AS (SELECT fname, idx, rtype,
            h2i(h, pb, 8) AS sensor_id, h2i(h, pb+8, 8) AS event_id,
            h2i(h, pb+16, 8) AS event_second,
            h2i(h, pb+24, 8) AS packet_second, h2i(h, pb+32, 8) AS packet_microsecond,
            h2i(h, pb+40, 8) AS linktype,
            lower(substr(h, CAST(pb+56 AS INT),
              CAST(2*LEAST(h2i(h, pb+48, 8), blen-28) AS INT))) AS packet_data
          FROM recs WHERE rtype = 2),
        xd AS (SELECT fname, idx, rtype,
            h2i(h, pb+16, 8) AS sensor_id, h2i(h, pb+24, 8) AS event_id,
            h2i(h, pb+32, 8) AS event_second,
            h2i(h, pb+40, 8) AS extra_type, h2i(h, pb+48, 8) AS extra_data_type,
            lower(substr(h, CAST(pb+64 AS INT),
              CAST(2*LEAST(h2i(h, pb+56, 8), blen-32) AS INT))) AS extra_blob
          FROM recs WHERE rtype = 110),
        other AS (SELECT fname, idx, rtype FROM recs
          WHERE rtype NOT IN (7, 72, 104, 105, 2, 110)),
        allr AS (
          SELECT fname, idx, rtype, sensor_id, event_id, event_second,
              event_microsecond, signature_id, generator_id, signature_revision,
              classification_id, priority_id, ip_source, ip_destination,
              sport_itype, dport_icode, protocol, impact_flag, blocked,
              mpls_label, vlan_id,
              NULL AS packet_second, NULL AS packet_microsecond, NULL AS linktype,
              NULL AS packet_data, NULL AS extra_type, NULL AS extra_data_type,
              NULL AS extra_blob
            FROM ev2
          UNION ALL BY NAME
          SELECT fname, idx, rtype, sensor_id, event_id, event_second,
              packet_second, packet_microsecond, linktype, packet_data
            FROM pk
          UNION ALL BY NAME
          SELECT fname, idx, rtype, sensor_id, event_id, event_second,
              extra_type, extra_data_type, extra_blob
            FROM xd
          UNION ALL BY NAME
          SELECT fname, idx, rtype FROM other)
        SELECT m.src_file, CAST(a.idx AS INT) AS rec_index,
          CAST(a.rtype AS INT) AS rec_type,
          a.sensor_id, a.event_id, a.event_second,
          a.event_microsecond, a.signature_id, a.generator_id,
          a.signature_revision, a.classification_id, a.priority_id,
          a.ip_source, a.ip_destination,
          CAST(a.sport_itype AS INT) AS sport_itype,
          CAST(a.dport_icode AS INT) AS dport_icode,
          CAST(a.protocol AS INT) AS protocol,
          CAST(a.impact_flag AS INT) AS impact_flag,
          CAST(a.blocked AS INT) AS blocked,
          a.mpls_label, CAST(a.vlan_id AS INT) AS vlan_id,
          a.packet_second, a.packet_microsecond, a.linktype, a.packet_data,
          a.extra_type, a.extra_data_type, a.extra_blob,
          'sensor1' AS sensor
        FROM allr a JOIN fmap m USING (fname)
        ORDER BY m.src_file, rec_index""")),

    Entry("u2_events", (s, _) => {
      Unified2.alerts(fixtureRecords(s))
        .select(col("sensor"), col("sensor_id"), col("event_id"),
          col("event_second"), col("event_microsecond"), col("event_ts"),
          col("signature_id"), col("generator_id"), col("signature_revision"),
          col("classification_id"), col("priority_id"),
          Net.ipToString(col("ip_source")).as("src_ip"),
          Net.ipToString(col("ip_destination")).as("dst_ip"),
          col("sport_itype"), col("dport_icode"), col("protocol"),
          size(col("packets")).as("n_packets"),
          size(col("extra")).as("n_extra"))
        .orderBy(col("event_id"))
    },
      // the assembly is what's re-derived: packet/extra records group
      // on the same 5-part key and LEFT-join back (absent → NULL, the
      // size(NULL) semantics); scalar event fields pass through the
      // base dump
      Some(s"""WITH b AS (SELECT * FROM
            read_parquet('$oracleBaseDir/alerts_base/*.parquet')),
          r AS (SELECT * FROM
            read_parquet('$oracleBaseDir/records_base/*.parquet')),
          pk AS (SELECT sensor, src_file, sensor_id, event_id,
              event_second, CAST(COUNT(*) AS INT) AS n_packets
            FROM r WHERE rec_type = 2 GROUP BY ALL),
          xd AS (SELECT sensor, src_file, sensor_id, event_id,
              event_second, CAST(COUNT(*) AS INT) AS n_extra
            FROM r WHERE rec_type = 110 GROUP BY ALL)
        SELECT b.sensor, b.sensor_id, b.event_id, b.event_second,
          b.event_microsecond, b.event_ts, b.signature_id,
          b.generator_id, b.signature_revision, b.classification_id,
          b.priority_id, b.src_ip, b.dst_ip, b.sport_itype,
          b.dport_icode, b.protocol, pk.n_packets, xd.n_extra
        FROM b
        LEFT JOIN pk USING (sensor, src_file, sensor_id, event_id,
          event_second)
        LEFT JOIN xd USING (sensor, src_file, sensor_id, event_id,
          event_second)
        ORDER BY b.event_id""")),

    Entry("sigmap_parse", (s, _) => {
      val (sid, _, _) = Unified2Fixture.writeMaps(
        s"${Unified2Fixture.defaultRoot()}/maps")
      // refs is array<string> in the library API; the verify harness
      // compares flat columns, so render it as a csv column here.
      Maps.sigMap(s, sid)
        .withColumn("refs", array_join(col("refs"), ","))
        .orderBy(col("sid"))
    },
      // the sid-msg.map parser re-implemented in SQL over a
      // byte-identical copy of the raw file: comment/blank filter,
      // '||' split + trim, digit guard, implicit gid 1, csv'd refs
      Some(s"""WITH ${mapPartsCtes("sid-msg.map")},
          v AS (SELECT parts FROM p WHERE len(parts) >= 2
            AND regexp_full_match(parts[1], '[0-9]+'))
        SELECT CAST(1 AS BIGINT) AS gid, CAST(parts[1] AS BIGINT) AS sid,
          parts[2] AS msg,
          COALESCE(array_to_string(parts[3:], ','), '') AS refs
        FROM v ORDER BY sid""")),

    Entry("genmap_parse", (s, _) => {
      val (_, gen, _) = Unified2Fixture.writeMaps(
        s"${Unified2Fixture.defaultRoot()}/maps")
      Maps.genMap(s, gen).orderBy(col("gid"), col("sid"))
    },
      Some(s"""WITH ${mapPartsCtes("gen-msg.map")},
          v AS (SELECT parts FROM p WHERE len(parts) >= 3
            AND regexp_full_match(parts[1], '[0-9]+')
            AND regexp_full_match(parts[2], '[0-9]+'))
        SELECT CAST(parts[1] AS BIGINT) AS gid,
          CAST(parts[2] AS BIGINT) AS sid, parts[3] AS msg
        FROM v ORDER BY gid, sid""")),

    Entry("classmap_parse", (s, _) => {
      val (_, _, cls) = Unified2Fixture.writeMaps(
        s"${Unified2Fixture.defaultRoot()}/maps")
      Maps.classMap(s, cls).orderBy(col("class_id"))
    },
      // the 1-based ordinal id is line order among matching lines —
      // parallel unnest zips (line, index) so the SQL keeps file order
      Some(s"""WITH c AS (SELECT string_split(content, chr(10)) AS ls
            FROM read_text('$oracleBaseDir/raw/classification.config')),
          num AS (SELECT unnest(ls) AS rawline,
            unnest(range(1, len(ls)+1)) AS i FROM c),
          f AS (SELECT i, trim(rawline) AS line FROM num
            WHERE starts_with(lower(trim(rawline)),
              'config classification:')),
          o AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY i) AS BIGINT)
              AS class_id,
            list_transform(string_split(
              substring(line, len('config classification:')+1), ','),
              x -> trim(x)) AS parts
          FROM f)
        SELECT class_id, parts[1] AS class_name, parts[2] AS class_desc,
          CAST(parts[3] AS BIGINT) AS class_priority
        FROM o WHERE len(parts) >= 3
          AND regexp_full_match(parts[3], '[0-9]+') ORDER BY class_id""")),

    Entry("sig_enrich", (s, _) => {
      fixtureAlerts(s)
        .select(col("event_id"), col("generator_id"), col("signature_id"),
          col("sig_msg"), col("sig_rev"), col("sig_priority"))
        .orderBy(col("event_id"))
    },
      // re-derives the reference's fallback semantics (Unknown Alert
      // g:s / rev 0 / priority 10 on unmapped sigs) from the dumped
      // pre-enrichment base + sid/gen maps
      Some(s"""WITH $baseSigCtes
        SELECT b.event_id, b.generator_id, b.signature_id,
          $sigFallbackCols
        FROM b LEFT JOIN m
          ON b.generator_id = m.gid AND b.signature_id = m.sid
        ORDER BY b.event_id""")),

    Entry("class_enrich", (s, _) => {
      fixtureAlerts(s)
        .select(col("event_id"), col("classification_id"), col("class_name"))
        .orderBy(col("event_id"))
    },
      Some(s"""SELECT b.event_id, b.classification_id,
          COALESCE(c.class_name, 'unknown-classification') AS class_name
        FROM read_parquet('$oracleBaseDir/alerts_base/*.parquet') b
        LEFT JOIN read_parquet('$oracleBaseDir/classmap/*.parquet') c
          ON b.classification_id = c.class_id
        ORDER BY b.event_id""")),

    Entry("packet_decode", (s, _) => {
      fixtureRecords(s)
        .filter(col("rec_type") === Unified2.Packet)
        .withColumn("d", DecodePacket.column(col("packet_data")))
        .select(col("event_id"), col("rec_index"), col("d.*"))
        .withColumn("payload_hex", Net.hexlify(col("payload")))
        .drop("payload")
        .orderBy(col("event_id"), col("rec_index"))
    },
      // the ENTIRE decode re-implemented in SQL over the raw frame hex
      // (h2i macro = positional nibble fold): VLAN skip, IPv4 options
      // via ihl, IPv6 fixed header, TCP data-offset skip, the icmp
      // id/seq families, and the payload-start arithmetic — every
      // guard mirrors DecodePacket's early returns, so absent layers
      // are NULL on both sides
      Some(s"""${OracleDumps.H2iMacro}
        WITH p0 AS (SELECT event_id, rec_index, h, len(h) // 2 AS nb
            FROM read_parquet('$oracleBaseDir/packets_raw/*.parquet')),
        e0 AS (SELECT *, CASE WHEN nb >= 14 THEN h2i(h, 25, 4) END AS et0 FROM p0),
        e1 AS (SELECT *,
            CASE WHEN et0 = 33024 AND nb >= 18 THEN h2i(h, 33, 4) ELSE et0 END AS eth_type,
            CASE WHEN et0 = 33024 AND nb >= 18 THEN h2i(h, 29, 4) % 4096 END AS vlan,
            CASE WHEN et0 = 33024 AND nb >= 18 THEN 18 ELSE 14 END AS ib
          FROM e0),
        -- ip layer: ib = IP header start byte; guards replicate the early returns
        i0 AS (SELECT *,
            CASE WHEN eth_type = 2048 AND nb - ib >= 20 THEN 4
                 WHEN eth_type = 34525 AND nb - ib >= 40 THEN 6 END AS fam,
            2 * ib + 1 AS ps
          FROM e1),
        i1 AS (SELECT *,
            CASE WHEN fam = 4 THEN h2i(h, ps, 2) // 16
                 WHEN fam = 6 THEN h2i(h, ps, 8) // 268435456 END AS ip_ver,
            CASE WHEN fam = 4 THEN h2i(h, ps, 2) % 16 END AS ip_hlen,
            CASE WHEN fam = 4 THEN h2i(h, ps + 2, 2)
                 WHEN fam = 6 THEN (h2i(h, ps, 8) // 1048576) % 256 END AS ip_tos,
            CASE WHEN fam = 4 THEN h2i(h, ps + 4, 4)
                 WHEN fam = 6 THEN h2i(h, ps + 8, 4) END AS ip_len,
            CASE WHEN fam = 4 THEN h2i(h, ps + 8, 4) END AS ip_id,
            CASE WHEN fam = 4 THEN h2i(h, ps + 12, 4) // 8192 END AS ip_flags,
            CASE WHEN fam = 4 THEN h2i(h, ps + 12, 4) % 8192 END AS ip_off,
            CASE WHEN fam = 4 THEN h2i(h, ps + 16, 2)
                 WHEN fam = 6 THEN h2i(h, ps + 14, 2) END AS ip_ttl,
            CASE WHEN fam = 4 THEN h2i(h, ps + 18, 2)
                 WHEN fam = 6 THEN h2i(h, ps + 12, 2) END AS ip_proto,
            CASE WHEN fam = 4 THEN h2i(h, ps + 20, 4) END AS ip_csum,
            CASE WHEN fam = 4 THEN
                h2i(h, ps + 24, 2) || '.' || h2i(h, ps + 26, 2) || '.' ||
                h2i(h, ps + 28, 2) || '.' || h2i(h, ps + 30, 2)
              WHEN fam = 6 THEN array_to_string(list_transform(range(0, 8),
                g -> format('{:x}', h2i(h, ps + 16 + 4 * g, 4))), ':') END AS ip_src,
            CASE WHEN fam = 4 THEN
                h2i(h, ps + 32, 2) || '.' || h2i(h, ps + 34, 2) || '.' ||
                h2i(h, ps + 36, 2) || '.' || h2i(h, ps + 38, 2)
              WHEN fam = 6 THEN array_to_string(list_transform(range(0, 8),
                g -> format('{:x}', h2i(h, ps + 48 + 4 * g, 4))), ':') END AS ip_dst,
            CASE WHEN fam = 4 AND h2i(h, ps, 2) % 16 < 5 THEN nb
                 WHEN fam = 4 THEN ib + (h2i(h, ps, 2) % 16) * 4
                 WHEN fam = 6 THEN ib + 40 END AS lb
          FROM i0),
        -- l4 layer: lb = start byte; pl = char pos; guards mirror the match cases
        l0 AS (SELECT *, 2 * lb + 1 AS pl, nb - lb AS lrem,
            CASE WHEN fam IS NULL THEN NULL
                 WHEN ip_proto = 6  AND nb - lb >= 20 THEN 'tcp'
                 WHEN ip_proto = 17 AND nb - lb >= 8  THEN 'udp'
                 WHEN ip_proto IN (1, 58) AND nb - lb >= 4 THEN 'icmp'
                 ELSE 'raw' END AS l4
          FROM i1),
        l1 AS (SELECT *,
            CASE WHEN l4 = 'tcp' THEN h2i(h, pl, 4)
                 WHEN l4 = 'udp' THEN h2i(h, pl, 4) END AS sport,
            CASE WHEN l4 = 'tcp' THEN h2i(h, pl + 4, 4)
                 WHEN l4 = 'udp' THEN h2i(h, pl + 4, 4) END AS dport,
            CASE WHEN l4 = 'tcp' THEN h2i(h, pl + 8, 8) END AS tcp_seq,
            CASE WHEN l4 = 'tcp' THEN h2i(h, pl + 16, 8) END AS tcp_ack,
            CASE WHEN l4 = 'tcp' THEN h2i(h, pl + 24, 2) // 16 END AS tcp_off,
            CASE WHEN l4 = 'tcp' THEN h2i(h, pl + 26, 2) END AS tcp_flags,
            CASE WHEN l4 = 'tcp' THEN h2i(h, pl + 28, 4) END AS tcp_win,
            CASE WHEN l4 = 'tcp' THEN h2i(h, pl + 32, 4) END AS tcp_csum,
            CASE WHEN l4 = 'tcp' THEN h2i(h, pl + 36, 4) END AS tcp_urp,
            CASE WHEN l4 = 'udp' THEN h2i(h, pl + 8, 4) END AS udp_len,
            CASE WHEN l4 = 'udp' THEN h2i(h, pl + 12, 4) END AS udp_csum,
            CASE WHEN l4 = 'icmp' THEN h2i(h, pl, 2) END AS icmp_type,
            CASE WHEN l4 = 'icmp' THEN h2i(h, pl + 2, 2) END AS icmp_code,
            CASE WHEN l4 = 'icmp' THEN h2i(h, pl + 4, 4) END AS icmp_csum
          FROM l0),
        l2 AS (SELECT *,
            CASE WHEN l4 = 'icmp' AND icmp_type IN (0, 8, 13, 14, 17, 18)
                  AND lrem - 4 >= 4 THEN h2i(h, pl + 8, 4) END AS icmp_id,
            CASE WHEN l4 = 'icmp' AND icmp_type IN (0, 8, 13, 14, 17, 18)
                  AND lrem - 4 >= 4 THEN h2i(h, pl + 12, 4) END AS icmp_seq,
            CASE WHEN l4 = 'tcp' THEN
                   CASE WHEN (h2i(h, pl + 24, 2) // 16) * 4 - 20 > 0
                         AND lrem - 20 >= (h2i(h, pl + 24, 2) // 16) * 4 - 20
                        THEN lb + (h2i(h, pl + 24, 2) // 16) * 4 ELSE lb + 20 END
                 WHEN l4 = 'udp' THEN lb + 8
                 WHEN l4 = 'icmp' THEN
                   CASE WHEN icmp_type IN (0, 8, 13, 14, 17, 18) AND lrem - 4 >= 4
                        THEN lb + 8 ELSE lb + 4 END
                 WHEN l4 = 'raw' THEN lb END AS pb
          FROM l1)
        SELECT event_id, rec_index,
          CAST(eth_type AS INT) AS eth_type, CAST(vlan AS INT) AS vlan,
          CAST(ip_ver AS INT) AS ip_ver, CAST(ip_hlen AS INT) AS ip_hlen,
          CAST(ip_tos AS INT) AS ip_tos, CAST(ip_len AS INT) AS ip_len,
          CAST(ip_id AS INT) AS ip_id, CAST(ip_flags AS INT) AS ip_flags,
          CAST(ip_off AS INT) AS ip_off, CAST(ip_ttl AS INT) AS ip_ttl,
          CAST(ip_proto AS INT) AS ip_proto, CAST(ip_csum AS INT) AS ip_csum,
          ip_src, ip_dst,
          CAST(sport AS INT) AS sport, CAST(dport AS INT) AS dport,
          CAST(tcp_seq AS BIGINT) AS tcp_seq, CAST(tcp_ack AS BIGINT) AS tcp_ack,
          CAST(tcp_off AS INT) AS tcp_off, CAST(tcp_flags AS INT) AS tcp_flags,
          CAST(tcp_win AS INT) AS tcp_win, CAST(tcp_csum AS INT) AS tcp_csum,
          CAST(tcp_urp AS INT) AS tcp_urp, CAST(udp_len AS INT) AS udp_len,
          CAST(udp_csum AS INT) AS udp_csum, CAST(icmp_type AS INT) AS icmp_type,
          CAST(icmp_code AS INT) AS icmp_code, CAST(icmp_csum AS INT) AS icmp_csum,
          CAST(icmp_id AS INT) AS icmp_id, CAST(icmp_seq AS INT) AS icmp_seq,
          CASE WHEN pb IS NOT NULL THEN lower(substr(h, 2 * pb + 1)) END AS payload_hex
        FROM l2 ORDER BY event_id, rec_index""")),

    Entry("star_normalize", (s, _) => {
      val star = SnortStar.normalize(fixtureAlerts(s))
      star("event").orderBy(col("sid"), col("cid"))
    },
      // the distributed (sid, cid) assignment re-derived in SQL: the
      // same two-level windows (per-file local prefix sum + per-sensor
      // file-base prefix sum), slot expansion via unnest(range), dim
      // surrogate keys, and the Snorby timestamp rendering
      Some(s"""WITH $baseSigCtes,
          r AS (SELECT * FROM
            read_parquet('$oracleBaseDir/records_base/*.parquet')),
          $enrichedEventCtes,
          ${cidWindowCtes("b")},
          $eventFactSql""")),

    Entry("u2_extra", (s, _) => {
      // typed EXTRA_DATA rendering (public unified2 spec type ids —
      // snort EventExtraData; the reference only prints the raw dict,
      // __init__.py:322): IP payload types render dotted-quad via the
      // native inet expression, text types render UTF-8 — giving the
      // analyst columns, not blobs.
      val typeNames = typedLit(Map(
        1 -> "xff_ipv4", 2 -> "xff_ipv6", 4 -> "http_uri",
        5 -> "http_hostname", 6 -> "gzip_data", 7 -> "smtp_filename",
        8 -> "smtp_mail_from", 9 -> "smtp_rcpt_to",
        10 -> "smtp_headers", 11 -> "src_ipv6", 12 -> "dst_ipv6",
        13 -> "normalized_js"))
      val spool = Unified2Fixture.writeSpool(
        s"${Unified2Fixture.defaultRoot()}/spool")
      graft.sources.Unified2
        .records(s, Seq(spool), "snort.log", "sensor1")
        .filter(col("rec_type") === graft.sources.Unified2.ExtraData)
        .select(col("sensor"), col("event_id"), col("event_second"),
          col("extra_type").cast("int").as("extra_type"),
          coalesce(typeNames(col("extra_type").cast("int")),
            lit("unknown")).as("type_name"),
          when(col("extra_type") === 1,
              // IPv4 payload → dotted quad (4-byte blob fits a long)
              Net.inet_ntoa(conv(hex(col("extra_blob")), 16, 10)
                .cast("long")))
            .when(col("extra_type").isin(2, 11, 12),
              // IPv6 payload → RFC 5952; malformed lengths fall back
              // to inspectable hex
              coalesce(Net.inet6_ntoa(col("extra_blob")),
                lower(hex(col("extra_blob")))))
            .otherwise(col("extra_blob").cast("string"))
            .as("value_text"))
        .orderBy(col("event_id"), col("extra_type"))
    },
      // the framing walk + EXTRA_DATA field extraction re-used from
      // the u2_parse oracle, plus the type dispatch and rendering in
      // SQL: ipv4 as per-byte dotted quad, text as UTF-8 decode. The
      // RFC 5952 ipv6 branch renders as raw hex here — the fixture
      // has no ipv6 extra record, so IF one is ever added the oracle
      // MISMATCHES loudly instead of silently skipping it (that
      // branch is proven directly by Inet6Spec).
      Some(s"""${OracleDumps.H2iMacro}
        WITH RECURSIVE
        f AS (SELECT hex(content) AS h,
            CAST(octet_length(content) AS BIGINT) AS nb
          FROM read_blob('$oracleBaseDir/raw_spool/*')),
        walk AS (
          SELECT h, nb, CAST(0 AS BIGINT) AS off, CAST(-1 AS BIGINT) AS idx,
              CAST(NULL AS BIGINT) AS rtype, CAST(NULL AS BIGINT) AS boff,
              CAST(NULL AS BIGINT) AS blen
            FROM f
          UNION ALL
          SELECT h, nb, off + 8 + h2i(h, 2*(off+4)+1, 8), idx + 1,
              h2i(h, 2*off+1, 8), off + 8, h2i(h, 2*(off+4)+1, 8)
            FROM walk
            WHERE nb - off >= 8
              AND h2i(h, 2*(off+4)+1, 8) < 2147483648
              AND nb - off - 8 >= h2i(h, 2*(off+4)+1, 8)),
        xd AS (SELECT h, 2*boff+1 AS pb, blen,
            h2i(h, 2*boff+1+24, 8) AS event_id,
            h2i(h, 2*boff+1+32, 8) AS event_second,
            h2i(h, 2*boff+1+40, 8) AS extra_type,
            lower(substr(h, CAST(2*boff+1+64 AS INT),
              CAST(2*LEAST(h2i(h, 2*boff+1+56, 8), blen-32) AS INT)))
              AS bh
          FROM walk WHERE idx >= 0 AND rtype = 110)
        SELECT 'sensor1' AS sensor, event_id, event_second,
          CAST(extra_type AS INT) AS extra_type,
          CASE extra_type WHEN 1 THEN 'xff_ipv4' WHEN 2 THEN 'xff_ipv6'
            WHEN 4 THEN 'http_uri' WHEN 5 THEN 'http_hostname'
            WHEN 6 THEN 'gzip_data' WHEN 7 THEN 'smtp_filename'
            WHEN 8 THEN 'smtp_mail_from' WHEN 9 THEN 'smtp_rcpt_to'
            WHEN 10 THEN 'smtp_headers' WHEN 11 THEN 'src_ipv6'
            WHEN 12 THEN 'dst_ipv6' WHEN 13 THEN 'normalized_js'
            ELSE 'unknown' END AS type_name,
          CASE WHEN extra_type = 1 THEN
              CAST(h2i(bh, 1, 2) AS VARCHAR) || '.' ||
              CAST(h2i(bh, 3, 2) AS VARCHAR) || '.' ||
              CAST(h2i(bh, 5, 2) AS VARCHAR) || '.' ||
              CAST(h2i(bh, 7, 2) AS VARCHAR)
            WHEN extra_type IN (2, 11, 12) THEN bh
            ELSE decode(unhex(bh)) END AS value_text
        FROM xd ORDER BY event_id, extra_type""")),

    Entry("star_report", (s, _) => {
      // the Snorby-style dashboard rollup over the NORMALIZED star:
      // per-signature event counts + distinct talker counts, events ⋈
      // signature dim (broadcast) ⋈ iphdr — proves the star output is
      // directly queryable, dims line up by surrogate key, and packet
      // slots carry the decoded addresses through.
      val star = SnortStar.normalize(fixtureAlerts(s))
      star("event")
        .join(broadcast(star("signature")),
          col("signature") === col("sig_id"))
        .join(star("iphdr"), Seq("sid", "cid"), "left")
        .groupBy(col("s_gid"), col("s_sid"), col("s_msg"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("ip_src")).as("n_src"),
          countDistinct(col("ip_dst")).as("n_dst"))
        .orderBy(col("s_gid"), col("s_sid"))
    },
      // the full star pipeline re-derived: cid windows + slot ranks
      // (row_number over rec_index = the sort_array pairing), iphdr's
      // inet_aton as split-arithmetic, then the dashboard joins +
      // distinct-talker rollup; only the binary packet decode passes
      // through (dumped as decoded address strings, spec-tested)
      Some(s"""WITH $baseSigCtes,
          r AS (SELECT * FROM
            read_parquet('$oracleBaseDir/records_base/*.parquet')),
          pd AS (SELECT * FROM
            read_parquet('$oracleBaseDir/packets_decoded/*.parquet')),
          $enrichedEventCtes,
          ${cidWindowCtes("b")},
          ev0 AS (SELECT sd.sensor_sid AS sid, wc.cid_base,
              wc.generator_id, wc.signature_id, wc.sig_rev,
              wc.classification_id, wc.sig_priority, wc.sig_msg,
              unnest(range(0, wc.n_pkts)) AS slot
            FROM wc JOIN sd USING (sensor)),
          ev AS (SELECT sid, cid_base + slot AS cid, g2.sig_id,
              g2.s_gid, g2.s_sid, g2.s_msg
            FROM ev0 JOIN g2 ON ev0.generator_id = g2.s_gid
              AND ev0.signature_id = g2.s_sid
              AND ev0.sig_rev = g2.s_rev
              AND ev0.classification_id = g2.s_class_id
              AND ev0.sig_priority = g2.s_priority
              AND ev0.sig_msg = g2.s_msg),
          ps AS (SELECT sensor, src_file, sensor_id, event_id,
              event_second, rec_index,
              CAST(ROW_NUMBER() OVER (PARTITION BY sensor, src_file,
                sensor_id, event_id, event_second ORDER BY rec_index)
                AS BIGINT) - 1 AS slot
            FROM r WHERE rec_type = 2),
          iph AS (SELECT sd.sensor_sid AS sid,
              wc.cid_base + ps.slot AS cid,
              CAST(string_split(pd.ip_src, '.')[1] AS BIGINT)*16777216
                + CAST(string_split(pd.ip_src, '.')[2] AS BIGINT)*65536
                + CAST(string_split(pd.ip_src, '.')[3] AS BIGINT)*256
                + CAST(string_split(pd.ip_src, '.')[4] AS BIGINT)
                AS ip_src,
              CAST(string_split(pd.ip_dst, '.')[1] AS BIGINT)*16777216
                + CAST(string_split(pd.ip_dst, '.')[2] AS BIGINT)*65536
                + CAST(string_split(pd.ip_dst, '.')[3] AS BIGINT)*256
                + CAST(string_split(pd.ip_dst, '.')[4] AS BIGINT)
                AS ip_dst
            FROM ps
            JOIN pd USING (sensor, src_file, rec_index, sensor_id,
              event_id, event_second)
            JOIN wc USING (sensor, src_file, sensor_id, event_id,
              event_second)
            JOIN sd USING (sensor)
            WHERE pd.ip_ver = 4)
        SELECT ev.s_gid, ev.s_sid, ev.s_msg,
          COUNT(*) AS n_events,
          COUNT(DISTINCT iph.ip_src) AS n_src,
          COUNT(DISTINCT iph.ip_dst) AS n_dst
        FROM ev LEFT JOIN iph USING (sid, cid)
        GROUP BY ALL ORDER BY ev.s_gid, ev.s_sid""")),

    Entry("sensor_dim", (s, _) => {
      SnortStar.sensors(fixtureAlerts(s)).orderBy(col("sensor_sid"))
    },
      Some(s"""SELECT sensor,
          CAST(DENSE_RANK() OVER (ORDER BY sensor) AS BIGINT)
            AS sensor_sid,
          'charlotte' AS interface
        FROM (SELECT DISTINCT sensor FROM
          read_parquet('$oracleBaseDir/alerts_base/*.parquet'))
        ORDER BY sensor_sid""")),

    Entry("signature_dim", (s, _) => {
      SnortStar.signatures(fixtureAlerts(s)).orderBy(col("sig_id"))
    },
      // the full signature-uniqueness key (incl. class + priority, the
      // reference's upsert key) re-derived: enrichment fallbacks from
      // the maps, then DISTINCT + dense_rank surrogate keys in SQL
      Some(s"""WITH $baseSigCtes,
          e AS (SELECT DISTINCT
            b.generator_id AS s_gid, b.signature_id AS s_sid,
            CASE WHEN m.sid IS NULL THEN 0
              ELSE COALESCE(b.signature_revision, 1) END AS s_rev,
            b.classification_id AS s_class_id,
            CASE WHEN m.sid IS NULL THEN 10
              ELSE b.priority_id END AS s_priority,
            COALESCE(m.msg, 'Unknown Alert ' ||
              CAST(b.generator_id AS VARCHAR) || ':' ||
              CAST(b.signature_id AS VARCHAR)) AS s_msg
          FROM b LEFT JOIN m
            ON b.generator_id = m.gid AND b.signature_id = m.sid)
        SELECT s_gid, s_sid, s_rev, s_class_id, s_priority, s_msg,
          CAST(DENSE_RANK() OVER (ORDER BY s_gid, s_sid, s_rev,
            s_class_id, s_priority, s_msg) AS BIGINT) AS sig_id
        FROM e ORDER BY sig_id""")),

    Entry("u2_text", (s, _) => {
      SnortStar.textFormat(fixtureAlerts(s)).orderBy(col("event_id"))
    },
      // the u2fast one-line rendering assembled independently in SQL:
      // enrichment fallbacks, timestamp/microsecond formatting,
      // protocol names, and the full bracket layout
      Some(s"""WITH $baseSigCtes,
          c AS (SELECT * FROM
            read_parquet('$oracleBaseDir/classmap/*.parquet')),
          e AS (SELECT b.*, $sigFallbackCols,
            COALESCE(c.class_name, 'unknown-classification')
              AS class_name
          FROM b LEFT JOIN m
            ON b.generator_id = m.gid AND b.signature_id = m.sid
          LEFT JOIN c ON b.classification_id = c.class_id)
        SELECT sensor, event_id,
          strftime(event_ts, '%m/%d-%H:%M:%S.') ||
          lpad(CAST(event_microsecond AS VARCHAR), 6, '0') ||
          '  [**] [' || CAST(generator_id AS VARCHAR) || ':' ||
          CAST(signature_id AS VARCHAR) || ':' ||
          CAST(sig_rev AS VARCHAR) || '] ' || sig_msg ||
          ' [**] [Classification: ' || class_name ||
          '] [Priority: ' || CAST(sig_priority AS VARCHAR) || '] {' ||
          CASE WHEN protocol = 6 THEN 'TCP'
               WHEN protocol = 17 THEN 'UDP'
               WHEN protocol = 1 THEN 'ICMP'
               ELSE CAST(protocol AS VARCHAR) END || '} ' ||
          src_ip || ':' || CAST(sport_itype AS VARCHAR) || ' -> ' ||
          dst_ip || ':' || CAST(dport_icode AS VARCHAR) AS line
        FROM e ORDER BY event_id""")),

    Entry(
      "u2_bulk_ingest",
      // Ingest throughput benchmark: 60k alerts (event+packet) across
      // 16 spool files through the FULL pipeline — parse, assembly,
      // map enrichment, star-schema cid assignment — returning the
      // event fact table. This is the reference's entire job measured
      // end-to-end; parse parallelism is one task per file.
      (s, _) =>
        SnortStar.normalize(Scratch.reg(bulkAlerts(s)))("event")
          .orderBy(col("sid"), col("cid")),
      // star_normalize's SQL window re-derivation (two-level cid prefix
      // sums, dense-rank dim keys, slot expansion, Snorby timestamp
      // render) applied to the 60k-alert bulk dump.
      Some(s"""WITH e AS (SELECT * FROM
            read_parquet('$oracleBaseDir/bulk_alerts/*.parquet')),
          ${cidWindowCtes("e")},
          $eventFactSql""")),

    Entry(
      "inet_cidr_enrich",
      // CIDR-range enrichment (the threat-intel / RFC1918 tagging every
      // IDS pipeline does): synthetic u32 addresses left-joined to a
      // CIDR dimension. Scale pattern: each CIDR (prefix >= 8 here)
      // covers exactly one /8 bin, so the join is an EQUI join on the
      // bin plus a residual range filter — broadcast hash join, never
      // a nested loop over the fact table. (A prefix < 8 would explode
      // into its covering /8 bins — same topology as q37's banded
      // range join.) Non-matching addresses tag as 'public'.
      (s, dir) => {
        import s.implicits._
        val cidrs = Seq(
          (167772160L, 184549375L, "rfc1918-a"),    // 10.0.0.0/8
          (2886729728L, 2887778303L, "rfc1918-b"),  // 172.16.0.0/12
          (3232235520L, 3232301055L, "rfc1918-c"),  // 192.168.0.0/16
          (134744064L, 134744319L, "dns-google"))   // 8.8.8.0/24
          .toDF("net_start", "net_end", "net_name")
          .withColumn("bin", shiftright(col("net_start"), 24))
        val ips = Tables.t(s, dir, "lineitem")
          .filter(col("l_linenumber") === 1)
          .withColumn("x", ((col("l_orderkey") % 2147483648L) * 2654435761L)
            % 4294967296L)
          .withColumn("bin", shiftright(col("x"), 24))
        ips.join(broadcast(cidrs),
            ips("bin") === cidrs("bin") &&
              col("x").between(col("net_start"), col("net_end")),
            "left")
          .select(col("l_orderkey"), Net.inet_ntoa(col("x")).as("ip"),
            coalesce(col("net_name"), lit("public")).as("net_name"))
          .orderBy(col("l_orderkey"))
      },
      Some("""SELECT l_orderkey,
          CAST(x // 16777216 % 256 AS VARCHAR) || '.' ||
            CAST(x // 65536 % 256 AS VARCHAR) || '.' ||
            CAST(x // 256 % 256 AS VARCHAR) || '.' ||
            CAST(x % 256 AS VARCHAR) AS ip,
          COALESCE(d.net_name, 'public') AS net_name
        FROM (SELECT l_orderkey,
            ((l_orderkey % 2147483648) * 2654435761) % 4294967296 AS x
          FROM lineitem WHERE l_linenumber = 1) p
        LEFT JOIN (VALUES
            (167772160, 184549375, 'rfc1918-a'),
            (2886729728, 2887778303, 'rfc1918-b'),
            (3232235520, 3232301055, 'rfc1918-c'),
            (134744064, 134744319, 'dns-google'))
          d(net_start, net_end, net_name)
          ON p.x BETWEEN d.net_start AND d.net_end
        ORDER BY l_orderkey""")),

    Entry(
      "inet_funcs",
      // inet_ntoa/inet_aton roundtrip over synthetic u32 addresses
      // derived from lineitem keys — DuckDB-oracled.
      (s, dir) =>
        Tables.t(s, dir, "lineitem")
          .filter(col("l_linenumber") === 1)
          .withColumn("x", ((col("l_orderkey") % 2147483648L) * 2654435761L)
            % 4294967296L)
          .withColumn("ip", Net.inet_ntoa(col("x")))
          .withColumn("rt", Net.inet_aton(col("ip")))
          .select(col("l_orderkey"), col("x"), col("ip"), col("rt"))
          .orderBy(col("l_orderkey")),
      Some("""SELECT l_orderkey, x,
        CAST(x // 16777216 % 256 AS VARCHAR) || '.' ||
          CAST(x // 65536 % 256 AS VARCHAR) || '.' ||
          CAST(x // 256 % 256 AS VARCHAR) || '.' ||
          CAST(x % 256 AS VARCHAR) AS ip,
        x AS rt
        FROM (SELECT l_orderkey,
                ((l_orderkey % 2147483648) * 2654435761) % 4294967296 AS x
              FROM lineitem WHERE l_linenumber = 1)
        ORDER BY l_orderkey"""))
  )
}
