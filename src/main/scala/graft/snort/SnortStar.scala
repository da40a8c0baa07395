package graft.snort

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{DecodePacket, Net}
import graft.plans.GraftExtensions

/** Snorby-compatible star-schema normalization — the Spark-native form
  * of the reference's `DatabaseOutput._push_to_db`
  * (/root/reference/charlotte/__init__.py:463-611).
  *
  * Key translation: the reference assigns (sid, cid) with a driver-side
  * counter + DB round-trips per alert; here cid is a two-level window
  * running sum (per-file local rank, parallel + per-sensor prefix over
  * the tiny per-file totals, broadcast back) over the deterministic
  * file order — one shuffle on (sensor, file), no serial per-sensor
  * partition, no coordination, resumable (the per-file bases are the
  * equivalent of `get_next_alert_id`'s MAX(cid) probe). Dimensions
  * (sensor, signature, classification) are derived with dense_rank
  * instead of upsert round-trips.
  *
  * Like the reference, an alert with N>1 packets occupies N consecutive
  * cids (each packet row re-emits the event row, __init__.py:477-533).
  */
object SnortStar {

  /** Register `graft_decode_packet` ([[GraftExtensions.functions]]) for
    * SQL callers; graft's queries call [[DecodePacket.column]]. */
  def registerFunctions(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_decode_packet",
      GraftExtensions.functions("graft_decode_packet"), "scala_udf")

  /** All star tables from an assembled+enriched alert DataFrame
    * (Unified2.alerts → Maps.enrichSignatures → enrichClassifications).
    * Returns: sensor, signature, sig_class, event, iphdr, tcphdr,
    * udphdr, icmphdr, data.
    */
  def normalize(alerts: DataFrame): Map[String, DataFrame] = {
    val sensorDim = sensors(alerts)
    val sigDim = signatures(alerts)

    // cid assignment, two-level so no single window partition ever
    // holds a whole sensor's history (a sensor is ONE key — the naive
    // per-sensor running sum serializes 100 TB through one task):
    //   1. per-(sensor, file) local running sum — parallel across files;
    //   2. per-file totals (one row per FILE, KBs) prefix-summed per
    //      sensor and broadcast back.
    // cid = file_base + local_running + 1: identical to the flat
    // per-sensor running sum since files are ordered by name.
    val withPk = alerts
      .withColumn("n_pkts", greatest(coalesce(size(col("packets")), lit(0)), lit(1)))
    val wLocal = Window.partitionBy(col("sensor"), col("src_file"))
      .orderBy(col("rec_index"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wFile = Window.partitionBy(col("sensor")).orderBy(col("src_file"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val fileBases = withPk.groupBy(col("sensor"), col("src_file"))
      .agg(sum(col("n_pkts")).as("file_pkts"))
      .withColumn("file_base",
        coalesce(sum(col("file_pkts")).over(wFile), lit(0L)))
      .select(col("sensor"), col("src_file"), col("file_base"))
    val withCid = withPk
      .join(broadcast(fileBases), Seq("sensor", "src_file"))
      .withColumn("cid_base", col("file_base") +
        coalesce(sum(col("n_pkts")).over(wLocal), lit(0L)) + lit(1L))
      .join(broadcast(sensorDim), "sensor")
      // join on the FULL signature uniqueness key (incl. class and
      // priority) — the reference's signature upsert key; a partial
      // key fans out when one sid occurs with several priorities
      .join(broadcast(sigDim),
        col("generator_id") === col("s_gid") &&
          col("signature_id") === col("s_sid") &&
          col("sig_rev") === col("s_rev") &&
          col("classification_id") === col("s_class_id") &&
          col("sig_priority") === col("s_priority") &&
          col("sig_msg") === col("s_msg"))
      .withColumn("timestamp",
        date_format(to_utc_timestamp(col("event_ts"), "UTC"),
          "yyyy-MM-dd HH:mm:ss"))

    // one row per (alert, packet-slot): slot 0..n_pkts-1
    val slots = withCid
      .select(col("sensor_sid").as("sid"), col("cid_base"), col("sig_id"),
        col("timestamp"), col("n_pkts"),
        posexplode_outer(when(size(col("packets")) > 0, col("packets"))
          .otherwise(array(lit(null)))).as(Seq("slot", "pkt")))
      .withColumn("cid", col("cid_base") + col("slot"))

    val eventTbl = slots.select(col("sid"), col("cid"),
      col("sig_id").as("signature"), col("timestamp"))

    val dec = slots.filter(col("pkt").isNotNull)
      .withColumn("d", DecodePacket.column(col("pkt.packet_data")))
      .select(col("sid"), col("cid"), col("d.*"))

    val iphdr = dec.filter(col("ip_ver") === 4) // snorby iphdr stores u32 addresses
      .select(col("sid"), col("cid"),
        Net.inet_aton(col("ip_src")).as("ip_src"),
        Net.inet_aton(col("ip_dst")).as("ip_dst"),
        col("ip_ver"), col("ip_hlen"), col("ip_tos"), col("ip_len"),
        col("ip_id"), col("ip_flags"), col("ip_off"), col("ip_ttl"),
        col("ip_proto"), col("ip_csum"))

    val tcphdr = dec.filter(col("ip_proto") === 6 && col("sport").isNotNull)
      .select(col("sid"), col("cid"),
        col("sport").as("tcp_sport"), col("dport").as("tcp_dport"),
        col("tcp_seq"), col("tcp_ack"), col("tcp_off"),
        lit(0).as("tcp_res"), col("tcp_flags"), col("tcp_win"),
        col("tcp_csum"), col("tcp_urp"))

    val udphdr = dec.filter(col("ip_proto") === 17 && col("sport").isNotNull)
      .select(col("sid"), col("cid"),
        col("sport").as("udp_sport"), col("dport").as("udp_dport"),
        col("udp_len"), col("udp_csum"))

    val icmphdr = dec.filter(col("icmp_type").isNotNull)
      .select(col("sid"), col("cid"), col("icmp_type"), col("icmp_code"),
        col("icmp_csum"), col("icmp_id"), col("icmp_seq"))

    val dataTbl = dec.filter(col("payload").isNotNull && length(col("payload")) > 0)
      .select(col("sid"), col("cid"),
        Net.hexlify(col("payload")).as("data_payload"))

    Map("sensor" -> sensorDim, "signature" -> sigDim,
      "sig_class" -> sigClasses(alerts),
      "event" -> eventTbl, "iphdr" -> iphdr, "tcphdr" -> tcphdr,
      "udphdr" -> udphdr, "icmphdr" -> icmphdr, "data" -> dataTbl)
  }

  /** Sensor dimension: stable ids by name (the reference's sensor-table
    * upsert keyed on hostname+'charlotte', __init__.py:541-552).
    */
  def sensors(alerts: DataFrame): DataFrame =
    alerts.select(col("sensor")).distinct()
      .withColumn("sensor_sid",
        dense_rank().over(Window.orderBy(col("sensor"))).cast("long"))
      .withColumn("interface", lit("charlotte"))

  /** Signature dimension: one row per distinct
    * (gid, sid, rev, class, priority, msg) — the uniqueness key the
    * reference's signature upsert uses (__init__.py:582-594).
    */
  def signatures(alerts: DataFrame): DataFrame =
    alerts.select(
        col("generator_id").as("s_gid"), col("signature_id").as("s_sid"),
        col("sig_rev").as("s_rev"), col("classification_id").as("s_class_id"),
        col("sig_priority").as("s_priority"), col("sig_msg").as("s_msg"))
      .distinct()
      .withColumn("sig_id", dense_rank().over(
        Window.orderBy(col("s_gid"), col("s_sid"), col("s_rev"),
          col("s_class_id"), col("s_priority"), col("s_msg"))).cast("long"))

  /** sig_class dimension (__init__.py:597-611). */
  def sigClasses(alerts: DataFrame): DataFrame =
    alerts.select(col("classification_id").as("sig_class_id"),
        col("class_name").as("sig_class_name")).distinct()

  /** u2fast-style one-line alert rendering — the reference's test-mode
    * TextOutput (__init__.py:284-330, via idstools u2fast).
    */
  def textFormat(alerts: DataFrame): DataFrame =
    alerts.select(col("sensor"), col("event_id"),
      concat(
        date_format(col("event_ts"), "MM/dd-HH:mm:ss."),
        format_string("%06d", col("event_microsecond")),
        lit("  [**] ["),
        col("generator_id"), lit(":"), col("signature_id"), lit(":"),
        col("sig_rev"), lit("] "), col("sig_msg"),
        lit(" [**] [Classification: "), col("class_name"),
        lit("] [Priority: "), col("sig_priority"), lit("] {"),
        when(col("protocol") === 6, "TCP")
          .when(col("protocol") === 17, "UDP")
          .when(col("protocol") === 1, "ICMP")
          .otherwise(col("protocol").cast("string")),
        lit("} "),
        Net.ipToString(col("ip_source")), lit(":"),
        col("sport_itype"), lit(" -> "),
        Net.ipToString(col("ip_destination")), lit(":"),
        col("dport_icode")).as("line"))

  /** Parquet sink for the star tables, partitioned by sensor id — the
    * scale-out replacement for the reference's MySQL writer. Idempotent
    * per-run (overwrite), so Spark task retry gives the same at-least-
    * once-with-dedup guarantee the reference's retry loop approximates.
    */
  def writeParquet(tables: Map[String, DataFrame], outDir: String): Unit =
    tables.foreach { case (name, df) =>
      val w = df.write.mode("overwrite")
      (if (df.columns.contains("sid")) w.partitionBy("sid") else w)
        .parquet(s"$outDir/$name")
    }

  /** JDBC sink (MySQL/snorby schema compatible); connection retry is
    * delegated to Spark task retry (spark.task.maxFailures) instead of
    * the reference's hand-rolled backoff loop (__init__.py:400-433).
    */
  def writeJdbc(tables: Map[String, DataFrame], url: String,
      props: java.util.Properties): Unit =
    tables.foreach { case (name, df) =>
      df.write.mode("append").jdbc(url, name, props)
    }
}
