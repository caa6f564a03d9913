package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Settings, Tables}

/** MERGE-emulation, set-op, and enrichment operators from SURVEY §2.1,
  * §2.3, §2.7 — the library-level rewrites our parquet-backed
  * TableStore uses in place of Iceberg `MERGE INTO`.
  */
object MergeQueries extends QueryDsl {

  private def lookupValues: String =
    Settings.DomainRegionMap.zipWithIndex.map { case ((dom, r, l), i) =>
      s"($i, '$dom', '$r', '$l')"
    }.mkString(", ")

  val queries: Map[String, Q] = Map(
    // S7: insert-only MERGE = left-anti join + append
    // (reference: bronze_streaming_job.py:265-270).
    "s07_merge_insert_only" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val target = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val incoming = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val inserted = incoming.join(
        target.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      target.withColumn("src", lit("existing"))
        .unionByName(inserted.withColumn("src", lit("inserted")))
    }),

    // S8: full upsert MERGE = union + window-dedup keep-newest
    // (reference: silver_batch_job.py:296-326).
    "s08_merge_upsert" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val current = o.select(col("o_orderkey"),
        col("o_totalprice").as("price"), lit(0).as("ver"))
      val updates = o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") * lit(1.1)).as("price"), lit(1).as("ver"))
      val w = Window.partitionBy(col("o_orderkey")).orderBy(col("ver").desc)
      current.unionByName(updates)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
    }),

    // S11: dedup-delete candidates — the rows a
    // `DELETE ... NOT IN (SELECT MIN(...))` would remove
    // (reference: deduplicate_bronze.py:100-110).
    "s11_delete_candidates" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1)
        .select(col("user_id"), col("event_type"), col("event_id"))
    }),

    // S5+S9+S8+S11 through the TRANSACTIONAL (manifest-log) store:
    // ensure → append → copy-on-write upsert → copy-on-write delete
    // run for real against a LogTableStore in a scratch dir, and the
    // committed end state is scanned back for the oracle — the same
    // MERGE semantics the emulated s07/s08/s11 shapes pin, now
    // produced by the atomic-commit backend itself.
    "s14_tx_store" -> ((s, d) => {
      val store = new graft.store.LogTableStore(s,
        java.nio.file.Files.createTempDirectory("graft-txgate").toString)
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
      store.ensure("gate.orders", o.schema)
      store.append("gate.orders", o)
      store.mergeUpsert("gate.orders",
        o.filter(col("o_orderkey") % 5 === 0)
          .withColumn("price", col("price") * lit(1.1)),
        Seq("o_orderkey"))
      store.delete("gate.orders", col("o_orderkey") % 7 === 0)
      val out = store.scan("gate.orders")
      store.close() // scratch root: drop its JVM-global cache entries
      out
    }),

    // Change-data feed of the transactional store: a version window's
    // row-level diff computed from ONLY the files the log says changed
    // (LogTableStore.changes — Delta CDF shape). The op sequence below
    // exercises all three change types plus CDC-squash semantics: a
    // key that is updated and THEN deleted inside the window must
    // surface as a single delete, and rewrite-survivor rows carried
    // unchanged through a COW rewrite must not appear at all.
    "s15_tx_changes" -> ((s, d) => {
      val store = new graft.store.LogTableStore(s,
        java.nio.file.Files.createTempDirectory("graft-cdcgate").toString)
      // the even-key half of orders: the gate's value is the CDC
      // semantics, not write volume — s14 already measures the store's
      // full-table write path
      val o = Tables.orders(s, d)
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
      store.ensure("gate.cdc", o.schema)
      store.append("gate.cdc", o)                                  // v2
      val vFrom = store.versions("gate.cdc").last
      store.mergeUpsert("gate.cdc",
        o.filter(col("o_orderkey") % 3 === 0)
          .withColumn("price", col("price") * lit(2.0)),
        Seq("o_orderkey"))                                         // v3
      store.delete("gate.cdc", col("o_orderkey") % 7 === 0)        // v4
      store.mergeInsertOnly("gate.cdc",
        o.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + lit(1000000000L)).as("o_orderkey"),
            col("price")),
        Seq("o_orderkey"))                                         // v5
      val vTo = store.versions("gate.cdc").last
      val out = store.changes("gate.cdc", vFrom, vTo, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("_change_type"), col("price"))
      store.close() // scratch root: drop its JVM-global cache entries
      out
    }),

    // S16: the changefeed CONSUMER — the downstream half s15's feed
    // exists for: a keyed replica in a SEPARATE store root maintained
    // by applying two CDC windows of the source's lifecycle
    // (append+upsert, then delete+insert). The replica must equal the
    // source's final state exactly — replication from O(changed
    // files) reads, never a full-table copy.
    "s16_cdc_replica" -> ((s, d) => {
      val src = new graft.store.LogTableStore(s,
        java.nio.file.Files.createTempDirectory("graft-cdcrsrc").toString)
      val o = Tables.orders(s, d)
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
      src.ensure("gate.src", o.schema)                              // v1
      val v1 = src.versions("gate.src").last
      src.append("gate.src", o)                                     // v2
      src.mergeUpsert("gate.src",
        o.filter(col("o_orderkey") % 3 === 0)
          .withColumn("price", col("price") * lit(2.0)),
        Seq("o_orderkey"))                                          // v3
      val v3 = src.versions("gate.src").last
      src.delete("gate.src", col("o_orderkey") % 7 === 0)           // v4
      src.mergeInsertOnly("gate.src",
        o.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + lit(1000000000L)).as("o_orderkey"),
            col("price")),
        Seq("o_orderkey"))                                          // v5
      val v5 = src.versions("gate.src").last
      val target = new graft.store.LogTableStore(s,
        java.nio.file.Files.createTempDirectory("graft-cdcrdst").toString)
      graft.store.CdcReplica(src, "gate.src", target, "gate.dst",
        v1, v3, Seq("o_orderkey"))
      graft.store.CdcReplica(src, "gate.src", target, "gate.dst",
        v3, v5, Seq("o_orderkey"))
      val out = target.scan("gate.dst")
      src.close(); target.close() // scratch roots: drop cache entries
      out
    }),

    // §2.7: unionByName of two entity sets + aggregation.
    "u01_union_by_name" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_nationkey").cast("int").as("nationkey"),
                lit("customer").as("src"))
      val su = Tables.supplier(s, d)
        .select(col("s_nationkey").cast("int").as("nationkey"),
                lit("supplier").as("src"))
      c.unionByName(su).groupBy(col("src"), col("nationkey"))
        .agg(count(lit(1)).as("n"))
    }),

    // P9: region/language enrichment via a broadcast lookup join with
    // fallback region 'other' / language substring
    // (reference: silver_batch_job.py:28-51, 82-100). The 18-row dim is
    // driver-built (S13) and explicitly broadcast — at 100 TB the fact
    // side never shuffles for this join.
    "p09_region_enrich" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      val lookup = Settings.DomainRegionMap.zipWithIndex
        .map { case ((dom, r, l), i) => (i.toLong, dom, r, l) }
        .toDF("domain_id", "domain", "region", "language")
      Tables.events(s, d)
        .withColumn("domain_id", col("event_id") % 18)
        .join(broadcast(lookup), Seq("domain_id"), "left")
        .select(col("event_id"), col("domain"),
          coalesce(col("region"), lit("other")).as("region"),
          coalesce(col("language"), substring(col("domain"), 1, 2))
            .as("language"))
    }),

    // J5 (extension): backward as-of join — each event picks up its
    // type's daily benchmark as of the event time (point-in-time
    // lookup). Composed from union+window (one shuffle on the key);
    // DuckDB's native ASOF JOIN is the oracle.
    "j05_asof_join" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      val daily = e.groupBy(col("event_type"),
          date_trunc("DAY", col("ts")).as("day_ts"))
        .agg((sum(dec(col("value"))).cast("double") / count(lit(1)))
          .as("day_avg_value"))
      graft.operators.AsOfJoin.backward(e, daily, "event_type",
          "ts", "day_ts", Seq("day_avg_value"))
        .select(col("event_id"), col("event_type"),
          round(col("day_avg_value"), 6).as("day_avg_value"))
    }),

    // J6 (extension): interval self-join — same-user event pairs
    // within 5 minutes, via bucketized equi-join (no cartesian).
    "j06_range_join" -> ((s, d) => {
      graft.operators.RangeJoin.selfPairsWithin(
        Tables.events(s, d), "user_id", "ts", "event_id", 300)
        .withColumnRenamed("k", "user_id")
    }),

    // S13: driver-built local rows → DataFrame → aggregation
    // (reference: dq_utils.py:168-192).
    "s13_local_rows" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      val lookup = Settings.DomainRegionMap.zipWithIndex
        .map { case ((dom, r, l), i) => (i.toLong, dom, r, l) }
        .toDF("domain_id", "domain", "region", "language")
      lookup.groupBy(col("region"))
        .agg(count(lit(1)).as("domains"),
          concat_ws(",", sort_array(collect_list(col("language"))))
            .as("languages"))
    }),

    // P10/P11/P16: regex normalization, extraction, rlike matching
    // (reference: silver_batch_job.py:103-112, dq_checks.py:890-900).
    "p10_regex_normalize" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        trim(regexp_replace(col("source"), "[0-9]+$", "")).as("source_name"),
        regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
          .as("source_num"),
        col("text").rlike("^the ").as("starts_with_the"),
        col("text").rlike("\\bspark\\b").as("mentions_spark"))
    })
  )

  val oracle: Map[String, String] = Map(
    "s07_merge_insert_only" ->
      """SELECT o_orderkey, o_totalprice, 'existing' AS src FROM orders
        |WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, 'inserted' AS src FROM orders
        |WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0""".stripMargin,

    "s08_merge_upsert" ->
      """SELECT o_orderkey, price, ver FROM (
        |  SELECT o_orderkey, o_totalprice AS price, 0 AS ver FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice * CAST(1.1 AS DOUBLE) AS price, 1 AS ver
        |  FROM orders WHERE o_orderkey % 5 = 0)
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY ver DESC) = 1""".stripMargin,

    "s11_delete_candidates" ->
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn > 1""".stripMargin,

    "s14_tx_store" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 5 = 0
        |       THEN o_totalprice * CAST(1.1 AS DOUBLE)
        |       ELSE o_totalprice END AS price
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin,

    // the replica's truth is the SOURCE lifecycle's final state: even
    // keys, %3 upserted to double price, %7 deleted, %11 re-inserted
    // under shifted keys at their original price
    "s16_cdc_replica" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0
        |       THEN o_totalprice * CAST(2.0 AS DOUBLE)
        |       ELSE o_totalprice END AS price
        |FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 7 <> 0
        |UNION ALL
        |SELECT o_orderkey + 1000000000 AS o_orderkey,
        |  o_totalprice AS price
        |FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 11 = 0""".stripMargin,

    "s15_tx_changes" ->
      """SELECT o_orderkey, 'delete' AS _change_type, o_totalprice AS price
        |FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 7 = 0
        |UNION ALL
        |SELECT o_orderkey, 'update_postimage' AS _change_type,
        |  o_totalprice * CAST(2.0 AS DOUBLE) AS price
        |FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
        |UNION ALL
        |SELECT o_orderkey + 1000000000 AS o_orderkey,
        |  'insert' AS _change_type, o_totalprice AS price
        |FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 11 = 0""".stripMargin,

    "u01_union_by_name" ->
      """SELECT src, nationkey, COUNT(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey, 'customer' AS src FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nationkey, 'supplier' AS src FROM supplier)
        |GROUP BY src, nationkey""".stripMargin,

    "p09_region_enrich" ->
      s"""WITH lookup(domain_id, domain, region, language) AS (
         |  SELECT * FROM (VALUES $lookupValues))
         |SELECT e.event_id, l.domain,
         |  COALESCE(l.region, 'other') AS region,
         |  COALESCE(l.language, substring(l.domain, 1, 2)) AS language
         |FROM events e LEFT JOIN lookup l ON e.event_id % 18 = l.domain_id""".stripMargin,

    "j05_asof_join" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day_ts,
        |    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS day_avg_value
        |  FROM events GROUP BY 1, 2)
        |SELECT e.event_id, e.event_type,
        |  ROUND(r.day_avg_value, 6) AS day_avg_value
        |FROM events e
        |ASOF LEFT JOIN daily r
        |  ON e.event_type = r.event_type AND e.ts >= r.day_ts""".stripMargin,

    "j06_range_join" ->
      """SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
        |  abs(epoch_us(a.ts) - epoch_us(b.ts)) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000""".stripMargin,

    "s13_local_rows" ->
      s"""WITH lookup(domain_id, domain, region, language) AS (
         |  SELECT * FROM (VALUES $lookupValues))
         |SELECT region, COUNT(*) AS domains,
         |  string_agg(language, ',' ORDER BY language) AS languages
         |FROM lookup GROUP BY region""".stripMargin,

    "p10_regex_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(source, '[0-9]+$', '')) AS source_name,
        |  TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS INTEGER) AS source_num,
        |  regexp_matches(text, '^the ') AS starts_with_the,
        |  regexp_matches(text, '\bspark\b') AS mentions_spark
        |FROM documents""".stripMargin
  )
}
