package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.{StructField, StructType}

/** Storage abstraction replacing the reference's Iceberg catalog
  * (SURVEY §7.1 module 2). S5/S7/S8/S9/S11 map onto this trait, and
  * [[LogTableStore]] implements it: immutable parquet data files
  * published by an atomic commit log, with copy-on-write MERGE
  * (insert-only = zone/Bloom-pruned anti-join, upsert = incoming wins
  * on key, both idempotent under replay) — the semantics the reference
  * relies on from Iceberg (bronze_streaming_job.py:265-270,
  * silver_batch_job.py:296-326). Pipeline components talk to the
  * trait only; the transactional extras (time travel, CDC, vacuum,
  * exactly-once appends) live on [[LogTableStore]] itself.
  */
trait TableStore {
  /** S5: idempotent table creation (IF NOT EXISTS — an existing
    * table's persisted schema wins over the one passed here, matching
    * Iceberg's CREATE TABLE IF NOT EXISTS). */
  def ensure(name: String, schema: StructType, partitionBy: Seq[String] = Nil): Unit
  def exists(name: String): Boolean
  def scan(name: String): DataFrame
  /** S4: scan with a pruning range predicate — rows with `dateCol`
    * in [start, end], reading only files that may hold them. */
  def scanRange(name: String, dateCol: String, start: String, end: String): DataFrame
  /** S9: plain append. */
  def append(name: String, df: DataFrame): Unit
  /** S7: MERGE WHEN NOT MATCHED INSERT — returns rows actually inserted. */
  def mergeInsertOnly(name: String, incoming: DataFrame, keys: Seq[String]): Long
  /** S8: full upsert MERGE — incoming wins on matched keys. */
  def mergeUpsert(name: String, incoming: DataFrame, keys: Seq[String]): Unit
  /** S11: delete rows matching a predicate (copy-on-write rewrite of
    * the files holding matches). Returns rows removed. */
  def delete(name: String, predicate: Column): Long
  /** Keyed delete: remove every row whose key tuple appears in
    * `keysDf` — a DISTRIBUTED DataFrame that is never collected to
    * the driver, so the delete set may be arbitrarily large (a
    * retention sweep's worth of CDC deletes, not just a literal
    * list). Implemented as the same zone/partition-pruned
    * copy-on-write rewrite as [[delete]], with a left-anti join
    * against the key frame instead of a predicate. Returns rows
    * removed. */
  def deleteKeys(name: String, keysDf: DataFrame, keyCols: Seq[String]): Long
  /** S10: manual schema evolution — ALTER TABLE ADD COLUMN. Existing
    * rows surface NULL for the new column; no data rewrite. */
  def addColumn(name: String, field: StructField): Unit
  /** Operational compaction: rewrite accreted small files into
    * ~targetBytes files, optionally clustered on `clusterBy` so
    * row-group/zone statistics become selective for those columns.
    * Returns (filesBefore, filesAfter). On the trait so maintenance
    * callers (orchestrator/streaming cadences) need no backend
    * dispatch. */
  def compact(name: String, targetBytes: Long,
              clusterBy: Seq[String]): (Long, Long)
  /** Live data files under HALF of `targetBytes` — the maintenance
    * trigger signal: accreted per-fold files are KBs and count;
    * compaction's own right-sized output does NOT (compact packs into
    * ceil(bytes/target) files averaging above target/2), so a cadence
    * that fires on `smallFileCount > threshold` self-resets at ANY
    * table size. Counting everything under targetBytes instead would
    * re-trip on compaction's own output once the table outgrows
    * threshold×targetBytes — a full rewrite every cycle, the exact
    * degradation a TOTAL-file-count trigger has. */
  def smallFileCount(name: String, targetBytes: Long): Int
}
