package graft.store

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.concurrent.TrieMap

/** One immutable data file: path relative to the table root, its
  * footer row count, byte size, and per-column zones for every
  * zone-comparable column (partition columns included — they are
  * ordinary columns in the data, pruned via zones rather than
  * directory names). */
private[store] final case class ManifestFile(path: String,
                                             rows: Long,
                                             bytes: Long,
                                             zones: Map[String, ZoneEntry])

/** One log entry. `full = true` means `add` IS the complete live file
  * list as of this version (create, rollback, checkpoints); otherwise
  * the entry is a DELTA — `remove` paths leave the live set, `add`
  * entries join it. Every entry carries the then-current schema and
  * partition spec (small), so resolution never needs to walk past the
  * nearest full entry for metadata either. */
private[store] final case class Commit(version: Long,
                                       op: String,
                                       schema: StructType,
                                       partitionBy: Seq[String],
                                       add: Seq[ManifestFile],
                                       remove: Seq[String],
                                       full: Boolean,
                                       txns: Map[String, Long] = Map.empty,
                                       tsMillis: Long = 0L)

/** Resolved view of one table version: the complete live file list
  * plus the high-water mark per streaming writer id (the fold of
  * every `txns` entry up to this version). */
private[store] final case class Manifest(version: Long,
                                         op: String,
                                         schema: StructType,
                                         partitionBy: Seq[String],
                                         files: Seq[ManifestFile],
                                         txns: Map[String, Long] = Map.empty)

/** Log-committed parquet TableStore — the one [[TableStore]]
  * implementation. The protocol is the public Delta-protocol/Iceberg
  * model re-built on plain parquet + an atomic commit log (reference
  * behavior: the Iceberg catalog the reference relies on for snapshot
  * isolation and atomic MERGE —
  * bronze_streaming_job.py:265-270, :332-375):
  *
  *  - Data files are IMMUTABLE, written once under `data/` with
  *    unique names; a table VERSION is a log entry under `_log/`
  *    (add/remove delta + per-file row counts and column zones, read
  *    from the parquet footers once, at commit time).
  *  - A commit stages its files, then publishes `_log/v<N>.json` via
  *    hardlink-CAS: `Files.createLink` fails with
  *    FileAlreadyExistsException iff version N already exists, so two
  *    concurrent committers cannot both win — the loser re-reads the
  *    log and retries (append; commutative) or aborts loudly
  *    (upsert/delete/merge-insert; their rewrite or anti-join was
  *    computed against a stale base). This is optimistic concurrency —
  *    real MULTI-writer safety, not a single-writer advisory lock.
  *  - COMMIT COST IS O(CHANGED FILES), NOT O(TABLE): ordinary commits
  *    are deltas; every [[checkpointInterval]] versions the writer
  *    also drops a `v<N>.checkpoint.json` carrying the full resolved
  *    file list, so a reader materializes any version from the
  *    nearest checkpoint-or-full entry plus at most
  *    checkpointInterval small deltas. At a million files a
  *    full-manifest-per-commit log would write O(files) metadata per
  *    append and O(files × commits) total — the delta+checkpoint
  *    shape is what makes the log viable at 100 TB.
  *  - Readers resolve a version and read EXACTLY its file list
  *    (`spark.read.schema(declared).parquet(files*)`): no directory
  *    listing, no schema inference, no mergeSchema ever — a crashed
  *    writer's orphaned staging files are simply never referenced.
  *    At cloud scale that removes the S3 LIST storm entirely.
  *    Resolved versions are immutable, so they memoize per-JVM.
  *  - Time travel is free: `scanAt(v)` resolves version v.
  *    `rollback(v)` is a NEW full commit reusing v's file list
  *    (history stays append-only). `vacuum(keepLast)` checkpoints the
  *    oldest retained version, drops older log entries, and deletes
  *    data files no retained version references — the same
  *    reachability rule Iceberg's expire_snapshots applies.
  *
  * Pruning: `scanRange` (and upsert's matched-file search, and
  * delete's rewrite scope) filter the resolved per-file zones
  * driver-side before any Spark plan exists — Iceberg manifest
  * pruning, with zero footer IO at read time because zones were
  * captured once at commit. Copy-on-write rewrites touch only files
  * that provably may contain affected rows.
  *
  * Schema evolution: `addColumn` is a metadata-only delta commit; the
  * explicit read schema surfaces NULL for the new column in old files
  * (parquet missing-leaf semantics), so no rewrite and no mergeSchema
  * cost, ever.
  */
class LogTableStore(spark: SparkSession, root: String,
                    checkpointInterval: Int = 16) extends TableStore {

  import LogTableStore._
  require(checkpointInterval >= 2, s"checkpointInterval must be >= 2")

  /** Canonical table identity: two LogTableStore instances over the
    * same root (a pattern the tests use freely) MUST share the JVM
    * lock and the caches, or the "same-JVM mutation guard" silently
    * guards nothing — the shared state lives in the companion object,
    * keyed by normalized-root::table. Cross-process safety still
    * comes from the commit CAS itself. */
  private val rootKey: String =
    Paths.get(root).toAbsolutePath.normalize.toString
  private def tkey(name: String): String = s"$rootKey::$name"
  private def jvmLock(name: String): Object =
    tableLocks.getOrElseUpdate(tkey(name), new Object)

  /** Drop every JVM-global companion cache entry belonging to this
    * store's root: table locks, memoized manifests, Bloom configs and
    * their multi-MB payloads. The caches are keyed root::table and
    * outlive any single instance BY DESIGN (two instances over one
    * root must share them) — but an abandoned root (per-run temp-dir
    * stores in gate/test JVMs) would otherwise pin its payloads for
    * the JVM's lifetime. Call once the root's WRITERS are quiesced
    * (dropping a lock entry while a write holds it would let a new
    * instance mint a fresh lock beside it); readers are unaffected —
    * already-planned scans hold concrete file paths, and later reads
    * simply repopulate (locks re-create, manifests re-resolve,
    * sidecars re-read from disk). */
  def close(): Unit = LogTableStore.dropRoot(rootKey)

  /** Block until no background checkpoint work is scheduled or running
    * — JVM-wide, since the writer thread is shared (maintenance
    * barriers, tests, pre-shutdown quiesce). Never call while holding
    * a table's jvmLock: the checkpoint task takes it. Returns false on
    * timeout. */
  def awaitCheckpoints(timeoutMillis: Long = 120000L): Boolean =
    LogTableStore.awaitBackgroundCheckpoints(timeoutMillis)

  /** (root::table, version) → resolved manifest. A committed version's
    * content is immutable, so entries never invalidate (vacuum removes
    * the expired keys) — but they must ROTATE: each memoized manifest
    * holds an O(files) list spine, and a long-running committer
    * resolves one new version per commit, so an unbounded memo is a
    * ~spine-per-commit driver leak (at a 10^6-file table and a
    * 10-second commit cadence, gigabytes per day). [[resolve]] keeps
    * the newest [[LogTableStore.MemoKeepVersions]] versions per table
    * — the fast path only ever needs the predecessor, concurrent
    * readers a handful more; an evicted old version (deep time
    * travel) re-resolves cold from the nearest checkpoint, the
    * documented ≤ min(interval, commits)+1-read cost. */
  private def resolved = resolvedManifests

  private def tableDir(name: String): Path =
    Paths.get(root, name.replace('.', '/'))
  private def logDir(name: String): Path = tableDir(name).resolve("_log")
  private def dataDir(name: String): Path = tableDir(name).resolve("data")
  private def stagingDir(name: String): Path =
    tableDir(name).resolve("_staging")
  private def commitPath(name: String, v: Long): Path =
    logDir(name).resolve(f"v$v%020d.json")
  private def checkpointPath(name: String, v: Long): Path =
    logDir(name).resolve(f"v$v%020d.checkpoint.json")

  // ---- log read side ---------------------------------------------------

  /** The `_log` listing, O(1) AMORTIZED: a commit-per-trigger writer
    * calls `latest()` once per commit, and a raw directory listing is
    * O(commits) — quadratic total across a 10k-commit inter-vacuum
    * span (measured ~0.02 s/listing at 10^4 entries → ~100 s
    * aggregate). The listing is therefore cached per table and kept
    * honest by TWO stats instead of a list: commit versions are DENSE
    * by the CAS protocol (every winner is base+1, vacuum trims a
    * prefix), so a foreign commit is detectable as exactly
    * `last+1` existing, and a foreign vacuum as `head` having
    * vanished. The HEAD carries an IDENTITY STAMP (mtime + size,
    * recorded at listing/commit time and re-read by the freshness
    * probe — the probe's head stat was an exists() anyway, so the
    * stamp is free): an out-of-band table drop-and-recreate (not a
    * protocol op, but an operator can do it) rewrites the head file,
    * so a recreate is detected whether the new log is SHORTER, equal,
    * or longer than the cached one — without the stamp a recreated
    * log that reached the cached tail length would validate forever.
    * A detected rewrite (tail shrank, head version went backwards, or
    * head stamp changed) also evicts the table's memoized manifests:
    * version numbers no longer identify content after a rewrite, and
    * a memo hit at a reused version would silently serve the old
    * incarnation's file list. The TAIL carries a stamp too (recorded
    * on own commits and listings): a recreate whose new head lands
    * PAST the cached head version (recreate + commits + a vacuum —
    * the head stamp then has no comparand) is still caught whenever
    * the new log's version range covers the cached tail, because the
    * reused tail version is a different file. Residual exposure: a
    * rewrite whose surviving version range excludes BOTH stamped
    * versions, landed entirely inside one probe interval — detection
    * is between-probes, not transactional. Own commits advance the
    * cache in [[tryCommit]]; a failed freshness probe falls back to
    * one real listing. Foreign CHECKPOINTS can stay invisible until
    * then — resolution treats a missing checkpoint as "walk the
    * deltas", which is correct and bounded by the interval. */
  private def logEntries(name: String): (Seq[Long], Set[Long]) = {
    val key = tkey(name)
    logListings.get(key) match {
      case Some(cached @ (vs, _)) if vs.nonEmpty &&
          !Files.exists(commitPath(name, vs.last + 1)) &&
          stampFresh(headStamps, key, name, vs.head) &&
          (vs.last == vs.head ||
            stampFresh(tailStamps, key, name, vs.last)) =>
        cached
      case stale =>
        val fresh = listLogDir(name)
        val freshHead = fresh._1.headOption.flatMap(entryStamp(name, _))
        // rewrite detection → the memoized manifests describe a dead
        // incarnation. Protocol ops can only append at the tail or
        // (vacuum) trim the head FORWARD, so any of these is an
        // out-of-protocol rewrite: tail shrank, head version went
        // backwards, or a stamped version inside the fresh range is no
        // longer the file we stamped.
        def stampChanged(stamps: TrieMap[String, (Long, Long, Long)]) =
          stamps.get(key).exists(prev =>
            prev._1 >= fresh._1.head && prev._1 <= fresh._1.last &&
              entryStamp(name, prev._1).exists(_ != prev))
        if (stale.exists(c => c._1.nonEmpty &&
            (fresh._1.isEmpty || fresh._1.last < c._1.last ||
              fresh._1.head < c._1.head ||
              stampChanged(headStamps) || stampChanged(tailStamps)))) {
          resolvedVersions.remove(key)
          resolvedManifests.keySet.filter(_._1 == key)
            .foreach(resolvedManifests.remove)
        }
        freshHead match {
          case Some(s) => headStamps.put(key, s)
          case None => headStamps.remove(key)
        }
        fresh._1.lastOption.flatMap(entryStamp(name, _)) match {
          case Some(s) => tailStamps.put(key, s)
          case None => tailStamps.remove(key)
        }
        if (fresh._1.nonEmpty) logListings.put(key, fresh)
        else logListings.remove(key)
        fresh
    }
  }

  /** Identity stamp of a log entry: (version, mtimeNanos, size). A
    * recreate rewrites the file, so the stamp changes even when the
    * version number is reused. None = the file is gone (stale). */
  private def entryStamp(name: String, v: Long): Option[(Long, Long, Long)] =
    try {
      val a = Files.readAttributes(commitPath(name, v),
        classOf[java.nio.file.attribute.BasicFileAttributes])
      Some((v, a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS),
        a.size))
    } catch { case _: java.io.IOException => None }

  /** Freshness-probe arm of the stamp check: stat the cached head or
    * tail entry and compare against the recorded stamp. A missing
    * file or a changed stamp fails the probe (→ one real listing,
    * where the rewrite eviction above decides); an absent record
    * (cache seeded before any listing) records lazily. Same stat the
    * probe paid as a bare exists() pre-stamp. */
  private def stampFresh(stamps: TrieMap[String, (Long, Long, Long)],
                         key: String, name: String, v: Long): Boolean =
    entryStamp(name, v) match {
      case None => false
      case Some(s) =>
        stamps.get(key) match {
          case Some(prev) if prev._1 == v => prev == s
          case _ => stamps.put(key, s); true
        }
    }

  private def listLogDir(name: String): (Vector[Long], Set[Long]) = {
    logDirListings.incrementAndGet()
    val d = logDir(name)
    if (!Files.exists(d)) return (Vector.empty, Set.empty)
    val s = Files.list(d)
    val names =
      try s.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSeq
      finally s.close()
    val commits = names.collect {
      case n if n.matches("v\\d+\\.json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong
    }.sorted.toVector
    val checkpoints = names.collect {
      case n if n.matches("v\\d+\\.checkpoint\\.json") =>
        n.stripPrefix("v").stripSuffix(".checkpoint.json").toLong
    }.toSet
    (commits, checkpoints)
  }

  /** Advance the cached listing for an own-commit win (the O(1) path a
    * steady-state single writer rides). A non-adjacent cache (foreign
    * commits landed since) is dropped — the next read re-lists. */
  private def noteCommitted(name: String, v: Long): Unit = {
    val key = tkey(name)
    logListings.get(key) match {
      case Some(cur @ (vs, cps)) =>
        if (vs.nonEmpty && vs.last == v - 1) {
          logListings.replace(key, cur, (vs :+ v, cps))
          // stamp the tail we just linked (one stat per commit): a
          // lazily-recorded stamp would baseline whatever file the
          // FIRST probe sees — after an out-of-band recreate, the new
          // incarnation
          entryStamp(name, v).foreach(tailStamps.put(key, _))
        }
        else logListings.remove(key, cur)
        ()
      case None =>
        if (v == 1L && logListings.putIfAbsent(key,
            (Vector(1L), Set.empty)).isEmpty) {
          // head == tail == the v1 we just linked; stamp both
          entryStamp(name, 1L).foreach { s =>
            headStamps.put(key, s)
            tailStamps.put(key, s)
          }
        }
    }
  }

  /** Record an own checkpoint publish in the cached listing
    * (best-effort: a lost race just leaves the checkpoint invisible
    * until the next real listing — resolution lenience above). */
  private def noteCheckpointed(name: String, b: Long): Unit = {
    val key = tkey(name)
    logListings.get(key).foreach { cur =>
      logListings.replace(key, cur, (cur._1, cur._2 + b)); ()
    }
  }

  /** Committed versions, ascending (one directory listing of `_log/`,
    * which holds only small JSON entries). */
  def versions(name: String): Seq[Long] = logEntries(name)._1

  private def readCommitFile(p: Path): Commit = {
    logEntryReads.incrementAndGet()
    readCommitStream(new java.io.BufferedInputStream(
      Files.newInputStream(p), 1 << 16))
  }

  /** Checkpoints are REDUNDANT by construction (pure folds of the
    * delta chain), so a corrupt/truncated one must never take the
    * table down — log it, fall back to the deltas, and let the next
    * maybeCheckpoint CAS a fresh one. Commit entries get no such
    * mercy: they are the source of truth and fail loudly. */
  private def readCheckpointFile(name: String, v: Long): Option[Commit] =
    try Some(readCommitFile(checkpointPath(name, v)))
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"table $name: checkpoint v$v unreadable (${e.getMessage}) — " +
            "resolving from the delta chain instead")
        None
    }

  /** Materialize version `v`: walk back to the nearest checkpoint or
    * full entry (≤ checkpointInterval small reads), fold the deltas
    * forward, memoize. */
  private def resolve(name: String, v: Long,
                      checkpoints: Set[Long]): Manifest = {
    val key = tkey(name)
    val m = resolveMemo(key, v, name, checkpoints)
    LogTableStore.noteResolved(key, v)
      .foreach(old => resolved.remove((key, old)))
    m
  }

  private def resolveMemo(key: String, v: Long, name: String,
                          checkpoints: Set[Long]): Manifest =
    resolved.getOrElseUpdate((key, v), {
      val head = readCommitFile(commitPath(name, v))
      val cpAtV =
        if (!head.full && checkpoints(v)) readCheckpointFile(name, v) else None
      if (head.full)
        Manifest(v, head.op, head.schema, head.partitionBy, head.add, head.txns)
      else if (cpAtV.isDefined) {
        // a checkpoint AT v already folds v's own delta — and after
        // vacuum it may be the only way to resolve v (the ancestors
        // the delta walk would visit are deleted)
        val cp = cpAtV.get
        Manifest(v, head.op, head.schema, head.partitionBy, cp.add, cp.txns)
      } else {
        // collect deltas walking down until a base: the nearest
        // MEMOIZED ancestor (versions are immutable, so a memo hit is
        // exact — the committer's own cadence then folds ~one delta
        // per commit instead of re-walking up to checkpointInterval
        // entries over the O(manifest) base list, and a CAS loser's
        // re-resolve is one small entry read + one fold, never a cold
        // walk), else a checkpoint or full entry from disk.
        var deltas = List(head)
        var base: Commit = null
        var baseFromMemo = false
        var w = v - 1
        while (base == null) {
          resolved.get((tkey(name), w)) match {
            case Some(m) =>
              base = Commit(w, m.op, m.schema, m.partitionBy, m.files,
                Nil, full = true, txns = m.txns)
              baseFromMemo = true
            case None =>
              val cp =
                if (checkpoints(w)) readCheckpointFile(name, w) else None
              if (cp.isDefined) base = cp.get
              else {
                val c = readCommitFile(commitPath(name, w))
                if (c.full) base = c else { deltas = c :: deltas; w -= 1 }
              }
          }
        }
        if (baseFromMemo) resolveMemoBases.incrementAndGet()
        else resolveColdWalks.incrementAndGet()
        // single-pass suffix fold (not one filterNot pass per delta —
        // that is O(deltas × manifest)): a base file survives iff no
        // delta removes it; delta i's add survives iff no LATER delta
        // removes it (so a same-version remove+add still re-adds, and
        // a remove-then-readd across deltas keeps the newest — the
        // per-delta fold's exact semantics).
        val sufGone = deltas.scanRight(Set.empty[String]) {
          (d, s) => s ++ d.remove
        }.toVector
        val baseKept = // append-only gap: skip the O(manifest) filter pass
          if (sufGone.head.isEmpty) base.add
          else base.add.filterNot(f => sufGone.head(f.path))
        val files = baseKept ++
          deltas.zipWithIndex.flatMap { case (d, i) =>
            d.add.filterNot(f => sufGone(i + 1)(f.path)) }
        var txns = base.txns
        for (d <- deltas) txns = txns ++ d.txns
        Manifest(v, head.op, head.schema, head.partitionBy, files, txns)
      }
    })

  private def latest(name: String): Option[Manifest] = {
    val (vs, cps) = logEntries(name)
    vs.lastOption.map(resolve(name, _, cps))
  }

  override def exists(name: String): Boolean = versions(name).nonEmpty

  // ---- commit ----------------------------------------------------------

  /** Publish `c` as version `c.version` via hardlink-CAS. True iff
    * this committer won; false iff that version already exists. */
  private def tryCommit(name: String, c0: Commit): Boolean = {
    Files.createDirectories(logDir(name))
    val c = if (c0.tsMillis == 0L)
      c0.copy(tsMillis = System.currentTimeMillis()) else c0
    val tmp = logDir(name).resolve(s".v${c.version}.${System.nanoTime()}.tmp")
    // the write sits INSIDE the delete-finally: a mid-stream failure
    // (ENOSPC on a manifest-sized checkpoint) must not leak the
    // partial tmp — vacuum sweeps aged crash orphans, but a thrown
    // write would otherwise leak one per retry
    try {
      writeCommitFile(tmp, c)
      try {
        Files.createLink(commitPath(name, c.version), tmp)
        noteCommitted(name, c.version)
        true
      }
      catch {
        case _: FileAlreadyExistsException => false
        // our tmp vanished between write and link: a cross-process
        // vacuum's aged-tmp sweep took it (this writer stalled past
        // the sweep's graceMillis between writing the tmp and linking
        // it). Semantically identical to losing the CAS — the caller
        // re-reads latest() and retries with a FRESH tmp — so report
        // it as a loss instead of dying with NoSuchFileException.
        // UNLESS the log DIRECTORY itself is gone (table dropped /
        // root deleted cross-process): then a retry loop would burn
        // all attempts and report a bogus "lost the commit race" —
        // fail loudly with the real cause instead.
        case e: java.nio.file.NoSuchFileException =>
          if (!Files.exists(logDir(name)))
            throw new IllegalStateException(
              s"table $name: _log directory vanished mid-commit " +
                "(table dropped or root deleted concurrently)", e)
          false
      }
    } finally Files.deleteIfExists(tmp)
  }

  /** Every `checkpointInterval` versions a full-file-list checkpoint
    * must APPEAR beside the log so later readers fold at most that
    * many deltas — but it is never PAID inline: a checkpoint is
    * manifest-sized (tens of seconds of driver work at 10^7 entries)
    * and the commit that lands on the boundary must not eat a
    * trigger-length stall for metadata that is redundant by
    * construction. The commit path only enqueues; the shared
    * background thread writes every missed boundary (see
    * [[LogTableStore.scheduleCheckpoint]] and
    * [[writeMissingCheckpoints]]). Best-effort and race-safe exactly
    * like the inline version was: content for a version is
    * deterministic, the tmp+hardlink-CAS makes double-writes and torn
    * writes harmless, and a failure (or a crash before the task runs)
    * just means resolution walks further back until a later boundary
    * — or a maintenance tick — lands one. */
  private def maybeCheckpoint(name: String, version: Long): Unit =
    if (version % checkpointInterval == 0)
      LogTableStore.scheduleCheckpoint(rootKey, tkey(name),
        () => writeMissingCheckpoints(name))

  /** Synchronously write a checkpoint for every boundary version
    * (v % interval == 0) still in the log that lacks one, ascending —
    * each resolve walks at most `checkpointInterval` deltas past the
    * checkpoint the previous iteration just wrote. Normally there is
    * exactly one (the boundary that scheduled the task); more exist
    * only after a crash-before-task or a coalesced burst, and writing
    * them restores the reader bound for time travel into that span.
    *
    * LOCK SCOPE: the manifest resolution and the manifest-sized tmp
    * write run OUTSIDE the table's jvmLock — checkpoint content for a
    * version is deterministic and the hardlink-CAS publish makes every
    * cross-writer/vacuum race harmless, while holding the lock for the
    * write's whole duration (tens of seconds at 10^7 files) would make
    * every same-table commit wait it out, moving the r14 boundary
    * stall onto whichever neighbor commit raced the background write.
    * The lock guards only the PUBLISH, where it serializes with in-JVM
    * vacuum: the commit entry is re-checked live under the lock so a
    * just-expired version never gains a stray checkpoint. The write is
    * additionally IO-rate-capped ([[LogTableStore
    * .checkpointWriteBytesPerSec]]) so the background stream cannot
    * saturate the disk under concurrent commit fsyncs — the
    * interference window is a bounded-rate tax, not a device stall.
    * Cross-process vacuum can still delete entries mid-resolution
    * (this thread holds no cross-process lock either way) — that
    * surfaces as NoSuchFileException and skips the boundary; a later
    * boundary or maintenance tick re-lands it. Public: a maintenance
    * cadence may call it directly instead of waiting for the next
    * boundary commit.
    *
    * CONCURRENT CALLERS for one table serialize on a per-table
    * streaming marker (wait, then re-check boundaries): the
    * hardlink-CAS already dedupes the PUBLISH, but two concurrent
    * callers (a direct maintenance call racing the scheduled daemon
    * task) would otherwise both stream the same manifest-sized,
    * rate-capped tmp — doubling the disk-interference window the rate
    * cap exists to bound. The marker is not the jvmLock: commits never
    * wait on it. */
  def writeMissingCheckpoints(name: String): Unit = {
    val skey = tkey(name)
    while (checkpointStreaming.putIfAbsent(skey, ()).nonEmpty)
      Thread.sleep(5)
    try writeMissingCheckpointsLocked(name)
    finally checkpointStreaming.remove(skey)
  }

  private def writeMissingCheckpointsLocked(name: String): Unit = {
    val (vs, cps0) = logEntries(name)
    var cps = cps0
    // "missing" is decided by a PER-BOUNDARY STAT, not the cached
    // listing's checkpoint set: this writer's whole job is restoring
    // the on-disk invariant, and the cache is deliberately lenient
    // about checkpoints (a foreign write can be invisible, and a
    // crash-swept or manually-removed file can linger in it until the
    // next real listing). Boundaries are versions/interval, so the
    // stats are a rounding error next to one checkpoint's write.
    for (b <- vs if b % checkpointInterval == 0 &&
        !Files.exists(checkpointPath(name, b))) {
      try {
        LogTableStore.checkpointStreams.incrementAndGet()
        val m = resolve(name, b, cps)
        val tmp = logDir(name).resolve(s".v$b.cp.${System.nanoTime()}.tmp")
        try {
          writeCommitFilePaced(tmp, Commit(b, "checkpoint", m.schema,
            m.partitionBy, m.files, Nil, full = true, txns = m.txns),
            LogTableStore.checkpointWriteBytesPerSec)
          def publish(): Unit =
            if (Files.exists(commitPath(name, b))) {
              try {
                Files.createLink(checkpointPath(name, b), tmp)
                noteCheckpointed(name, b)
              }
              catch { case _: FileAlreadyExistsException => () }
            }
          // publish under the table lock IF it exists (serializes with
          // in-JVM vacuum) — but never getOrElseUpdate here: a
          // background task publishing after close() would re-mint the
          // dropped root's lock entry and pin it. An absent entry
          // means no same-JVM vacuum can be mid-flight on this table;
          // the hardlink-CAS and the live commitPath re-check keep the
          // unguarded publish safe. Worst case (a reopened store's
          // vacuum races the get→publish window): a checkpoint lands
          // for a just-expired version — an orphan with no commit,
          // which the next vacuum's aged orphan-checkpoint sweep
          // reclaims.
          tableLocks.get(tkey(name)) match {
            case Some(l) => l.synchronized(publish())
            case None => publish()
          }
        } finally Files.deleteIfExists(tmp)
      } catch {
        // the version was vacuumed (cross-process) under our feet —
        // its checkpoint is moot; keep walking later boundaries.
        // UNLESS the _log directory itself is gone (table dropped /
        // root deleted cross-process): mirroring tryCommit, fail
        // loudly — a maintenance cadence swallowing this would
        // silently no-op on a dropped table forever.
        case e: java.nio.file.NoSuchFileException =>
          if (!Files.exists(logDir(name)))
            throw new IllegalStateException(
              s"table $name: _log directory vanished during checkpoint " +
                "maintenance (table dropped or root deleted concurrently)", e)
      }
      cps += b
    }
  }

  /** Commit with append semantics: on CAS loss the new files are
    * re-based onto the winner's version and retried — appends commute,
    * so this is safe for any number of concurrent appenders. */
  private def commitAppend(name: String, op: String,
                           newFiles: Seq[ManifestFile]): Unit = {
    var attempts = 0
    while (attempts < 64) {
      val base = latest(name).getOrElse(
        throw new IllegalStateException(s"unknown table $name — ensure() first"))
      val c = Commit(base.version + 1, op, base.schema, base.partitionBy,
        newFiles, Nil, full = false)
      if (tryCommit(name, c)) { maybeCheckpoint(name, c.version); return }
      LogTableStore.commitRetries.incrementAndGet()
      attempts += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"table $name: lost the commit race 64 times — giving up")
  }

  /** Commit a change computed against `base`: on CAS loss the change
    * is STALE (another commit landed on the file list it was derived
    * from) and must abort — the caller's staged files become
    * unreferenced garbage for vacuum. */
  private def commitAgainst(name: String, base: Manifest, op: String,
                            add: Seq[ManifestFile], remove: Seq[String],
                            full: Boolean = false,
                            schema: StructType = null,
                            partitionBy: Seq[String] = null,
                            txns: Map[String, Long] = Map.empty): Unit = {
    val c = Commit(base.version + 1, op,
      Option(schema).getOrElse(base.schema),
      Option(partitionBy).getOrElse(base.partitionBy), add, remove, full,
      txns = if (full) base.txns ++ txns else txns)
    if (!tryCommit(name, c))
      throw new java.util.ConcurrentModificationException(
        s"table $name: version ${base.version + 1} was committed concurrently; " +
          s"this $op was computed against v${base.version} and is stale — retry")
    maybeCheckpoint(name, c.version)
  }

  // ---- DDL -------------------------------------------------------------

  override def ensure(name: String, schema: StructType,
                      partitionBy: Seq[String] = Nil): Unit =
    jvmLock(name).synchronized {
      if (!exists(name)) {
        // a table written by the retired directory-listing store has
        // `_meta.json` + parquet but no `_log`: creating an empty log
        // beside it would silently hide every existing row
        if (Files.exists(tableDir(name).resolve("_meta.json")))
          throw new IllegalStateException(
            s"table $name at ${tableDir(name)} has _meta.json but no _log: " +
              "it was written by the retired parquet store, which this store " +
              "cannot read — re-ingest into a fresh store root")
        // CAS loss here means someone else created it — IF NOT EXISTS
        tryCommit(name, Commit(1L, "create", schema, partitionBy,
          Nil, Nil, full = true))
        ()
      }
    }

  override def addColumn(name: String, field: StructField): Unit =
    jvmLock(name).synchronized {
      val base = latest(name).getOrElse(
        throw new IllegalArgumentException(s"unknown table $name"))
      require(!base.schema.fieldNames.contains(field.name),
        s"column ${field.name} already exists on $name")
      commitAgainst(name, base, "add-column", Nil, Nil,
        schema = StructType(base.schema.fields :+ field))
    }

  // ---- reads -----------------------------------------------------------

  private def readFiles(name: String, m: Manifest,
                        files: Seq[ManifestFile]): DataFrame = {
    val live = files.filter(_.rows > 0L)
    if (live.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    else
      spark.read.schema(m.schema)
        .parquet(live.map(f => tableDir(name).resolve(f.path).toString): _*)
  }

  override def scan(name: String): DataFrame = {
    val m = latest(name).getOrElse(
      throw new IllegalArgumentException(s"unknown table $name"))
    readFiles(name, m, m.files)
  }

  /** Time travel: the table exactly as of commit `version`, including
    * that version's declared schema. */
  def scanAt(name: String, version: Long): DataFrame = {
    require(Files.exists(commitPath(name, version)),
      s"no version $version of table $name")
    val m = resolve(name, version, logEntries(name)._2)
    readFiles(name, m, m.files)
  }

  /** The file entries of `m` that COULD hold a row with `colName` in
    * [start, end]: zone-intersecting, unknown-zone, or (conservatively)
    * every file when the column isn't zone-comparable. Driver-side,
    * zero file IO — the zones were captured at commit. */
  private def candidateFiles(m: Manifest, colName: String,
                             start: String, end: String): Seq[ManifestFile] =
    candidateFilesOpen(m, colName, Some(start), Some(end))

  /** Open-bound variant: None = unbounded side. All analyzed shapes
    * are null-rejecting comparisons, so proven-all-null files are
    * always prunable. */
  private def candidateFilesOpen(m: Manifest, colName: String,
                                 lo: Option[String],
                                 hi: Option[String]): Seq[ManifestFile] =
    m.schema.fields.find(_.name == colName) match {
      case Some(f) if Zones.comparable(f.dataType) =>
        val dt = f.dataType
        // parse the predicate's literal bounds ONCE, and degrade to
        // "keep every file" when a literal doesn't parse as the
        // column's declared type (e.g. delete(col("n") < lit(3.5)) on
        // a long column) — a type-mismatched but valid predicate must
        // cost pruning, never throw NumberFormatException
        scala.util.Try((lo.map(Zones.parse(dt, _)),
            hi.map(Zones.parse(dt, _)))) match {
          case scala.util.Success((loP, hiP)) =>
            m.files.filter { mf =>
              mf.zones.get(colName) match {
                case Some(z) if z.allNull => false
                case Some(ZoneEntry(Some(mn), Some(mx), _)) =>
                  hiP.forall(h => Zones.cmp(dt, Zones.parse(dt, mn), h) <= 0) &&
                  loP.forall(l => Zones.cmp(dt, Zones.parse(dt, mx), l) >= 0)
                case _ => true // unknown zone → keep
              }
            }
          case scala.util.Failure(_) => m.files
        }
      case _ => m.files
    }

  override def scanRange(name: String, dateCol: String, start: String,
                         end: String): DataFrame = {
    val m = latest(name).getOrElse(
      throw new IllegalArgumentException(s"unknown table $name"))
    readFiles(name, m, candidateFiles(m, dateCol, start, end))
      .where(col(dateCol).between(start, end))
  }

  // ---- writes ----------------------------------------------------------

  private def align(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  /** Stage `df` as new immutable files under `data/` and return their
    * manifest entries (rows + zones from the just-written footers —
    * commit time is the ONLY time this store reads a footer). Files
    * are invisible until a log entry references them. */
  private def stage(name: String, df: DataFrame, base: Manifest,
                    precomposed: Boolean = false): Seq[ManifestFile] = {
    val aligned = align(df, base.schema)
    // cluster rows by partition key so each staged file covers few
    // partition values — that is what makes the zones on the
    // partition column selective (hive-style directories would STRIP
    // the columns from the files; zones keep them self-contained).
    // compact() pre-shapes its own layout and must not be re-shuffled.
    val clustered =
      if (!precomposed && base.partitionBy.nonEmpty)
        aligned.repartition(base.partitionBy.map(col): _*)
      else aligned
    val txId = java.util.UUID.randomUUID().toString
    val stageDir = stagingDir(name).resolve(txId)
    clustered.write.mode(SaveMode.ErrorIfExists).parquet(stageDir.toString)
    Files.createDirectories(dataDir(name))
    val conf = spark.sessionState.newHadoopConf()
    val zoneCols = base.schema.fields.toSeq.filter(f => Zones.comparable(f.dataType))
    // stat in staging, move only non-empty files — zero-row part files
    // must never reach data/ (they'd be permanent unreferenced orphans)
    val moved = listParquet(stageDir).flatMap { f =>
      val (rows, zones) = Zones.readFooter(conf, f, zoneCols)
      if (rows == 0L) None
      else {
        val target = dataDir(name).resolve(s"$txId-${f.getFileName}")
        Files.move(f, target, StandardCopyOption.ATOMIC_MOVE)
        Some(ManifestFile(tableDir(name).relativize(target).toString,
          rows, Files.size(target), zones))
      }
    }
    deleteRecursively(stageDir)
    moved
  }

  override def append(name: String, df: DataFrame): Unit =
    jvmLock(name).synchronized {
      val base = latest(name).getOrElse(
        throw new IllegalArgumentException(s"unknown table $name"))
      val staged = stage(name, df, base)
      if (staged.nonEmpty) commitAppend(name, "append", staged)
    }

  /** Exactly-once streaming sink append — the Delta `txn` action
    * model: the commit records (writerId → batchVersion) and the
    * resolved manifest folds these into a high-water mark per writer,
    * so a REPLAYED micro-batch (foreachBatch re-delivery after a
    * checkpoint recovery) is detected from the log itself and skipped
    * before any write happens. This gives plain appends exactly-once
    * semantics without a key-merge: idempotence lives in the commit
    * protocol, not in the data. Returns true iff the batch was
    * applied, false iff it was a recognized replay.
    *
    * Note rollback() deliberately KEEPS the current high-water marks
    * (restoring data must not silently re-admit old batches); a
    * genuinely intended re-ingest restarts from a fresh writerId or
    * stream checkpoint. */
  def appendOnce(name: String, df: DataFrame,
                 writerId: String, batchVersion: Long): Boolean =
    jvmLock(name).synchronized {
      val base = latest(name).getOrElse(
        throw new IllegalArgumentException(s"unknown table $name"))
      if (base.txns.get(writerId).exists(_ >= batchVersion)) false
      else {
        val staged = stage(name, df, base)
        // commit even when no rows staged: the high-water mark must
        // advance or an empty batch would be "replayed" forever
        commitAgainst(name, base, "append-once", staged, Nil,
          txns = Map(writerId -> batchVersion))
        true
      }
    }

  // ---- key Bloom prefilter --------------------------------------------
  // Zone pruning answers "which FILES may hold this key range" — for
  // time-ordered keys that is most of the win. Surrogate-hash keys
  // (the reference's bronze event_id) are uniform, so every file's
  // zone spans the space and zones prune nothing; the Bloom filter
  // answers the other question, "which INCOMING rows may already
  // exist", and lets provably-fresh rows skip the anti-join entirely.
  // Kept as a sidecar beside the log, not in it: it is an advisory
  // index, not part of the commit protocol. The sidecar is VERSIONED
  // (header carries the table version it absorbed through): the
  // "definitely fresh" fast path is taken only when every key-adding
  // commit at or below the merge's base is provably absorbed —
  // otherwise keys merged by another process/instance, or committed
  // just before a crash between commit and absorb, would be missing
  // from the filter, pass as fresh, skip the anti-join, and insert
  // silent duplicates. A lagging sidecar costs one full anti-join +
  // a re-seed, never a missed duplicate.

  private def bloomPath(name: String): Path =
    tableDir(name).resolve("_keybloom.bin")

  /** Commits that can introduce keys the sidecar must cover. delete/
    * compact/rollback/add-column/create only shrink or rearrange the
    * key set (rollback restores previously-absorbed keys, which the
    * filter still holds — it only ever grows). */
  private val keyAddingOps =
    Set("append", "append-once", "merge-insert", "merge-upsert")

  /** True iff the sidecar absorbed through `absorbedV` covers every
    * key that can exist at `base`: either it is current, or every
    * commit in the gap is provably non-key-adding. A vacuumed-away
    * (unreadable) gap commit counts as uncovered — conservative. */
  private def bloomCovers(name: String, absorbedV: Long,
                          base: Manifest): Boolean =
    absorbedV >= base.version ||
      ((absorbedV + 1) to base.version).forall { v =>
        val p = commitPath(name, v)
        Files.exists(p) && !keyAddingOps(readCommitFile(p).op)
      }

  /** Opt a table into Bloom-prefiltered insert-only merges (call once
    * per (re)start; an existing sidecar is reused, else one is seeded
    * from the current contents). Contract: after enabling, keyed
    * writes go through the merge surface — a plain append of keyed
    * rows parks the sidecar at its pre-append version, which the
    * version gate detects (fast path off, next merge re-seeds). */
  def enableKeyBloom(name: String, keys: Seq[String],
                     expectedItems: Long = 10000000L,
                     fpp: Double = 0.01): Unit = {
    val bits = KeyBloom.optimalBits(expectedItems, fpp)
    bloomConfs.put(tkey(name), (expectedItems, bits))
    if (!Files.exists(bloomPath(name))) {
      val base = latest(name).getOrElse(
        throw new IllegalArgumentException(s"unknown table $name"))
      if (base.files.nonEmpty)
        KeyBloom.agg(readFiles(name, base, base.files), keys,
          expectedItems, bits)
          .foreach(writeBloomFile(name, base.version, _))
    }
  }

  /** (absorbed-through version, filter payload) — from the shared
    * same-JVM cache when its version matches the file header, else
    * re-read (another process may have advanced the sidecar). A
    * missing, legacy-format, or corrupt sidecar reads as None. */
  private def bloomSidecar(name: String): Option[(Long, Array[Byte])] = {
    if (!bloomConfs.contains(tkey(name))) return None
    val p = bloomPath(name)
    if (!Files.exists(p)) { bloomCaches.remove(tkey(name)); return None }
    val headerV = readBloomHeaderVersion(p)
    headerV match {
      case None => None // legacy/corrupt → no fast path; absorb re-seeds
      case Some(v) =>
        bloomCaches.get(tkey(name)).filter(_._1 == v).orElse {
          decodeBloom(Files.readAllBytes(p)).map { entry =>
            bloomCaches.put(tkey(name), entry); entry
          }
        }
    }
  }

  private def writeBloomFile(name: String, absorbedThrough: Long,
                             payload: Array[Byte]): Unit = {
    val tmp = tableDir(name).resolve(s"._keybloom.${System.nanoTime()}.tmp")
    Files.write(tmp, encodeBloom(absorbedThrough, payload))
    Files.move(tmp, bloomPath(name), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    bloomCaches.put(tkey(name), (absorbedThrough, payload))
  }

  /** OR freshly committed keys into the sidecar — reads them back from
    * the just-written staged files (cheap local IO, no recompute of
    * the probe join). Runs AFTER the commit succeeded; stamps the new
    * version only when the previous sidecar covered `base`, else
    * RE-SEEDS from the post-commit table (restoring coverage after a
    * crashed absorb, a legacy sidecar, or a foreign writer). */
  private def bloomAbsorb(name: String, base: Manifest,
                          staged: Seq[ManifestFile], keys: Seq[String]): Unit =
    bloomConfs.get(tkey(name)).foreach { case (items, bits) =>
      val newV = base.version + 1
      val existing = bloomSidecar(name)
      if (existing.exists { case (v, _) => bloomCovers(name, v, base) })
        KeyBloom.agg(readFiles(name, base, staged), keys, items, bits)
          .foreach(d =>
            writeBloomFile(name, newV, KeyBloom.or(existing.get._2, d)))
      else if (existing.isEmpty && base.files.isEmpty)
        // first keys ever — the staged delta IS full coverage
        KeyBloom.agg(readFiles(name, base, staged), keys, items, bits)
          .foreach(writeBloomFile(name, newV, _))
      else {
        val m = latest(name).getOrElse(base)
        if (m.files.isEmpty) {
          Files.deleteIfExists(bloomPath(name))
          bloomCaches.remove(tkey(name))
        } else
          KeyBloom.agg(readFiles(name, m, m.files), keys, items, bits)
            .foreach(writeBloomFile(name, m.version, _))
      }
    }

  /** Files that may hold one of the incoming batch's keys, from zone
    * metadata alone. Coarse pass: the batch's single [min, max] key
    * window (one tiny agg job). A single window is the wrong shape
    * exactly when it matters most — a routine MIXED batch (update a
    * few mid-table keys AND insert at the key tail: every CDC change
    * window) spans most of the keyspace, so zone candidacy degrades
    * to "almost every file" and the COW rewrite/anti-probe goes
    * O(table) for a 10-row batch (caught by the CDC replica decade
    * arm: a fixed 10-key sync tick shuffled 61→311 MB across a
    * 1M→10M replica decade). So when the coarse window admits more
    * than a handful of files AND the key is numeric, a refinement
    * pass re-windows the batch into [[RefineWindows]] quantile
    * buckets and takes each bucket's TRUE [min, max] — inter-cluster
    * GAPS (the mid-band→tail void) fall between windows and their
    * files drop out. Safe by construction at any bucketing quality:
    * every key lies inside its own bucket's min/max, so the window
    * union always covers the batch — a skewed quantile sketch only
    * costs tightness, never correctness. Cost: one approxQuantile
    * job + one ≤(windows+1)-row agg, only on the >threshold path;
    * zone checks stay driver-side manifest filters. The bucketing
    * scalar comes from the INCOMING column's type ([[refineScalar]]:
    * numerics as doubles, strings via an order-preserving 7-byte
    * UTF-8 window taken after the batch's common prefix); a column
    * no scalar fits keeps the coarse window
    * — [[mergeUpsert]]'s touched-file probe and
    * deleteKeys/mergeInsertOnly's own probes still narrow those. */
  private def keyCandidates(base: Manifest, incoming: DataFrame,
                            keys: Seq[String]): Seq[ManifestFile] =
    base.schema.fields.find(_.name == keys.head) match {
      case Some(f) if Zones.comparable(f.dataType) =>
        val bounds = incoming.agg(
          min(col(keys.head)).cast("string"),
          max(col(keys.head)).cast("string")).head()
        if (bounds.isNullAt(0)) Nil // empty/all-null incoming
        else {
          val coarse = candidateFiles(base, keys.head,
            bounds.getString(0), bounds.getString(1))
          if (coarse.size <= RefineCandidatesAbove) coarse
          else refineScalar(incoming, keys.head,
              bounds.getString(0), bounds.getString(1)) match {
            case None => coarse
            case Some(scalar) =>
              // degrade to coarse on any refinement failure (an
              // exotic incoming column the quantile sketch rejects) —
              // refinement is an optimization and must never fail a
              // merge the coarse window could serve
              scala.util.Try(refineCandidates(incoming,
                  keys.head, f.dataType, scalar, coarse))
                .getOrElse(coarse)
          }
        }
      case _ => base.files
    }

  /** Test hook: the zone-candidacy file set [[keyCandidates]] would
    * search for `incoming`'s keys, as relative paths. Lets specs pin
    * candidacy TIGHTNESS directly (e.g. that URL-shaped keys sharing
    * a long prefix still refine down to their touched clusters)
    * without inferring it from read-byte rulers. */
  private[store] def keyCandidatePaths(name: String, incoming: DataFrame,
      keys: Seq[String]): Seq[String] =
    latest(name).toSeq.flatMap(m =>
      keyCandidates(m, incoming, keys).map(_.path))

  /** Refinement threshold: below it a coarse-window rewrite of the
    * few candidate files is cheaper than the refinement's two extra
    * jobs (the tight-zone streaming-fold common case). */
  private val RefineCandidatesAbove = 4
  private val RefineWindows = 32

  /** Bucketing scalar for the quantile refinement, from the INCOMING
    * column's type: numerics cast to double (2^53 rounding only
    * coarsens grouping — see the safety argument); strings map to the
    * numeric value of 7 UTF-8 bytes taken AFTER the batch-wide common
    * prefix, zero-padded to a fixed 7-byte width. Stripping the
    * common prefix matters for URL/path-shaped keys
    * ("https://domain/long/path/id…" — the realistic LLM-corpus
    * document key): their first 7 bytes are a batch-wide constant, so
    * an unstripped scalar maps every key to one value, every row to
    * one quantile bucket, and the "refined" window collapses back to
    * the coarse [min,max] — exactly the O(key-span) shape the
    * refinement exists to kill. The common prefix is free: every key
    * in the batch lies between the coarse pass's min and max in
    * byte-lexicographic order, so it shares their common byte prefix
    * (the standard interval-prefix lemma — Spark compares strings by
    * unsigned UTF-8 byte order, the same order min/max used). The
    * 0x00 right-padding makes prefixes compare at equal width
    * ("b"→0x62000000000000 > "aa"→0x61610000000000, matching
    * byte-lexicographic order — unpadded values invert it across
    * lengths). Either way the projection is lossy-but-safe:
    * per-bucket windows are TRUE key bounds whatever the grouping.
    * Other types: no refinement. */
  private def refineScalar(incoming: DataFrame, key: String,
      lo: String, hi: String): Option[org.apache.spark.sql.Column] =
    incoming.schema.fields.find(_.name == key).map(_.dataType) match {
      case Some(dt) if dt.isInstanceOf[
          org.apache.spark.sql.types.NumericType] =>
        Some(col(key).cast("double"))
      case Some(org.apache.spark.sql.types.StringType) =>
        val a = lo.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val b = hi.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var p = 0
        while (p < a.length && p < b.length && a(p) == b(p)) p += 1
        // bytes [p+1, p+7] of key ++ 0x00*7 — always exactly 7 bytes
        // (every batch key has ≥ p bytes: it starts with the shared
        // prefix), so hex/conv compares all keys at equal width
        Some(conv(hex(substring(
            concat(encode(col(key), "UTF-8"),
              lit(Array.fill[Byte](7)(0.toByte))),
            p + 1, 7)), 16, 10)
          .cast("double"))
      case _ => None
    }

  /** `dt` is the BASE column's (zone-comparable, caller-checked) type
    * — [[keyCandidates]] resolves it once; re-deriving here would
    * plant a second copy of the comparability rule and a dead
    * degrade arm. */
  private def refineCandidates(incoming: DataFrame,
      key: String, dt: org.apache.spark.sql.types.DataType,
      scalar: org.apache.spark.sql.Column,
      coarse: Seq[ManifestFile]): Seq[ManifestFile] = {
    val probs = (0 to RefineWindows)
      .map(_.toDouble / RefineWindows).toArray
    val pfx = "__graft_refine_k"
    val framed = incoming.select(col(key), scalar.as(pfx))
    val qs = framed.stat.approxQuantile(pfx, probs, 0.01)
    if (qs.isEmpty) return coarse
    // bucket = #boundaries strictly below the key's scalar; ANY
    // assignment is a valid partition of the batch (see scaladoc)
    val boundsLit = typedLit(qs.distinct.sorted.toSeq)
    val bucket = size(filter(boundsLit, x => x < col(pfx)))
    val windows = framed.groupBy(bucket.as("__graft_b"))
      .agg(min(col(key)).cast("string").as("lo"),
        max(col(key)).cast("string").as("hi"))
      .collect().flatMap(r =>
        if (r.isNullAt(1)) None else Some((r.getString(1), r.getString(2))))
    // ONE parsed pass over the coarse candidates: each file's zone
    // strings parse once and test against all (≤33) pre-parsed
    // windows. The per-window-candidateFiles formulation this
    // replaces re-walked base.files and RE-PARSED every file's zone
    // strings once per window — O(windows × |manifest|) boxed parses,
    // ~25 s of driver CPU per refined merge at a 1M-file manifest
    // (measured in the manifest-dimension arm; now one pass).
    // Divergence-safe by the same rules as candidateFilesOpen:
    // all-null files can match no window, unknown zones always keep,
    // and any parse failure propagates to keyCandidates' Try → coarse.
    val ws = windows.map { case (lo, hi) =>
      (Zones.parse(dt, lo), Zones.parse(dt, hi)) }
    coarse.filter { mf =>
      mf.zones.get(key) match {
        case Some(z) if z.allNull => false
        case Some(ZoneEntry(Some(mn), Some(mx), _)) =>
          val mnP = Zones.parse(dt, mn)
          val mxP = Zones.parse(dt, mx)
          ws.exists { case (lo, hi) =>
            Zones.cmp(dt, mxP, lo) >= 0 && Zones.cmp(dt, mnP, hi) <= 0 }
        case _ => true // unknown zone → keep
      }
    }
  }

  /** S7. Rows actually inserted = the staged footer row counts — the
    * count costs zero extra Spark actions. The anti-join probe reads
    * only the files whose key ZONE intersects the batch's key range
    * (cost O(files that may collide), not O(table) — the same pruning
    * the COW upsert uses; a file outside the window provably holds no
    * replayed key). */
  override def mergeInsertOnly(name: String, incoming: DataFrame,
                               keys: Seq[String]): Long =
    jvmLock(name).synchronized {
      val base = latest(name).getOrElse(
        throw new IllegalArgumentException(s"unknown table $name"))
      // materialized for the same reason as mergeUpsert's batch: the
      // candidacy agg and the anti-join+write are separate evaluations,
      // and a non-deterministic incoming could stage a key whose file
      // the candidacy pass never searched — a silent duplicate insert
      val deduped0 = incoming.dropDuplicates(keys).localCheckpoint(true)
      try {
        mergeInsertOnlyImpl(name, base, deduped0, keys)
      } finally graft.SparkUtil.releaseCheckpoint(deduped0)
    }

  private def mergeInsertOnlyImpl(name: String, base: Manifest,
                                  deduped0: DataFrame,
                                  keys: Seq[String]): Long = {
      // Bloom prefilter: rows whose key the superset filter has never
      // seen are provably fresh — only the might-contain remainder
      // pays the anti-join (for surrogate-hash keys this is the whole
      // win; zones below can't prune a uniform key space). The fast
      // path is VERSION-GATED: a sidecar that hasn't absorbed every
      // key-adding commit ≤ base (crashed absorb, foreign writer,
      // legacy format) may be missing live keys — additive staleness,
      // which unlike delete-shrink staleness CAN cause a missed
      // duplicate — so a lagging sidecar falls back to the full
      // anti-join and bloomAbsorb re-seeds it afterwards.
      val (definitelyFresh, deduped) = bloomSidecar(name) match {
        case Some((absorbedV, b)) if bloomCovers(name, absorbedV, base) =>
          val might = KeyBloom.mightContain(b, keys)
          (Some(deduped0.where(!might)), deduped0.where(might))
        case _ => (None, deduped0)
      }
      val probeFiles =
        if (base.files.isEmpty) Nil
        else keyCandidates(base, deduped, keys)
      val probed =
        if (probeFiles.isEmpty) deduped
        else deduped.join(readFiles(name, base, probeFiles)
          .select(keys.map(col): _*), keys, "left_anti")
      val fresh = definitelyFresh match {
        case Some(df) => df.unionByName(probed)
        case None => probed
      }
      val staged = stage(name, fresh, base)
      // not commitAppend: the anti-join was computed against `base`, so
      // a CAS loss means another writer may have inserted the same keys
      // — rebasing would silently duplicate them; abort loudly instead
      if (staged.nonEmpty) {
        commitAgainst(name, base, "merge-insert", staged, Nil)
        bloomAbsorb(name, base, staged, keys)
      }
      staged.map(_.rows).sum
  }

  /** S8: copy-on-write upsert, incoming wins on matched keys. Matched-
    * file search is zone-pruned on the FIRST key column — quantile-
    * refined key-cluster windows for numeric keys, the coarse
    * [min, max] window plus a touched-file data probe for the rest
    * (see [[keyCandidates]]) — so files that provably (zones) or
    * actually (probe) miss every incoming key are NOT rewritten and
    * NOT mentioned in the delta: cost is O(files that match), not
    * O(table) and not O(key span), exactly Iceberg's copy-on-write
    * MERGE contract.
    *
    * The batch is MATERIALIZED (eager localCheckpoint) before any of
    * the passes that consult it (window aggs, probe, anti-join,
    * staged write): they must all see the same rows, and a
    * non-deterministic incoming frame re-evaluated per pass could
    * otherwise stage keys the candidacy pass never saw — a matched
    * file left un-rewritten is a silent duplicate row (the same
    * reason Delta materializes the MERGE source). */
  override def mergeUpsert(name: String, incoming: DataFrame,
                           keys: Seq[String]): Unit =
    jvmLock(name).synchronized {
      val base = latest(name).getOrElse(
        throw new IllegalArgumentException(s"unknown table $name"))
      val deduped = incoming.dropDuplicates(keys).localCheckpoint(true)
      try {
        if (base.files.isEmpty) {
          val staged = stage(name, deduped, base)
          if (staged.nonEmpty) {
            commitAgainst(name, base, "merge-upsert", staged, Nil)
            bloomAbsorb(name, base, staged, keys)
          }
          return
        }
        // zone candidacy (quantile-refined — numeric AND string keys,
        // see keyCandidates); when the candidate set is STILL wide
        // after refinement (scattered keys, zone overlap from
        // un-compacted appends, a non-refinable key type), narrow the
        // REWRITE to files actually holding an incoming key with the
        // deleteKeys-style probe: one key-column read of the
        // candidates buys skipping every untouched file's rewrite
        val zoneCand = keyCandidates(base, deduped, keys)
        val candidates =
          if (zoneCand.size <= RefineCandidatesAbove) zoneCand
          else {
            val touchedPaths = readFiles(name, base, zoneCand)
              .withColumn("__graft_file", input_file_name())
              .join(deduped.select(keys.map(col): _*), keys, "left_semi")
              .select(col("__graft_file")).distinct()
              .collect() // O(touched files), like delete()'s probe
              .map(r => relativizeUri(tableDir(name), r.getString(0)))
              .toSet
            base.files.filter(f => touchedPaths(f.path))
          }
        val survivors =
          if (candidates.isEmpty) spark.emptyDataFrame
          else readFiles(name, base, candidates)
            .join(deduped.select(keys.map(col): _*), keys, "left_anti")
        val rewritten =
          if (candidates.isEmpty) deduped
          else survivors.unionByName(align(deduped, base.schema))
        val staged = stage(name, rewritten, base)
        commitAgainst(name, base, "merge-upsert", staged,
          candidates.map(_.path))
        // upserted keys enter the sidecar too, so the superset
        // invariant holds for tables that mix merge styles
        // (staged ⊇ incoming keys)
        bloomAbsorb(name, base, staged, keys)
      } finally graft.SparkUtil.releaseCheckpoint(deduped)
    }

  /** S11: copy-on-write delete. One pruned probe pass finds the files
    * that ACTUALLY contain matching rows (`input_file_name` over the
    * filtered scan — predicate pushdown applies, and only those files
    * are rewritten); every other file is untouched and absent from the
    * delta. Returns rows removed, from footer counts (no extra
    * action). */
  override def delete(name: String, predicate: Column): Long =
    jvmLock(name).synchronized {
      val base = latest(name).getOrElse(
        throw new IllegalArgumentException(s"unknown table $name"))
      if (base.files.isEmpty) return 0L
      // simple range/equality predicates zone-prune the probe itself
      // (a retention delete on ts never schedules in-retention files);
      // unanalyzable shapes (k % 7 = 0) probe everything, row-group
      // pushdown still applying inside the scan
      val searchFiles = ZonePredicate.analyze(predicate) match {
        case Some(w) => candidateFilesOpen(base, w.col, w.lo, w.hi)
        case None => base.files
      }
      if (searchFiles.isEmpty) return 0L
      val touchedPaths = readFiles(name, base, searchFiles)
        .where(predicate)
        .select(input_file_name().as("f")).distinct()
        .collect().map(r => relativizeUri(tableDir(name), r.getString(0))).toSet
      if (touchedPaths.isEmpty) return 0L
      val touched = base.files.filter(f => touchedPaths(f.path))
      val kept = readFiles(name, base, touched)
        .where(!coalesce(predicate, lit(false)))
      val staged = stage(name, kept, base)
      commitAgainst(name, base, "delete", staged, touched.map(_.path))
      touched.map(_.rows).sum - staged.map(_.rows).sum
    }

  /** Keyed COW delete — [[delete]]'s machinery with the predicate
    * replaced by a left-anti join against a DISTRIBUTED key frame, so
    * the delete set is never collected to the driver and never
    * becomes a literal list the analyzer must swallow (a CDC window
    * carrying a retention sweep's deletes is a routine event at
    * scale). Candidate files zone-prune against the key frame's
    * [min, max] on the first key column (one 1-row driver agg — the
    * same pruning the COW upsert uses); a probe pass then narrows the
    * rewrite to files ACTUALLY holding a matching key. Returns rows
    * removed. */
  def deleteKeys(name: String, keysDf: DataFrame,
                 keyCols: Seq[String]): Long =
    jvmLock(name).synchronized {
      val base = latest(name).getOrElse(
        throw new IllegalArgumentException(s"unknown table $name"))
      if (base.files.isEmpty) return 0L
      val keysD = keysDf.select(keyCols.map(col): _*)
        .dropDuplicates(keyCols)
        .localCheckpoint(true) // reused: candidates agg, probe, anti
      try {
        if (keysD.isEmpty) return 0L
        val searchFiles = keyCandidates(base, keysD, keyCols)
        if (searchFiles.isEmpty) return 0L
        val touchedPaths = readFiles(name, base, searchFiles)
          .withColumn("__graft_file", input_file_name())
          .join(keysD, keyCols, "left_semi")
          .select(col("__graft_file")).distinct()
          .collect() // O(touched files), like delete()'s probe
          .map(r => relativizeUri(tableDir(name), r.getString(0))).toSet
        if (touchedPaths.isEmpty) return 0L
        val touched = base.files.filter(f => touchedPaths(f.path))
        val kept = readFiles(name, base, touched)
          .join(keysD, keyCols, "left_anti")
        val staged = stage(name, kept, base)
        commitAgainst(name, base, "delete", staged, touched.map(_.path))
        touched.map(_.rows).sum - staged.map(_.rows).sum
      } finally graft.SparkUtil.releaseCheckpoint(keysD)
    }

  /** Row-level changefeed (fromVersion, toVersion] computed from ONLY
    * the files the log says changed — Delta's change-data-feed shape
    * without auxiliary CDC files. Rows living in files present in BOTH
    * versions are untouched by construction (files are immutable), so
    * the diff reads the removed files (before-image) and the added
    * files (after-image) and nothing else: cost is O(changed files),
    * not O(table) — at 100 TB the difference between a changefeed and
    * a nightly full-table compare. Output is the later version's
    * columns with `_change_type` ∈ insert / delete / update_postimage.
    *
    * Assumes `keys` identify a row uniquely in each version — the
    * invariant the MERGE surface maintains. On a duplicate-key append
    * table, key-based CDC is ill-defined in any system; use
    * `scanAt`+full compare instead. */
  def changes(name: String, fromVersion: Long, toVersion: Long,
              keys: Seq[String]): DataFrame = {
    require(fromVersion < toVersion,
      s"fromVersion $fromVersion must precede toVersion $toVersion")
    val cps = logEntries(name)._2
    require(Files.exists(commitPath(name, fromVersion)),
      s"no version $fromVersion of table $name")
    require(Files.exists(commitPath(name, toVersion)),
      s"no version $toVersion of table $name")
    val mFrom = resolve(name, fromVersion, cps)
    val mTo = resolve(name, toVersion, cps)
    val fromPaths = mFrom.files.map(_.path).toSet
    val toPaths = mTo.files.map(_.path).toSet
    val removed = mFrom.files.filterNot(f => toPaths(f.path))
    val added = mTo.files.filterNot(f => fromPaths(f.path))
    val shared = mFrom.schema.fieldNames.toSet
      .intersect(mTo.schema.fieldNames.toSet).toSeq.sorted
    // JSON row signature (quotes/escapes values, omits null fields) so
    // no two distinct rows alias: a shifted column boundary or a NULL
    // turned into "" still reads as an update
    def sig(df: DataFrame): DataFrame = df.withColumn("__sig",
      sha2(to_json(struct(shared.map(col): _*)), 256))
    // ONE full-outer join classifies all three change types — the
    // r9 decade-2 harness caught the previous three-join form (two
    // antis + an inner) scanning each changed file side up to twice
    // and shuffling the after-image payload twice; at small scale
    // broadcasts hid the constant entirely and the regime flip to
    // sort-merge read as a 198× shuffle cliff. Each side now shuffles
    // exactly once, carrying its row struct + signature.
    val aCols = mTo.schema.fieldNames.toSeq.filterNot(keys.contains)
    val bCols = mFrom.schema.fieldNames.toSeq.filterNot(keys.contains)
    val aPrep = sig(readFiles(name, mTo, added))
      .select(keys.map(col) ++ Seq(
        struct(aCols.map(col): _*).as("__ra"),
        col("__sig").as("__siga")): _*)
    val bPrep = sig(readFiles(name, mFrom, removed))
      .select(keys.map(col) ++ Seq(
        struct(bCols.map(col): _*).as("__rb"),
        col("__sig").as("__sigb")): _*)
    val changeType =
      when(col("__sigb").isNull, "insert")
        .when(col("__siga").isNull, "delete")
        .when(col("__siga") =!= col("__sigb"), "update_postimage")
        .otherwise(null) // rewritten-but-identical (COW survivor churn)
    val outCols = aCols ++ bCols.filterNot(aCols.contains)
    aPrep.join(bPrep, keys, "full_outer")
      .withColumn("_change_type", changeType)
      .filter(col("_change_type").isNotNull)
      .select(keys.map(col) ++ outCols.map { c =>
        val fromA =
          if (aCols.contains(c)) col("__ra").getField(c)
          else lit(null)
        val fromB =
          if (bCols.contains(c)) col("__rb").getField(c)
          else lit(null)
        when(col("_change_type") === "delete", fromB)
          .otherwise(fromA).as(c)
      } :+ col("_change_type"): _*)
  }

  /** Small-file compaction — the maintenance twin streaming appends
    * need (every micro-batch commit lands a few small files; scan cost
    * grows with file count, not bytes). Folds every live file smaller
    * than `targetBytes` into ~⌈total/target⌉ right-sized files as ONE
    * delta commit (readers at older versions are untouched; vacuum
    * reclaims the smalls later). `clusterBy` range-partitions and
    * sorts the fold so the new files carry DISJOINT key ranges —
    * narrow zones, so scanRange and the COW matched-file search prune
    * harder after compaction than before; because clustering is a
    * GLOBAL property (one right-sized but unsorted file poisons the
    * layout — its zone spans the whole key range and every pruned
    * read must still open it), a non-empty `clusterBy` rewrites EVERY
    * live file, like [[compactZOrder]], not just the small ones.
    * Returns (files folded, files written). */
  def compact(name: String, targetBytes: Long = 128L * 1024 * 1024,
              clusterBy: Seq[String] = Nil): (Long, Long) =
    jvmLock(name).synchronized {
      val base = latest(name).getOrElse(
        throw new IllegalArgumentException(s"unknown table $name"))
      val small =
        if (clusterBy.nonEmpty) base.files
        else base.files.filter(_.bytes < targetBytes)
      // one small file is already compact — but a SINGLE oversized
      // file under clusterBy still needs the rewrite (splitting it
      // into disjoint key ranges is the whole point)
      if (small.size <= 1 &&
          !(clusterBy.nonEmpty && small.exists(_.bytes > targetBytes)))
        return (small.size.toLong, small.size.toLong)
      val n = math.max(1, math.ceil(
        small.map(_.bytes).sum.toDouble / targetBytes).toInt)
      val df = readFiles(name, base, small)
      val parts = base.partitionBy
      val packed =
        if (clusterBy.nonEmpty)
          df.repartitionByRange(n, (parts ++ clusterBy).map(col): _*)
            .sortWithinPartitions(clusterBy.map(col): _*)
        else if (parts.nonEmpty) df.repartition(n, parts.map(col): _*)
        else df.repartition(n)
      val staged = stage(name, packed, base, precomposed = true)
      commitAgainst(name, base, "compact", staged, small.map(_.path))
      (small.size.toLong, staged.size.toLong)
    }

  /** Test hook: memoized manifest versions currently held for `name`
    * (the rotation bound under test is [[LogTableStore.MemoKeepVersions]]). */
  private[store] def memoizedVersionCount(name: String): Int =
    resolved.keySet.count(_._1 == tkey(name))

  /** Manifest-resolved [[TableStore.smallFileCount]] — no file-system
    * stat calls: the log already carries every live file's byte size. */
  override def smallFileCount(name: String, targetBytes: Long): Int =
    latest(name).map(_.files.count(_.bytes < targetBytes / 2)).getOrElse(0)

  /** Multi-dimension clustered compaction — `OPTIMIZE ... ZORDER BY
    * (a, b)` for the log store. Unlike [[compact]] (which folds only
    * the small files), clustering is a GLOBAL property: every live
    * file is rewritten into ~⌈total/targetBytes⌉ files holding
    * disjoint ranges of the Morton interleave
    * ([[graft.functions.ZOrderExpression]]), rows sorted by it within
    * each file, so BOTH dimensions' manifest zones narrow and a
    * predicate on either column prunes files. Same commit/vacuum
    * lifecycle as [[compact]]. */
  def compactZOrder(name: String, targetBytes: Long,
                    dimA: String, dimB: String): (Long, Long) =
    jvmLock(name).synchronized {
      val base = latest(name).getOrElse(
        throw new IllegalArgumentException(s"unknown table $name"))
      if (base.files.isEmpty) return (0L, 0L)
      val n = math.max(1, math.ceil(
        base.files.map(_.bytes).sum.toDouble / targetBytes).toInt)
      val z = graft.functions.ZOrderExpression.zOrder2(col(dimA), col(dimB))
      val packed = readFiles(name, base, base.files)
        .repartitionByRange(n, (base.partitionBy.map(col) :+ z): _*)
        .sortWithinPartitions(z)
      val staged = stage(name, packed, base, precomposed = true)
      commitAgainst(name, base, "compact-zorder", staged,
        base.files.map(_.path))
      (base.files.size.toLong, staged.size.toLong)
    }

  // ---- history maintenance --------------------------------------------

  /** Restore the table to `version` as a NEW full commit reusing that
    * version's file list and schema — history stays append-only, so
    * the rolled-back-from state remains time-travelable until vacuum. */
  def rollback(name: String, version: Long): Unit =
    jvmLock(name).synchronized {
      require(Files.exists(commitPath(name, version)),
        s"no version $version of table $name")
      val target = resolve(name, version, logEntries(name)._2)
      val base = latest(name).get
      commitAgainst(name, base, "rollback", target.files, Nil,
        full = true, schema = target.schema, partitionBy = target.partitionBy)
    }

  /** Time travel by wall clock: the table as of the newest commit at
    * or before `tsMillis` (Delta's `timestampAsOf`). */
  def scanAsOf(name: String, tsMillis: Long): DataFrame = {
    val vs = versions(name)
    require(vs.nonEmpty, s"unknown table $name")
    val at = vs.filter(v =>
      readCommitFile(commitPath(name, v)).tsMillis <= tsMillis)
    require(at.nonEmpty,
      s"no version of $name at or before $tsMillis (oldest is v${vs.head})")
    scanAt(name, at.last)
  }

  /** Operational audit view — `DESCRIBE HISTORY` for the log store:
    * one row per commit (version, op, commit timestamp, delta shape,
    * rows added/removed, writer txn marks). Reads only the small log
    * entries, never data files. */
  def history(name: String): DataFrame = {
    val vs = versions(name)
    require(vs.nonEmpty, s"unknown table $name")
    val rows = vs.map { v =>
      val c = readCommitFile(commitPath(name, v))
      (c.version, c.op,
        new java.sql.Timestamp(c.tsMillis),
        c.full, c.add.size, c.remove.size,
        c.add.map(_.rows).sum,
        c.txns.map { case (k, b) => s"$k=$b" }.toSeq.sorted.mkString(","))
    }
    val sp = spark
    import sp.implicits._
    rows.toDF("version", "op", "committed_at", "full",
      "files_added", "files_removed", "rows_added", "txns")
  }

  /** Time-based retention twin of [[vacuum]]: expire every version
    * whose COMMIT TIME is older than `retainMillis` (but always keep
    * the latest). The retention window is also the snapshot-isolation
    * guarantee for in-flight readers: a scan planned from a version
    * inside the window never loses files under it. */
  def vacuumOlderThan(name: String, retainMillis: Long): (Seq[Long], Long) = {
    val cutoff = System.currentTimeMillis() - retainMillis
    val vs = versions(name)
    require(vs.nonEmpty, s"unknown table $name")
    val keep = vs.count(v =>
      readCommitFile(commitPath(name, v)).tsMillis >= cutoff).max(1)
    // the retention horizon doubles as the file-age grace window (the
    // Delta VACUUM convention): a file younger than the horizon is
    // never reclaimed even when unreferenced
    vacuum(name, keep, graceMillis = retainMillis)
  }

  /** Expire history: checkpoint the oldest retained version (so it
    * stays resolvable without its ancestors), delete older log
    * entries, then delete unreferenced files under `data/` and
    * orphaned staging debris — but ONLY those older than
    * `graceMillis` (mtime-based, Delta VACUUM's retention rule).
    * The grace window is what makes vacuum safe under concurrent
    * writers: `stage()` moves files into `data/` BEFORE the commit
    * CAS publishes them, so a zero-grace vacuum racing that window
    * would delete a second process's staged files and let its commit
    * publish dangling references. Freshly staged files are by
    * definition younger than any sane grace window. Pass
    * `graceMillis = 0` only when no concurrent writer can exist
    * (single-process administrative reclamation — the tests' mode).
    * Returns (expired versions, deleted data files). */
  def vacuum(name: String, keepLast: Int,
             graceMillis: Long = DefaultVacuumGraceMillis): (Seq[Long], Long) =
    jvmLock(name).synchronized {
      require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
      // disk truth, not the cached listing: vacuum's whole job is
      // reconciling the directory (expiry, reachability, debris and
      // orphan sweeps), and foreign checkpoints/orphans are invisible
      // to the cache by design
      val (vs, cps) = listLogDir(name)
      val (expired, retained) = vs.splitAt(math.max(0, vs.size - keepLast))
      if (retained.isEmpty) return (Nil, 0L)
      val oldest = retained.head
      // make the survivor self-contained BEFORE deleting its ancestors
      val oldestM = resolve(name, oldest, cps)
      if (!cps(oldest)) {
        val tmp = logDir(name).resolve(s".v$oldest.cp.${System.nanoTime()}.tmp")
        try {
          writeCommitFile(tmp, Commit(oldest, "checkpoint",
            oldestM.schema, oldestM.partitionBy, oldestM.files, Nil,
            full = true, txns = oldestM.txns))
          try Files.createLink(checkpointPath(name, oldest), tmp)
          catch { case _: FileAlreadyExistsException => () }
        } finally Files.deleteIfExists(tmp)
      }
      // reachable = oldest's live set + everything added after it
      // (a file removed later must survive for the earlier versions)
      val referenced = oldestM.files.map(_.path).toSet ++
        retained.drop(1).flatMap(v =>
          readCommitFile(commitPath(name, v)).add.map(_.path))
      expired.foreach { v =>
        Files.deleteIfExists(commitPath(name, v))
        Files.deleteIfExists(checkpointPath(name, v))
        resolved.remove((tkey(name), v))
      }
      var deleted = 0L
      val ageCutoff = System.currentTimeMillis() - graceMillis
      // a path gathered from a racy listing may vanish before its
      // stat — a cross-process writer's commit tmp lives milliseconds
      // — and a vanished file is by definition not aged debris
      def oldEnough(p: Path): Boolean =
        try Files.getLastModifiedTime(p).toMillis < ageCutoff
        catch { case _: java.io.IOException => false }
      def agedChildren(dir: Path): Seq[Path] =
        if (!Files.exists(dir)) Nil
        else {
          val s = Files.list(dir)
          val kids = try s.toArray.map(_.asInstanceOf[Path]).toSeq
            finally s.close()
          kids.filter(oldEnough)
        }
      if (Files.exists(dataDir(name))) {
        listParquet(dataDir(name)).foreach { f =>
          if (!referenced(tableDir(name).relativize(f).toString) &&
              oldEnough(f)) {
            Files.deleteIfExists(f); deleted += 1
          }
        }
      }
      // staging debris: reclaim per-transaction dirs individually, and
      // only aged ones — a fresh dir may belong to a writer that is
      // about to move its files into data/ and commit
      agedChildren(stagingDir(name)).foreach(deleteRecursively)
      // log-entry tmp debris: the dotted `.v<N>.*.tmp` files the
      // hardlink-CAS publishes from are deleted by their writer's
      // finally, but a hard crash mid-stream skips the finally and a
      // checkpoint tmp is manifest-sized — without a sweep, retried
      // checkpoints on a near-full disk accumulate orphans forever.
      // Aged-only, same grace as staging: a fresh tmp may be an
      // in-flight writer's
      agedChildren(logDir(name)).filter { p =>
        val n = p.getFileName.toString
        n.startsWith(".") && n.endsWith(".tmp")
      }.foreach(Files.deleteIfExists)
      // orphan checkpoints: a checkpoint whose version has NO live
      // commit is garbage by construction (checkpoints are written for
      // existing commits) — the one producer is a background publish
      // that raced a vacuum across processes/instances, and at 10^7
      // files the orphan is GBs. Aged-only, like every other sweep: a
      // fresh checkpoint may belong to a commit that landed after our
      // listing.
      val liveCommits = retained.toSet
      cps.filterNot(liveCommits).foreach { v =>
        val p = checkpointPath(name, v)
        if (oldEnough(p)) Files.deleteIfExists(p)
      }
      // the cached listing now names deleted entries — drop it rather
      // than surgically trimming (vacuum is rare; the next read pays
      // one real listing over the post-vacuum survivor set)
      logListings.remove(tkey(name))
      (expired, deleted)
    }
}

/** Store construction for the deployment mains and external
  * harnesses. `env` is accepted for source compatibility with callers
  * that still pass one and is not read: [[LogTableStore]] is the only
  * backend. */
object TableStores {
  def forEnv(spark: SparkSession, root: String,
             env: Map[String, String] = sys.env): TableStore =
    new LogTableStore(spark, root)
}

private[store] object LogTableStore {

  /** Default vacuum file-age grace: 20 minutes — far longer than any
    * stage()→commit window, far shorter than useful retention. */
  val DefaultVacuumGraceMillis: Long = 20L * 60 * 1000

  // Same-JVM shared state for ALL instances, keyed by canonical
  // root::table — two stores over one root must share the lock and
  // the caches or neither guard applies (r8 ADVICE).
  private val tableLocks = TrieMap.empty[String, Object]
  private val resolvedManifests = TrieMap.empty[(String, Long), Manifest]

  /** Manifest-memo retention per table: enough that the commit fast
    * path (predecessor) and a handful of concurrent readers stay hot,
    * small enough that a commit-per-trigger streaming writer holds a
    * CONSTANT number of O(files) list spines instead of one per commit
    * ever made (the long-runtime driver leak). */
  private[store] val MemoKeepVersions = 8

  /** Per-table index of memoized versions (ascending), maintained
    * lock-free beside [[resolvedManifests]]. Returns the versions the
    * caller must evict to honor [[MemoKeepVersions]]. */
  private val resolvedVersions = TrieMap.empty[String, Vector[Long]]

  @annotation.tailrec
  private[store] def noteResolved(key: String, v: Long): Seq[Long] =
    resolvedVersions.get(key) match {
      case None =>
        if (resolvedVersions.putIfAbsent(key, Vector(v)).isEmpty) Nil
        else noteResolved(key, v)
      case Some(cur) =>
        if (cur.contains(v)) Nil
        else {
          val next = (cur :+ v).sorted
          val keep = next.takeRight(MemoKeepVersions)
          if (resolvedVersions.replace(key, cur, keep))
            next.dropRight(MemoKeepVersions)
          else noteResolved(key, v)
        }
    }
  private val bloomConfs = TrieMap.empty[String, (Long, Long)] // items, bits
  private val bloomCaches = TrieMap.empty[String, (Long, Array[Byte])]

  /** Diagnostic counter: log-entry files read (commits + checkpoints)
    * — LogTableStoreSpec pins "resolution reads O(checkpointInterval)
    * entries", the protocol's O(changed-files) metadata claim. */
  private[store] val logEntryReads =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Diagnostic counters for the multi-writer contention arm: commit
    * CAS losses (appends re-base and retry), and which base each
    * delta resolution walked to — a memoized ancestor (cheap: gap
    * entry reads + one fold) vs a cold disk walk (checkpoint/full).
    * The arm pins "a CAS loser at a 10^6-file manifest re-resolves
    * from the memo, never a cold walk". */
  private[store] val commitRetries =
    new java.util.concurrent.atomic.AtomicLong(0)
  private[store] val resolveMemoBases =
    new java.util.concurrent.atomic.AtomicLong(0)
  private[store] val resolveColdWalks =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-table cached `_log` listing (versions ascending, checkpoint
    * set), keyed root::table — see [[LogTableStore#logEntries]] for
    * the freshness protocol. */
  private val logListings =
    TrieMap.empty[String, (Vector[Long], Set[Long])]

  /** Per-table head- and tail-commit identity stamps (version,
    * mtimeNanos, size), keyed root::table — the recreate detector's
    * memory; see [[LogTableStore#logEntries]]. Bytes per table, not
    * spines. */
  private val headStamps = TrieMap.empty[String, (Long, Long, Long)]
  private val tailStamps = TrieMap.empty[String, (Long, Long, Long)]

  /** Diagnostic counter: REAL `_log` directory listings taken — the
    * long-history soak pins "steady-state commits take zero listings"
    * (the O(1)-amortized `latest()` claim). */
  private[store] val logDirListings =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** IO-rate cap for BACKGROUND checkpoint writes (bytes/sec). A
    * 10^7-entry checkpoint is a ~2.5 GB stream; unpaced, the daemon
    * saturates the device for its whole duration and concurrent
    * commits' fsyncs queue behind it (r15 measured neighbor appends
    * at 7.85 s median during the window). The cap trades window
    * LENGTH for neighbor LATENCY: at the default 256 MB/s a 2.5 GB
    * checkpoint takes ≥10 s but leaves bandwidth headroom for the
    * KB-sized commit writes riding beside it. Checkpoints are
    * redundant metadata bounded by commit cadence — stretching one is
    * free until the next boundary arrives, and a burst coalesces.
    * Tests lower this to hold a write in flight deterministically. */
  @volatile private[store] var checkpointWriteBytesPerSec: Long = 256L << 20

  /** Token-bucket pacer under the buffered writer: sleeps whenever the
    * written byte count runs ahead of `bytesPerSec * elapsed`. Chunks
    * large writes so a single 64 KB flush can't overshoot by more
    * than one chunk. */
  private final class PacedOutputStream(out: java.io.OutputStream,
                                        bytesPerSec: Long)
      extends java.io.FilterOutputStream(out) {
    require(bytesPerSec > 0, s"bytesPerSec must be positive: $bytesPerSec")
    private val t0 = System.nanoTime()
    private var written = 0L
    private def pace(n: Int): Unit = {
      written += n
      val aheadNanos =
        (written / bytesPerSec.toDouble * 1e9).toLong -
          (System.nanoTime() - t0)
      if (aheadNanos > 2000000L)
        try Thread.sleep(aheadNanos / 1000000L)
        catch { case e: InterruptedException =>
          // abort the write, don't swallow: a paced multi-GB stream
          // that keeps going with the interrupt flag set burns every
          // subsequent sleep into a busy spin. The IOException aborts
          // cleanly through the caller's finally (tmp deleted); the
          // daemon task's NonFatal catch absorbs it.
          Thread.currentThread().interrupt()
          val ioe = new java.io.InterruptedIOException(
            "paced checkpoint write interrupted")
          ioe.initCause(e)
          throw ioe }
    }
    override def write(b: Int): Unit = { out.write(b); pace(1) }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      var o = off
      var rem = len
      while (rem > 0) {
        val n = math.min(rem, 1 << 16)
        out.write(b, o, n)
        pace(n)
        o += n
        rem -= n
      }
    }
  }

  /** [[writeCommitFile]] with an IO-rate cap — the background
    * checkpoint writer's path. `Long.MaxValue` degenerates to the
    * unpaced stream. */
  private[store] def writeCommitFilePaced(p: Path, c: Commit,
                                          bytesPerSec: Long): Unit =
    if (bytesPerSec == Long.MaxValue) writeCommitFile(p, c)
    else writeCommitStream(new java.io.BufferedOutputStream(
      new PacedOutputStream(Files.newOutputStream(p), bytesPerSec),
      1 << 16), c)

  // ---- background checkpoint writer -------------------------------------
  // A checkpoint is manifest-sized: at 10^7 entries writing one is tens
  // of seconds of driver work, and r14 paid it INLINE in whichever
  // commit landed on the interval boundary — a trigger-length stall at
  // streaming cadence against a badly-compacted 100 TB table. Readers
  // tolerate checkpoint absence by construction (delta-fold resolution,
  // reads ≤ min(interval, commits)+1 entries), so the write moves to a
  // single shared daemon thread: the commit path only ENQUEUES (a map
  // putIfAbsent + executor submit), and the background task publishes
  // through the same tmp+hardlink-CAS as every other log write — a torn
  // background checkpoint is an invisible aged tmp (vacuum sweeps it),
  // never a readable half-file. One thread for the whole JVM on
  // purpose: checkpoint writes are redundant work bounded by commit
  // cadence, and serializing them caps background IO at one
  // manifest-stream regardless of how many tables are committing.
  private lazy val checkpointPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-log-checkpoint")
      t.setDaemon(true)
      t
    })

  /** Tables with a checkpoint task scheduled-but-not-started, keyed
    * root::table — coalesces a burst of boundary commits into one task
    * (the task writes EVERY missed boundary, so coalescing loses
    * nothing and bounds the queue at one entry per table). */
  private val checkpointScheduled = TrieMap.empty[String, Unit]
  private val checkpointsInFlight =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Tables with a checkpoint STREAM in progress, keyed root::table —
    * serializes concurrent [[LogTableStore#writeMissingCheckpoints]]
    * callers so at most one manifest-sized paced write per table is
    * ever in flight (see the method's scaladoc). */
  private val checkpointStreaming = TrieMap.empty[String, Unit]

  /** Diagnostic counter: manifest-sized checkpoint STREAMS started —
    * the serialization test pins "N concurrent maintenance callers +
    * the daemon stream a missing boundary exactly once". */
  private[store] val checkpointStreams =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Wait until no background checkpoint work is scheduled or running
    * (tests and cadence barriers; never call while holding a table's
    * jvmLock — the task takes it). Returns false on timeout. */
  def awaitBackgroundCheckpoints(timeoutMillis: Long = 120000L): Boolean = {
    val deadline = System.nanoTime() + timeoutMillis * 1000000L
    while (checkpointsInFlight.get() > 0 || checkpointScheduled.nonEmpty) {
      if (System.nanoTime() > deadline) return false
      Thread.sleep(2)
    }
    true
  }

  /** Root liveness generation: bumped by [[dropRoot]]. A checkpoint
    * task scheduled just before `close()` would otherwise run after
    * dropRoot and RE-POPULATE the companion caches under the dropped
    * root via resolve()/jvmLock() — pinning O(files) manifest spines
    * per abandoned root for the JVM lifetime, the exact leak dropRoot
    * exists to prevent. The task captures the epoch at schedule time,
    * skips the write if the root was dropped before it started, and
    * re-evicts whatever it repopulated if the drop raced the write.
    * (One counter per root ever dropped — bytes, not spines.) */
  private val rootEpochs =
    TrieMap.empty[String, java.util.concurrent.atomic.AtomicLong]
  private def rootEpoch(rootKey: String): Long =
    rootEpochs.get(rootKey).map(_.get()).getOrElse(0L)

  /** Evict one table's HEAVY companion-cache entries (what a
    * background checkpoint write repopulates: manifest memo + index,
    * cached listing — the O(files) spines the epoch guard exists
    * for). Deliberately NOT the table lock: if a new store reopened
    * the root meanwhile, removing the lock entry from under a thread
    * that holds it would let the next jvmLock() call mint a second
    * lock object beside it and silently split the same-JVM
    * serialization; a stale lock object is bytes, not spines, and
    * dropRoot (whose contract is quiesced writers) still clears it. */
  private def dropTableCaches(key: String): Unit = {
    resolvedVersions.remove(key)
    logListings.remove(key)
    headStamps.remove(key)
    tailStamps.remove(key)
    resolvedManifests.keySet.filter(_._1 == key)
      .foreach(resolvedManifests.remove)
  }

  private[store] def scheduleCheckpoint(rootKey: String, key: String,
                                        write: () => Unit): Unit =
    if (checkpointScheduled.putIfAbsent(key, ()).isEmpty) {
      val epoch0 = rootEpoch(rootKey)
      checkpointsInFlight.incrementAndGet()
      try checkpointPool.execute { () =>
        // the scheduled-marker drops BEFORE the write so a commit
        // landing mid-write can re-schedule (its boundary might be
        // past the listing this task is about to take)
        checkpointScheduled.remove(key)
        // a task whose write was SKIPPED (epoch already moved when it
        // started) repopulated nothing and must evict nothing — a
        // reopened store over the same root may be live again, and
        // evicting ITS caches from a stale queued task would be the
        // bug this guard exists to prevent, inverted
        val ran = rootEpoch(rootKey) == epoch0
        try { if (ran) write() }
        catch { case scala.util.control.NonFatal(_) => () }
        finally {
          // dropRoot raced the write: evict what it repopulated
          if (ran && rootEpoch(rootKey) != epoch0) dropTableCaches(key)
          checkpointsInFlight.decrementAndGet()
        }
      } catch {
        case scala.util.control.NonFatal(_) => // rejected — clean up
          checkpointScheduled.remove(key)
          checkpointsInFlight.decrementAndGet()
      }
    }

  /** Test hook: evict memoized manifests so a resolution walk can be
    * measured cold (the shared cache otherwise hides it). */
  private[store] def evictResolvedManifests(): Unit = {
    resolvedManifests.clear()
    resolvedVersions.clear()
  }

  /** Per-root eviction behind [[LogTableStore.close]]: clears every
    * cache entry under `rootKey::` (TrieMap iteration is snapshot-
    * consistent, so concurrent repopulation is safe — at worst a
    * fresh entry survives, which is correct). */
  private[store] def dropRoot(rootKey: String): Unit = {
    // bump the epoch FIRST: an in-flight checkpoint task sees the new
    // value after its write and re-evicts whatever it repopulated
    rootEpochs.getOrElseUpdate(rootKey,
      new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
    val prefix = rootKey + "::"
    tableLocks.keySet.filter(_.startsWith(prefix))
      .foreach(tableLocks.remove)
    resolvedManifests.keySet.filter(_._1.startsWith(prefix))
      .foreach(resolvedManifests.remove)
    resolvedVersions.keySet.filter(_.startsWith(prefix))
      .foreach(resolvedVersions.remove)
    logListings.keySet.filter(_.startsWith(prefix))
      .foreach(logListings.remove)
    headStamps.keySet.filter(_.startsWith(prefix))
      .foreach(headStamps.remove)
    tailStamps.keySet.filter(_.startsWith(prefix))
      .foreach(tailStamps.remove)
    bloomConfs.keySet.filter(_.startsWith(prefix))
      .foreach(bloomConfs.remove)
    bloomCaches.keySet.filter(_.startsWith(prefix))
      .foreach(bloomCaches.remove)
  }

  /** Test hook: live companion-cache entries under a root. */
  private[store] def cacheEntryCount(rootKey: String): Int = {
    val prefix = rootKey + "::"
    tableLocks.keySet.count(_.startsWith(prefix)) +
      resolvedManifests.keySet.count(_._1.startsWith(prefix)) +
      resolvedVersions.keySet.count(_.startsWith(prefix)) +
      logListings.keySet.count(_.startsWith(prefix)) +
      bloomConfs.keySet.count(_.startsWith(prefix)) +
      bloomCaches.keySet.count(_.startsWith(prefix))
  }

  /** Test hook: is any background checkpoint scheduled or streaming
    * right now (the in-flight-window probe for the interference
    * arms). */
  private[store] def backgroundCheckpointBusy: Boolean =
    checkpointsInFlight.get() > 0 || checkpointScheduled.nonEmpty

  // versioned Bloom sidecar layout: 4-byte magic + absorbed-through
  // version (big-endian long) + the raw sketch payload
  private val BloomMagic: Array[Byte] = "GKB1".getBytes(UTF_8)

  private def encodeBloom(version: Long, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + payload.length)
    bb.put(BloomMagic).putLong(version).put(payload)
    bb.array()
  }

  private def decodeBloom(bytes: Array[Byte]): Option[(Long, Array[Byte])] =
    if (bytes.length < 12 ||
        !java.util.Arrays.equals(bytes.take(4), BloomMagic)) None
    else {
      val bb = java.nio.ByteBuffer.wrap(bytes, 4, 8)
      Some((bb.getLong,
        java.util.Arrays.copyOfRange(bytes, 12, bytes.length)))
    }

  /** Header-only read (12 bytes) — the cheap per-merge freshness probe
    * against sidecar updates by other processes. None on legacy or
    * corrupt headers. */
  private def readBloomHeaderVersion(p: Path): Option[Long] = {
    val ch = java.nio.channels.FileChannel.open(p)
    try {
      val bb = java.nio.ByteBuffer.allocate(12)
      var n = 0
      while (n >= 0 && bb.hasRemaining) n = ch.read(bb)
      if (bb.hasRemaining) None
      else {
        bb.flip()
        val magic = new Array[Byte](4)
        bb.get(magic)
        if (!java.util.Arrays.equals(magic, BloomMagic)) None
        else Some(bb.getLong)
      }
    } finally ch.close()
  }

  private def listParquet(dir: Path): Seq[Path] = {
    if (!Files.exists(dir)) return Nil
    val s = Files.walk(dir)
    try s.toArray.map(_.asInstanceOf[Path])
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .sortBy(_.toString).toSeq
    finally s.close()
  }

  private def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  /** `input_file_name()` yields a URI (`file:///...`); map it back to
    * a table-root-relative log path. */
  private def relativizeUri(tableDir: Path, uri: String): String =
    tableDir.relativize(Paths.get(java.net.URI.create(uri).getPath)).toString

  // ---- log-entry JSON --------------------------------------------------

  private def renderFiles(fs: Seq[ManifestFile]): org.json4s.JValue = {
    import org.json4s._
    JArray(fs.toList.map { f =>
      JObject(List(
        "path" -> JString(f.path),
        "rows" -> JLong(f.rows),
        "bytes" -> JLong(f.bytes),
        "zones" -> JObject(f.zones.toList.sortBy(_._1).map { case (c, z) =>
          c -> JObject(List(
            "min" -> z.minS.map(JString(_): JValue).getOrElse(JNull),
            "max" -> z.maxS.map(JString(_): JValue).getOrElse(JNull),
            "allNull" -> JBool(z.allNull)))
        })))
    })
  }

  /** AST codec (json4s tree). Kept as the independently-readable SPEC
    * TWIN of the streaming codec below — LogTableStoreSpec pins the
    * two byte-identical on every entry shape. Production read/write
    * goes through [[writeCommitFile]]/[[readCommitStream]]: a
    * CHECKPOINT carries the complete live file list, and at a 100 TB
    * table (~10^6 files at 128 MB) this AST is ~10^7 boxed nodes plus
    * a manifest-sized String materialized on the DRIVER per
    * checkpoint write and per cold resolution. The streaming twins
    * emit/consume the same bytes with O(1) transient memory beyond
    * the manifest itself (the shape Delta gets from parquet
    * checkpoints; measured against this AST control in
    * LogTableStoreSpec's manifest-dimension arm). */
  private[store] def renderCommit(c: Commit): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JObject(List(
      "version" -> JLong(c.version),
      "op" -> JString(c.op),
      "full" -> JBool(c.full),
      "schema" -> JsonMethods.parse(c.schema.json),
      "partitionBy" -> JArray(c.partitionBy.map(JString(_)).toList),
      "add" -> renderFiles(c.add),
      "remove" -> JArray(c.remove.toList.map(JString(_))),
      "txns" -> JObject(c.txns.toList.sortBy(_._1)
        .map { case (id, v) => id -> (JLong(v): JValue) }),
      "ts" -> JLong(c.tsMillis)))
    JsonMethods.compact(JsonMethods.render(j))
  }

  private[store] def parseCommit(s: String): Commit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(s)
    def str(v: JValue): String = v match { case JString(x) => x; case other =>
      throw new IllegalStateException(s"bad log entry field: $other") }
    def lng(v: JValue): Long = v match {
      case JInt(x) => x.toLong; case JLong(x) => x
      case other => throw new IllegalStateException(s"bad log entry field: $other") }
    def files(v: JValue): Seq[ManifestFile] = v match {
      case JArray(fs) => fs.map { f =>
        val zones = (f \ "zones") match {
          case JObject(cs) => cs.toMap.map { case (c, z0) =>
            // strict one-level object match, NOT json4s `\` on z0
            // directly: `\` recurses into array children, so an
            // array-wrapped zone ("k":[{"min":...}]) would yield the
            // inner min here while the streaming twin (correctly)
            // reads it as an ill-shaped zone → empty entry. Zones are
            // advisory pruning stats — empty is the safe lenience.
            val z: JValue = z0 match { case o: JObject => o; case _ => JObject(Nil) }
            c -> ZoneEntry(
              z \ "min" match { case JString(x) => Some(x); case _ => None },
              z \ "max" match { case JString(x) => Some(x); case _ => None },
              z \ "allNull" match { case JBool(b) => b; case _ => false })
          }
          case _ => Map.empty[String, ZoneEntry]
        }
        ManifestFile(str(f \ "path"), lng(f \ "rows"), lng(f \ "bytes"), zones)
      }
      case _ => Nil
    }
    val parts = (j \ "partitionBy") match {
      case JArray(ps) => ps.map(str); case _ => Nil
    }
    val remove = (j \ "remove") match {
      case JArray(rs) => rs.map(str); case _ => Nil
    }
    val txns = (j \ "txns") match {
      case JObject(ts) => ts.toMap.map { case (id, v) => id -> lng(v) }
      case _ => Map.empty[String, Long]
    }
    Commit(lng(j \ "version"), str(j \ "op"),
      DataType.fromJson(JsonMethods.compact(JsonMethods.render(j \ "schema")))
        .asInstanceOf[StructType],
      parts, files(j \ "add"), remove,
      (j \ "full") match { case JBool(b) => b; case _ => false },
      txns,
      (j \ "ts") match { case v @ (JInt(_) | JLong(_)) => lng(v); case _ => 0L })
  }

  // ---- streaming log-entry codec (production path) ---------------------

  /** Shared mapper: its factory mints parsers that already carry a
    * codec (needed to read the small `schema` subtree as a tree) and
    * generators for the streaming writes. Thread-safe by jackson's
    * contract. COMBINE_UNICODE_SURROGATES_IN_UTF8 must be ON: the
    * byte-targeted UTF8JsonGenerator otherwise emits astral-plane
    * characters as `\uD..\uD..` escape pairs, where the char-targeted
    * generator the AST twin writes through emits raw 4-byte UTF-8 —
    * semantically equal JSON, but it would break the codecs'
    * byte-identity pin (and checkpoint-content determinism across
    * writers, which the hardlink-CAS relies on being harmless). */
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper(
    com.fasterxml.jackson.core.JsonFactory.builder()
      .asInstanceOf[com.fasterxml.jackson.core.JsonFactoryBuilder]
      .enable(com.fasterxml.jackson.core.json.JsonWriteFeature
        .COMBINE_UNICODE_SURROGATES_IN_UTF8)
      .build())

  /** Streaming render of `c` to `out`: constant transient memory —
    * no AST, no manifest-sized String. Byte-identical to
    * [[renderCommit]] (property-pinned): same field order, same
    * sorted-zone/txn ordering, and the schema subtree is
    * `schema.json` emitted RAW — Spark renders it compact via the
    * same jackson, so parse-then-compact is the identity on it.
    * Closes `out` (jackson AUTO_CLOSE_TARGET). */
  private[store] def writeCommitStream(out: java.io.OutputStream,
                                       c: Commit): Unit = {
    val g = jsonMapper.getFactory.createGenerator(out)
    try {
      g.writeStartObject()
      g.writeNumberField("version", c.version)
      g.writeStringField("op", c.op)
      g.writeBooleanField("full", c.full)
      g.writeFieldName("schema")
      g.writeRawValue(c.schema.json)
      g.writeFieldName("partitionBy")
      g.writeStartArray()
      c.partitionBy.foreach(g.writeString)
      g.writeEndArray()
      g.writeFieldName("add")
      g.writeStartArray()
      for (f <- c.add) {
        g.writeStartObject()
        g.writeStringField("path", f.path)
        g.writeNumberField("rows", f.rows)
        g.writeNumberField("bytes", f.bytes)
        g.writeFieldName("zones")
        g.writeStartObject()
        for ((cn, z) <- f.zones.toSeq.sortBy(_._1)) {
          g.writeFieldName(cn)
          g.writeStartObject()
          z.minS.fold(g.writeNullField("min"))(g.writeStringField("min", _))
          z.maxS.fold(g.writeNullField("max"))(g.writeStringField("max", _))
          g.writeBooleanField("allNull", z.allNull)
          g.writeEndObject()
        }
        g.writeEndObject()
        g.writeEndObject()
      }
      g.writeEndArray()
      g.writeFieldName("remove")
      g.writeStartArray()
      c.remove.foreach(g.writeString)
      g.writeEndArray()
      g.writeFieldName("txns")
      g.writeStartObject()
      for ((id, v) <- c.txns.toSeq.sortBy(_._1)) g.writeNumberField(id, v)
      g.writeEndObject()
      g.writeNumberField("ts", c.tsMillis)
      g.writeEndObject()
    } finally g.close()
  }

  /** Streaming write of `c` to a NEW file at `p` (the tmp side of the
    * hardlink-CAS publish — never an in-place overwrite). */
  private[store] def writeCommitFile(p: Path, c: Commit): Unit =
    writeCommitStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(p), 1 << 16), c)

  /** Streaming parse: one token pass, no AST. Field-order-independent
    * (reads by name at each nesting level) with [[parseCommit]]'s
    * lenience profile — absent/ill-typed `min`/`max` → None,
    * `allNull` → false, ill-SHAPED zone values (e.g. array-wrapped
    * objects) → empty entry, absent containers → empty, absent or
    * ill-typed `ts` → 0 — and its strictness profile: absent or
    * ill-TYPED version/op/schema and path/rows/bytes fail loudly,
    * while present negative numbers are accepted (log COMMITS are
    * the source of truth; the caller decides mercy, see
    * [[readCheckpointFile]]). One deliberate residue outside the
    * parity pin: integers overflowing Long (jackson throws, json4s
    * silently truncates BigInt — throwing is the defensible side of
    * an absurdly corrupt entry). Closes `in`. */
  private[store] def readCommitStream(in: java.io.InputStream): Commit = {
    import com.fasterxml.jackson.core.JsonToken._
    def bad(what: String): Nothing =
      throw new IllegalStateException(s"bad log entry field: $what")
    val p = jsonMapper.getFactory.createParser(in)
    try {
      if (p.nextToken() != START_OBJECT) bad("entry is not a JSON object")
      // presence flags, not negative sentinels: the AST twin accepts a
      // PRESENT negative version/rows/bytes (they're stats/identifiers,
      // not validated magnitudes) and only fails on absent or ill-typed
      // ones — a -1 sentinel would conflate "present and negative"
      // with "absent" and reject entries the twin parses.
      var versionSeen = false
      var version = 0L
      var op: String = null
      var full = false
      var schema: StructType = null
      val parts = Seq.newBuilder[String]
      val add = Seq.newBuilder[ManifestFile]
      val remove = Seq.newBuilder[String]
      var txns = Map.empty[String, Long]
      var ts = 0L
      def longField(what: String): Long = p.currentToken match {
        case VALUE_NUMBER_INT => p.getLongValue
        case t => bad(s"$what: $t")
      }
      // lenient fields must SKIP an unexpected container subtree, not
      // read one token of it — a one-token read desyncs the stream and
      // the rest of the entry parses into the wrong fields (the AST
      // twin just defaults these; skipChildren is a no-op on scalars)
      def skipIfContainer(): Unit =
        if (p.currentToken == START_OBJECT || p.currentToken == START_ARRAY)
          p.skipChildren()
      def strictString(what: String): String = {
        if (p.currentToken != VALUE_STRING) bad(s"$what: ${p.currentToken}")
        p.getText
      }
      while (p.nextToken() != END_OBJECT) {
        val field = p.currentName()
        p.nextToken()
        field match {
          case "version" =>
            version = longField("version"); versionSeen = true
          case "op" => op = strictString("op")
          case "full" =>
            full = p.currentToken == VALUE_TRUE
            skipIfContainer()
          case "schema" =>
            val node =
              p.readValueAsTree[com.fasterxml.jackson.databind.JsonNode]()
            schema = DataType.fromJson(node.toString).asInstanceOf[StructType]
          case "partitionBy" =>
            if (p.currentToken == START_ARRAY)
              while (p.nextToken() != END_ARRAY)
                parts += strictString("partitionBy element")
            else skipIfContainer() // non-array → empty, like the twin
          case "add" =>
            if (p.currentToken != START_ARRAY) { skipIfContainer() }
            else while (p.nextToken() != END_ARRAY) {
              if (p.currentToken != START_OBJECT)
                bad(s"add element: ${p.currentToken}")
              var path: String = null
              var rowsSeen = false
              var rows = 0L
              var bytesSeen = false
              var bytes = 0L
              var zones = Map.empty[String, ZoneEntry]
              while (p.nextToken() != END_OBJECT) {
                val fn = p.currentName()
                p.nextToken()
                fn match {
                  case "path" => path = strictString("path")
                  case "rows" => rows = longField("rows"); rowsSeen = true
                  case "bytes" => bytes = longField("bytes"); bytesSeen = true
                  case "zones" =>
                    if (p.currentToken != START_OBJECT) { skipIfContainer() }
                    else while (p.nextToken() != END_OBJECT) {
                      val cn = p.currentName()
                      p.nextToken() // the zone object's opening token
                      var mn: Option[String] = None
                      var mx: Option[String] = None
                      var an = false
                      if (p.currentToken != START_OBJECT) skipIfContainer()
                      else while (p.nextToken() != END_OBJECT) {
                        val zf = p.currentName()
                        val t = p.nextToken()
                        zf match {
                          case "min" =>
                            if (t == VALUE_STRING) mn = Some(p.getText)
                            else skipIfContainer()
                          case "max" =>
                            if (t == VALUE_STRING) mx = Some(p.getText)
                            else skipIfContainer()
                          case "allNull" =>
                            an = t == VALUE_TRUE
                            skipIfContainer()
                          case _ => p.skipChildren()
                        }
                      }
                      zones += cn -> ZoneEntry(mn, mx, an)
                    }
                  case _ => p.skipChildren()
                }
              }
              if (path == null || !rowsSeen || !bytesSeen)
                bad("add entry missing path/rows/bytes")
              add += ManifestFile(path, rows, bytes, zones)
            }
          case "remove" =>
            if (p.currentToken == START_ARRAY)
              while (p.nextToken() != END_ARRAY)
                remove += strictString("remove element")
            else skipIfContainer()
          case "txns" =>
            if (p.currentToken == START_OBJECT)
              while (p.nextToken() != END_OBJECT) {
                val id = p.currentName()
                p.nextToken()
                txns += id -> longField(s"txns.$id")
              }
            else skipIfContainer()
          case "ts" =>
            ts = if (p.currentToken == VALUE_NUMBER_INT) p.getLongValue
            else { skipIfContainer(); 0L } // twin: ill-typed ts → 0
          case _ => p.skipChildren()
        }
      }
      if (!versionSeen || op == null || schema == null)
        bad("entry missing version/op/schema")
      Commit(version, op, schema, parts.result(), add.result(),
        remove.result(), full, txns, ts)
    } finally p.close()
  }
}
