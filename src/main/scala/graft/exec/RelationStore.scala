package graft.exec

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.Relation

/** Versioned parquet relation store — the engine's warehouse.
  *
  * Every write creates a NEW immutable version and commits it with an
  * optimistic-concurrency protocol (reserve a version slot via atomic
  * no-overwrite marker creation → stage → publish the manifest → verify
  * linearizability, re-basing on conflict), exactly the copy-on-write
  * commit discipline lakehouse table formats use. Two sessions
  * committing to one table serialize into a linear version chain with
  * no lost updates; a crashed writer's slot ages into GC. All I/O goes
  * through the Hadoop `FileSystem` / `FileContext` API, so the same
  * store runs against `file://`, HDFS, or an object store — the root's
  * scheme picks the filesystem. Cross-process reservation atomicity is
  * the [[CommitCoordinator]]'s declared capability (O_EXCL locally,
  * no-overwrite rename on HDFS-family stores); on stores WITHOUT an
  * atomic create-no-overwrite primitive (plain S3 and friends) the
  * store refuses concurrent-writer commits outright — run single-writer
  * (`concurrentWriters = false`) or plug in an external lock-service
  * coordinator. Same-JVM writers additionally arbitrate on a process
  * lock.
  *
  * A committed FLAT version is a MANIFEST (`_manifest.json` listing
  * table-relative data-file paths), not a directory of copies: data
  * files live where they were first written (a full write's own version
  * dir, or a streaming delta dir) and later versions reference them.
  * Consequences:
  *
  *  - a materialization can read the current version of its own target
  *    while writing the next (incremental merge = read + join + write,
  *    no read-overwrite conflict);
  *  - failed writes never corrupt the table (pointer still names the
  *    old version);
  *  - folding streaming deltas into a base version writes ZERO data
  *    bytes on ANY filesystem — the new version is one manifest file
  *    (no hard links, so no POSIX dependence and no copy fallback);
  *  - GC is reference-counted: a data file is reclaimable only when no
  *    retained version's manifest references it (lakehouse snapshot
  *    expiry semantics).
  *
  * PARTITIONED layouts are manifests too: each entry carries its leaf
  * partition key and size, and the read path is a [[ManifestFileIndex]]
  * scan (Spark's directory-based partition discovery refuses file
  * lists spanning version dirs — CONFLICTING_DIRECTORY_STRUCTURES —
  * so the index serves the typed partition values and the pruning
  * itself, the Delta/Iceberg read shape). A partition-scoped commit
  * therefore CARRIES untouched partitions by reference: zero data
  * bytes, zero hard links, on any filesystem. Reads also never list
  * directories or stat files — the manifest records sizes.
  *
  * Views are stored as SQL text (`<name>.view.sql`) and re-registered as
  * session temp views on attach — mirroring `CREATE OR REPLACE VIEW`.
  */
final class RelationStore(
    val spark: SparkSession,
    val root: String,
    val schema: String = "main",
    /** Register session views under `<schema>__<name>` instead of the
      * bare name — set for non-default schemas so same-named relations
      * in different schemas don't collide in the flat temp-view space.
      */
    val qualifyViews: Boolean = false,
    /** How many committed versions each table retains (≥ 1). Commits GC
      * beyond this automatically; [[read]]`(name, Some(v))` time-travels
      * within it and [[vacuum]] trims below it on demand. Production
      * analogue: lakehouse table retention for time travel. Under
      * CONCURRENT writers this is also the snapshot-isolation window: a
      * scan still executing when its version falls out of retention can
      * hit reclaimed files (the same reader-vs-vacuum contract Delta
      * documents) — size retention to cover the longest reader.
      */
    val retainVersions: Int = 2,
    /** After how many live delta landings [[appendDelta]] folds the
      * deltas into a new base version (a manifest-only commit — zero
      * data bytes written). Bounds the number of directories a read has
      * to list without ever making a tick's write cost O(table).
      */
    val deltaFoldEvery: Int = 64,
    /** Landing-loop auto-OPTIMIZE: when a fold leaves the table's
      * manifest with at least this many data files, [[compact]] runs
      * automatically, so a long-running ingest's file count stays
      * bounded without operator action. Bytes rewritten per compaction
      * are bounded by the under-sized files only (see [[compact]]).
      */
    val autoCompactMinFiles: Int = 512,
    /** Target data-file size for auto-compaction (files at or above it
      * are never rewritten).
      */
    val autoCompactTargetBytes: Long = 128L << 20,
    /** How long a RESERVED in-flight version slot (a `_rsv_v{N}`
      * marker) is protected from GC. A crashed writer's reservation
      * older than this reads as a torn leftover and is reclaimed. The
      * CONTRACT mirrors Delta's vacuum retention vs writers — with the
      * classic failure window closed by a heartbeat: the marker is
      * refreshed at each commit attempt AND on a horizon/4 cadence
      * throughout staging writes ([[withStagingHeartbeat]]), so even a
      * multi-hour parquet write never ages into a concurrent commit's
      * GC while its writer is alive. Default: 24 h.
      */
    val tornRetainMs: Long = 86_400_000L,
    /** Whether MULTIPLE processes may commit to this warehouse
      * concurrently. When true (the default) the store requires a
      * [[CommitCoordinator]] with a genuinely atomic cross-process
      * reservation primitive and REFUSES to commit without one — on a
      * store like plain S3 (rename = copy+delete, no create-no-
      * overwrite), two writers could otherwise both win a version slot
      * and tear the table. Set false when exactly one writer process
      * ever commits here (same-JVM threads still arbitrate on the
      * process lock); reads are unaffected either way.
      */
    val concurrentWriters: Boolean = true,
    /** Override the built-in commit arbitration — the LogStore-shaped
      * seam: an external lock service (DynamoDB/ZooKeeper-style) makes
      * concurrent writers safe on stores whose filesystem can't
      * ([[CommitCoordinator]]).
      */
    val coordinator: Option[CommitCoordinator] = None) {

  // ---- filesystem layer (Hadoop FS — scheme-portable) ----

  private val hconf = spark.sessionState.newHadoopConf()
  // keep the caller's path form (a scheme-less root stays scheme-less in
  // currentPath/addressable strings); the filesystem is still resolved
  // from the root's scheme, so file://, hdfs://, s3a:// all work
  private val rootPath: HPath = new HPath(root)
  private val fs: FileSystem = rootPath.getFileSystem(hconf)
  // FileContext gives rename-with-OVERWRITE (the pointer swap); plain
  // FileSystem.rename refuses an existing destination on most schemes
  private lazy val fctx: FileContext = FileContext.getFileContext(fs.getUri, hconf)

  /** Commit arbitration for this root's filesystem (or the caller's
    * external coordinator). Lazy: read-only stores never need it.
    */
  private lazy val commitCoord: CommitCoordinator =
    coordinator.getOrElse(CommitCoordinator.forStore(fs, fctx))

  /** Cumulative data bytes rewritten by [[compact]] (manual or auto) —
    * lets specs pin that compaction cost is bounded by the fragmented
    * files, never the table.
    */
  val compactedBytes = new AtomicLong(0L)

  private def fsExists(p: HPath): Boolean = fs.exists(p)

  private def readStr(p: HPath): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, UTF_8)
    } finally in.close()
  }

  /** Read a metadata file, distinguishing ABSENCE (None — the normal
    * "never written" case) from a FAILED READ of a present file (loud).
    * Collapsing the two is how bookkeeping silently degrades: e.g. an
    * absorbed-set read hiccup re-listing absorbed deltas as live would
    * union their files on top of the manifest entries that already
    * carry them — silent row duplication. A FileNotFoundException IS
    * absence (exists+read is TOCTOU under concurrent GC); any other
    * IOException on a file that still exists rethrows.
    */
  private def readStrIfExists(p: HPath): Option[String] =
    try Some(readStr(p))
    catch {
      case _: java.io.FileNotFoundException => None
      case e: java.io.IOException =>
        if (fsExists(p))
          throw new IllegalStateException(
            s"failed to read present metadata file $p — refusing to treat a " +
              "read failure as absence (bookkeeping would silently degrade)", e)
        else None // swept between the failed read and the probe: absent
    }

  private def writeStr(p: HPath, s: String): Unit = {
    val parent = p.getParent
    if (parent != null && !fs.exists(parent)) fs.mkdirs(parent)
    val out = fs.create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  /** Write-then-rename(OVERWRITE): atomic single-file replace. The tmp
    * name carries a nonce so CONCURRENT replacers of one target never
    * share a staging file (each rename installs a complete value; last
    * one wins).
    */
  private def writeStrAtomic(p: HPath, s: String): Unit = {
    val tmp = new HPath(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    writeStr(tmp, s)
    fctx.rename(tmp, p, Options.Rename.OVERWRITE)
  }

  private def listNames(dir: HPath): Seq[FileStatus] =
    // exists+list is TOCTOU under concurrent GC: a dir swept between
    // the two calls lists as empty, which is exactly what it is
    try { if (!fs.exists(dir)) Nil else fs.listStatus(dir).toSeq }
    catch { case _: java.io.FileNotFoundException => Nil }

  private def deleteRec(p: HPath): Unit = if (fs.exists(p)) fs.delete(p, true)

  /** Data files (non-meta regular files) directly inside `dir`. */
  private def dataFilesIn(dir: HPath): Seq[FileStatus] =
    listNames(dir).filter { st =>
      val fn = st.getPath.getName
      st.isFile && !fn.startsWith("_") && !fn.startsWith(".")
    }

  /** Data files anywhere under `dir` (partitioned layouts nest). */
  private def dataFilesUnder(dir: HPath): Seq[FileStatus] =
    listNames(dir).flatMap { st =>
      val fn = st.getPath.getName
      if (st.isDirectory) dataFilesUnder(st.getPath)
      else if (!fn.startsWith("_") && !fn.startsWith(".")) Seq(st)
      else Nil
    }

  private def relTo(base: HPath, p: HPath): String = relToOn(fs, base, p)

  private def relToOn(onFs: FileSystem, base: HPath, p: HPath): String = {
    // listings return fully-qualified paths; the base may be scheme-less
    val b = onFs.makeQualified(base).toString + "/"
    val s = onFs.makeQualified(p).toString
    require(s.startsWith(b), s"$p not under $base")
    s.substring(b.length)
  }

  private def deleteIfEmptyTree(dir: HPath): Boolean = {
    if (!fs.exists(dir)) return true
    val children = listNames(dir)
    // a `_gutted` tombstone marks a fully-drained data pool — it must
    // not keep the (otherwise empty) dir alive forever, so it counts as
    // deletable; the final delete is recursive, sweeping the tombstone
    // plus any filesystem bookkeeping a checksum FS hides from listings
    // (.crc siblings)
    val allGone = children.forall { c =>
      if (c.isDirectory) deleteIfEmptyTree(c.getPath)
      else c.getPath.getName == "_gutted"
    }
    if (allGone) { fs.delete(dir, true); true } else false
  }

  // ---- layout ----

  private def schemaDir: HPath = new HPath(rootPath, schema)
  private def tableDir(name: String): HPath = new HPath(schemaDir, name)
  private def verDir(name: String, v: Int): HPath = new HPath(tableDir(name), s"v$v")
  private def pointer(name: String): HPath = new HPath(tableDir(name), "_current")
  private def viewFile(name: String): HPath = new HPath(schemaDir, s"$name.view.sql")
  private def deltaRoot(name: String): HPath = new HPath(tableDir(name), "delta")
  private def deltaDirOf(name: String, batchId: Long): HPath =
    new HPath(deltaRoot(name), s"b$batchId")

  def relation(name: String): Relation = Relation(schema, name)

  /** SQL-addressable session alias for a relation in this store. */
  def sqlName(name: String): String = if (qualifyViews) s"${schema}__$name" else name

  def exists(name: String): Boolean =
    fsExists(pointer(name)) || fsExists(viewFile(name)) ||
      liveDeltaIds(name).nonEmpty || currentVersion(name).nonEmpty

  def isView(name: String): Boolean = fsExists(viewFile(name))

  /** The table HEAD as READERS see it: the highest PUBLISHED version —
    * manifest present AND reservation marker gone. A manifest whose
    * writer still holds its marker is a commit in flight (it may yet be
    * withdrawn on a verification conflict), so readers never resolve
    * it; [[finalizeCommit]] deleting the marker is the publish step.
    * The `_current` pointer file survives as a legacy floor:
    * pre-manifest stores have no manifests at all, and their pointer
    * names the committed legacy version.
    */
  private def currentVersion(name: String): Option[Int] = {
    // POINTER FLOOR: finalizeCommit atomically rewrites the pointer at
    // every commit (right after the publishing marker delete), so the
    // pointer target is always a committed version and only versions
    // ABOVE it can change the answer. Head resolution therefore does
    // ONE directory listing and probes manifest+marker ONLY for dirs
    // above the floor — in steady state that's zero probes (retained
    // old versions all sit at or below the pointer), vs the previous
    // two metadata round-trips per version dir on every
    // read/exists/commit. The listing itself stays: a probe-only walk
    // upward from the pointer would go blind across a TRACE-LESS slot
    // (a released failed staging between the stale pointer and a
    // crashed finalize's published head), permanently hiding a
    // committed version. The RAW head used by commit verification
    // ([[rawHeadVersion]]) keeps its own full view for the same
    // reason — linearizability cannot tolerate a missed manifest.
    val legacy = scala.util.Try(readStr(pointer(name)).trim.toInt).toOption
    val floor = legacy.getOrElse(-1)
    val published = physicalVersionDirs(name)
      .filter(v => v > floor && hasManifest(name, v) && !isReserved(name, v))
    (published ++ legacy).maxOption
  }

  /** The RAW head: highest manifest regardless of markers — what commit
    * VERIFICATION orders against (an in-flight competitor's manifest
    * above ours means our commit would be invisible history).
    */
  private def rawHeadVersion(name: String): Option[Int] =
    (physicalVersionDirs(name).filter(hasManifest(name, _)) ++
      scala.util.Try(readStr(pointer(name)).trim.toInt).toOption).maxOption

  def currentPath(name: String): Option[String] =
    currentVersion(name).map(v => verDir(name, v).toString)

  // ---- optimistic concurrency (version slots) ----
  //
  // Two sessions committing to one table race on the version number.
  // The protocol is the lakehouse one (Delta on HDFS / Iceberg commit):
  //
  //  1. RESERVE a slot: atomically create `_rsv_v{N}` (rename WITHOUT
  //     the OVERWRITE option — fails if the marker exists). The winner
  //     owns verDir(N) exclusively; losers probe upward.
  //  2. Stage data + per-version metadata into the owned slot.
  //  3. COMMIT: rename the manifest into place (atomic visibility) and
  //     verify the slot became the table head. If a competitor
  //     committed ABOVE meanwhile, withdraw the manifest, reserve a
  //     fresh slot above the new head, and retry the manifest only —
  //     the staged data files stay put and the retried manifest
  //     references them cross-dir (zero data movement, the same carry
  //     mechanism folds use).
  //
  // A crashed writer leaves a reservation without a manifest: GC treats
  // it as a torn leftover once it ages past `tornRetainMs`.

  private def rsvFile(name: String, v: Int): HPath =
    new HPath(tableDir(name), s"_rsv_v$v")

  private def isReserved(name: String, v: Int): Boolean = fsExists(rsvFile(name, v))

  /** Reserve the first free slot ≥ `from`. A slot is free when it has
    * neither a committed manifest nor a reservation marker (a
    * marker-less torn dir from a pre-OCC crash is claimable — its junk
    * is cleaned here). Returns the owned version number.
    */
  private def reserveVersion(name: String, from: Int): Int = {
    // CAPABILITY GATE: concurrent-writer mode is only safe when the
    // coordinator's reservation is genuinely atomic cross-process.
    // Refusing HERE — loudly, at the first commit — is the whole
    // point: on a store like plain S3 the failure mode is otherwise a
    // silent double-granted slot and a torn table under load.
    if (concurrentWriters && !commitCoord.atomicReservation)
      throw new IllegalStateException(
        s"cannot commit to $schema.$name: warehouse '$root' is on " +
          s"${commitCoord.describe}, which has no atomic create-no-overwrite " +
          "primitive — optimistic concurrent commits could double-grant a " +
          "version slot (on S3-style stores, rename is a non-atomic " +
          "copy+delete). Construct the store with concurrentWriters=false " +
          "if exactly one writer process ever commits to this warehouse, " +
          "or supply an external CommitCoordinator (lock-service-backed) " +
          "for safe multi-writer commits.")
    fs.mkdirs(tableDir(name))
    var n = math.max(0, from)
    var attempts = 0
    while (attempts < 10000) {
      attempts += 1
      val rsv = rsvFile(name, n)
      // same-JVM writers arbitrate on a process lock (thread
      // interleaving could otherwise double-grant before the
      // filesystem primitive is even reached); CROSS-process safety is
      // the coordinator's atomic reservation ([[CommitCoordinator]]).
      // A tombstoned dir is a DATA POOL (its files may be referenced by
      // committed manifests) — its slot number is never claimable.
      val won = RelationStore.slotLock(fs.makeQualified(rsv).toString).synchronized {
        if (hasManifest(name, n) || isReserved(name, n) ||
          fsExists(new HPath(verDir(name, n), "_gutted"))) false
        else commitCoord.reserve(rsv, java.util.UUID.randomUUID().toString)
      }
      if (won) {
        deleteRec(verDir(name, n)) // claimable pre-OCC junk
        return n
      }
      n += 1
    }
    throw new IllegalStateException(s"could not reserve a version slot for $schema.$name")
  }

  /** Run `body` (a staging write into slot `v`) with a background
    * liveness heartbeat on the slot's reservation marker. This is what
    * lets a SINGLE multi-hour parquet write survive a concurrent
    * commit's GC: the torn-reservation horizon (`tornRetainMs`)
    * otherwise only refreshes between commit attempts, so a staging
    * write longer than the horizon could be swept mid-write. Cadence:
    * horizon/4, clamped to [1 s, 60 s] — a marker rewrite is one tiny
    * metadata write, so a fixed sub-minute cadence is free and keeps
    * even short custom horizons honest. The task is cancelled (and the
    * shared daemon scheduler survives) no matter how the staging exits.
    */
  private def withStagingHeartbeat[A](name: String, v: Int)(body: => A): A = {
    val interval = math.min(math.max(tornRetainMs / 4, 1_000L), 60_000L)
    // stop-flag handshake, not just cancel(): a heartbeat already IN
    // FLIGHT at cancel time could otherwise re-create the marker AFTER
    // the commit's publishing delete — a resurrected marker makes the
    // committed version read as still-reserved (stale heads until GC
    // adoption heals it). Acquiring the lock after setting the flag
    // guarantees no rewrite straddles the return.
    val lock = new Object
    @volatile var stopped = false
    val task = RelationStore.heartbeats.scheduleAtFixedRate(
      () => lock.synchronized {
        if (!stopped) scala.util.Try(commitCoord.heartbeat(rsvFile(name, v)))
      },
      interval, interval, java.util.concurrent.TimeUnit.MILLISECONDS)
    try body finally {
      task.cancel(false)
      lock.synchronized { stopped = true }
    }
  }

  /** Discard a staged slot that NO manifest was ever published for —
    * safe to delete outright, because entries only become referencable
    * through a manifest. Slots whose manifest was ever visible (even
    * transiently, pre-withdrawal) must go through [[demoteSlot]]: a
    * competitor may have built its carried set on the transient
    * manifest and committed entries that reference this slot's files.
    */
  private def releaseSlot(name: String, v: Int): Unit = {
    deleteRec(verDir(name, v))
    commitCoord.release(rsvFile(name, v))
  }

  /** Demote a slot to a gutted DATA POOL: tombstone + marker removal,
    * files left in place for reference-counted GC (referenced files
    * survive as long as any retained manifest names them; unreferenced
    * ones are reclaimed on the next retention pass).
    */
  private def demoteSlot(name: String, v: Int): Unit = {
    if (fsExists(verDir(name, v))) {
      fs.delete(manifestFile(name, v), false)
      writeStr(new HPath(verDir(name, v), "_gutted"), "")
    }
    commitCoord.release(rsvFile(name, v))
  }

  /** Atomic-visibility manifest write into an OWNED slot: readers see
    * the full file or nothing — the rename is the commit.
    */
  private def writeManifestCommit(name: String, v: Int, layout: String,
      partitionBy: Seq[String], entries: Seq[MEntry], base: Option[Int]): Unit = {
    val tmp = new HPath(verDir(name, v), "._manifest.json.tmp")
    writeStr(tmp, graft.artifacts.Json.write(Map(
      "layout" -> layout,
      "partition_by" -> partitionBy,
      // commit wall-clock — what timestamp time travel ([[readAsOf]])
      // and age-based retention resolve against. Writer-clock skew is
      // inherent to the contract (same as Delta/Iceberg snapshot
      // timestamps); resolution clamps to the version ORDER below.
      "ts" -> System.currentTimeMillis(),
      // the version this commit was BUILT AGAINST (carried entries,
      // watermark) — what crash ADOPTION checks: an orphan whose base
      // is no longer the head would have failed verification, so
      // publishing it would lose the competitor's update
      "base" -> base.getOrElse(-1),
      "files" -> entries.map(_.rel),
      "sizes" -> entries.map(_.size),
      "stats" -> entries.map(_.stats.map(FileStats.toJsonValue).orNull))))
    fctx.rename(tmp, manifestFile(name, v), Options.Rename.OVERWRITE)
  }

  /** Commit a staged slot as the new table HEAD, retrying on conflict.
    *
    * `build(slot, base)` recomputes everything base-dependent for the
    * attempt — carried entries, watermark files — and returns the
    * manifest content, or None to ABORT (the staged slot is discarded;
    * compaction uses this when its inputs vanished under it). The
    * head check after the manifest rename closes the remaining window:
    * a competitor that committed ABOVE us never saw our manifest, so
    * letting ours stand would silently drop it from the history — we
    * withdraw, re-slot above the new head (data stays put, the manifest
    * re-references it cross-dir), and rebuild against the new base.
    *
    * @return the committed head version, or None when `build` aborted
    */
  private def commitHead(name: String, firstSlot: Int,
      build: (Int, Option[Int]) => Option[(String, Seq[String], Seq[MEntry])]): Option[Int] = {
    def committedBelow(n: Int): Option[Int] =
      physicalVersionDirs(name).filter(v => v < n && hasManifest(name, v))
        .maxOption orElse {
          val legacy = scala.util.Try(readStr(pointer(name)).trim.toInt).toOption
          legacy.filter(_ < n)
        }
    var n = firstSlot
    var priorSlots = List.empty[Int] // shadowed slots whose data the final manifest references
    var attempts = 0
    while (attempts < 64) {
      attempts += 1
      if (attempts > 1)
        // randomized backoff: two mutually-withdrawing writers on a
        // deterministic schedule could re-collide in lockstep forever
        Thread.sleep(2L + java.util.concurrent.ThreadLocalRandom.current()
          .nextLong(4L * attempts))
      // heartbeat: a long verify/retry phase must not age the
      // reservation past the GC horizon. In-place content rewrite —
      // supported on every store, and the marker is never absent
      // mid-refresh (setTimes is unsupported on object stores, and a
      // tmp+rename refresh would open an exists=false window there)
      commitCoord.heartbeat(rsvFile(name, n))
      val head = rawHeadVersion(name)
      if (head.exists(_ > n)) {
        // a competitor committed ABOVE our slot: committing below the
        // head would be silently invisible — re-slot above it (staged
        // data stays put; the new manifest references it cross-dir)
        val m = reserveVersion(name, head.get + 1)
        carryVersionMeta(name, n, m)
        priorSlots ::= n
        n = m
      } else {
        val base = committedBelow(n)
        build(n, base) match {
          case None =>
            // abort. Slots that ever published a manifest — every prior
            // slot, and the current one after a failed verify — may be
            // REFERENCED: a competitor could have carried their entries
            // off the transient manifest into a commit that stuck. They
            // demote to gutted pools (reference-counted GC reclaims the
            // unreferenced bytes); outright deletion here would tear a
            // committed competitor head ([[demoteSlot]]).
            (n :: priorSlots).foreach(demoteSlot(name, _))
            return None
          case Some((layout, pby, entries)) =>
            writeManifestCommit(name, n, layout, pby, entries, base)
            // linearizability check (RAW view): we are the head AND
            // nobody slipped a commit in between our base and our slot —
            // otherwise our carried state is stale (lost update) and
            // must be rebuilt. Publish-then-verify is sound: two
            // mutually-unaware commits would each need to verify before
            // the other's rename, which the rename→verify order forbids.
            if (rawHeadVersion(name).contains(n) && committedBelow(n) == base) {
              // PUBLISH FIRST (marker off, head visible), THEN demote the
              // shadowed slots to gutted pools. The other order opens a
              // window where a prior slot has neither marker nor manifest
              // while the head is still unpublished — a competitor's
              // reserveVersion could claim that slot number and wipe pool
              // files our just-committed manifest references.
              finalizeCommit(name, n)
              priorSlots.foreach { p =>
                if (fsExists(verDir(name, p)))
                  writeStr(new HPath(verDir(name, p), "_gutted"), "")
                commitCoord.release(rsvFile(name, p))
              }
              return Some(n)
            }
            // conflict: withdraw and retry (the loop head decides whether
            // the slot is still usable or must move above a new head)
            fs.delete(manifestFile(name, n), false)
        }
      }
    }
    throw new IllegalStateException(
      s"commit contention on $schema.$name did not settle in $attempts attempts")
  }

  /** Post-commit bookkeeping: legacy pointer floor (discovery + the
    * pre-manifest fallback), retention GC, session re-register.
    */
  private def finalizeCommit(name: String, n: Int): Unit = {
    commitCoord.release(rsvFile(name, n)) // committed: the slot is no longer in-flight
    writeStrAtomic(pointer(name), n.toString)
    gcTable(name, retainVersions)
    registerView(name)
  }

  // ---- manifests ----

  /** One manifest data file: table-relative path + recorded size (so
    * reads never stat the filesystem) + optional per-column min/max
    * stats (so selective scans skip whole files — [[FileStats]]).
    */
  private[exec] final case class MEntry(rel: String, size: Long,
      stats: Option[FileStats] = None) {
    def leafKey: String = ManifestFileIndex.leafKeyOf(rel)
  }

  /** A committed version's manifest. `layout`: "files" (flat),
    * "partitioned" (entries carry `col=value` leaf keys in their
    * paths), or "bucketed" (directory-self-contained; no entries
    * cross-reference into it).
    */
  private[exec] final case class VersionManifest(
      layout: String, partitionBy: Seq[String], entries: Seq[MEntry],
      /** The committed version this manifest was built against:
        * Some(-1) for a first commit (no base), Some(n) otherwise, None
        * for a pre-base manifest — whose orphans are never adopted,
        * conservatively.
        */
      baseVersion: Option[Int] = None,
      /** Commit wall-clock (epoch ms); None for pre-ts manifests, which
        * fall back to the manifest file's mtime.
        */
      commitTs: Option[Long] = None)

  private def manifestFile(name: String, v: Int): HPath =
    new HPath(verDir(name, v), "_manifest.json")

  private def hasManifest(name: String, v: Int): Boolean = fsExists(manifestFile(name, v))

  /** Whether version dir `v` reads as a COMMITTED version: a manifest
    * commit, or a LEGACY pre-manifest directory (data, no manifest, no
    * `_gutted` tombstone, no reservation marker). A gutted dir —
    * manifest expired, files kept only because newer manifests
    * reference them — is a data pool, not a version; a RESERVED dir is
    * an in-flight (or shadowed/crashed) write, never a version.
    */
  private def isCommitted(name: String, v: Int): Boolean =
    (hasManifest(name, v) && !isReserved(name, v)) ||
      (!isReserved(name, v) &&
        !fsExists(new HPath(verDir(name, v), "_gutted")) &&
        dataFilesUnder(verDir(name, v)).nonEmpty)

  private def manifestOf(name: String, v: Int): Option[VersionManifest] =
    // exists+read is TOCTOU under a concurrent retention pass: a
    // manifest swept between the calls reads as the expired version it
    // just became
    scala.util.Try(readStr(manifestFile(name, v))).toOption.flatMap(parseManifest(name, v, _))

  private def parseManifest(name: String, v: Int, raw: String): Option[VersionManifest] =
    graft.artifacts.Json.parse(raw) match {
      case m: Map[String @unchecked, Any @unchecked] =>
        val layout = m.getOrElse("layout", "files").toString
        val files = m.get("files") match {
          case Some(s: Seq[Any @unchecked]) => s.map(String.valueOf(_))
          case _ => Nil
        }
        val sizes = m.get("sizes") match {
          case Some(s: Seq[Any @unchecked]) => s.map(x => String.valueOf(x).toDouble.toLong)
          case _ => files.map(_ => -1L) // pre-size manifests: stat on demand
        }
        val pby = m.get("partition_by") match {
          case Some(s: Seq[Any @unchecked]) => s.map(String.valueOf(_))
          case _ => Nil
        }
        // per-file stats re-type against the version's stored schema;
        // pre-stats manifests (or a missing schema file) read as
        // stats-less entries — never skipped, always correct
        val stats: Seq[Option[FileStats]] = m.get("stats") match {
          case Some(s: Seq[Any @unchecked]) if s.nonEmpty =>
            val schemaFile = new HPath(verDir(name, v), "_graft_schema.json")
            if (!fsExists(schemaFile)) files.map(_ => None)
            else {
              val st = org.apache.spark.sql.types.DataType
                .fromJson(readStr(schemaFile)).asInstanceOf[StructType]
              s.map(x => if (x == null) None else FileStats.fromJsonValue(x, st))
            }
          case _ => files.map(_ => None)
        }
        Some(VersionManifest(layout, pby,
          files.lazyZip(sizes).lazyZip(stats).map {
            case (f, sz, fst) => MEntry(f, sz, fst)
          }.toSeq,
          m.get("base").map(x => String.valueOf(x).toDouble.toInt),
          m.get("ts").map(x => String.valueOf(x).toDouble.toLong)))
      case _ => None
    }

  /** Physical data files under a version dir as manifest entries.
    * `statsSchema` turns on per-file column-stats collection — one
    * parquet FOOTER read per new file at commit time (metadata only),
    * which is what buys file-level data skipping on every later scan.
    */
  private def physicalEntries(name: String, v: Int,
      statsSchema: Option[StructType] = None): Seq[MEntry] = {
    val files = dataFilesUnder(verDir(name, v))
    statsSchema match {
      case None => files.map(st => MEntry(relTo(tableDir(name), st.getPath), st.getLen))
      case Some(sc) =>
        // footer reads are independent metadata fetches — run them on
        // the common pool so a many-file commit's stats collection is
        // bounded by the slowest footer, not the sum (at 100 TB a
        // commit writes hundreds of files)
        import scala.jdk.CollectionConverters._
        files.asJava.parallelStream().map[MEntry] { st =>
          MEntry(relTo(tableDir(name), st.getPath), st.getLen,
            FileStats.collect(st, sc, hconf))
        }.collect(java.util.stream.Collectors.toList[MEntry]).asScala.toSeq
    }
  }

  /** Per-file stats keyed by file NAME (names survive the delta dir's
    * tmp→committed rename; paths don't). Parallel footer reads, like
    * the commit path — bounded by the slowest footer, not the sum.
    */
  private def collectStatsByName(files: Seq[FileStatus],
      sc: StructType): Map[String, FileStats] = {
    import scala.jdk.CollectionConverters._
    files.asJava.parallelStream()
      .map[(String, Option[FileStats])](st =>
        st.getPath.getName -> FileStats.collect(st, sc, hconf))
      .collect(java.util.stream.Collectors
        .toList[(String, Option[FileStats])]).asScala
      .collect { case (n, Some(fst)) => n -> fst }.toMap
  }

  /** The `_graft_stats.json` sidecar a delta landing wrote, re-typed
    * against the fold schema. None ⇒ a pre-sidecar landing.
    */
  private def readStatsSidecar(dir: HPath,
      sc: StructType): Option[Map[String, FileStats]] =
    scala.util.Try(readStr(new HPath(dir, "_graft_stats.json"))).toOption
      .flatMap(raw => graft.artifacts.Json.parse(raw) match {
        case m: Map[String @unchecked, Any @unchecked] =>
          Some(m.flatMap { case (n, v) =>
            FileStats.fromJsonValue(v, sc).map(n -> _)
          })
        case _ => None
      })

  /** Data-file entries of version `v`: the manifest's for manifest
    * versions, the physical listing for legacy/bucketed dirs — either
    * way, the files a later version may carry by reference.
    */
  private def versionEntries(name: String, v: Int): Seq[MEntry] =
    manifestOf(name, v) match {
      case Some(m) if m.layout != "bucketed" => m.entries
      case _ => physicalEntries(name, v)
    }

  /** A manifest entry as a Hadoop FileStatus (no filesystem call —
    * the manifest recorded the size; pre-size manifests stat once).
    */
  private def entryStatus(name: String, e: MEntry): FileStatus = {
    val p = fs.makeQualified(new HPath(tableDir(name), e.rel))
    if (e.size >= 0)
      new FileStatus(e.size, false, 1, 128L << 20, 0L, p)
    else fs.getFileStatus(p)
  }

  // ---- reads ----

  def read(name: String): DataFrame = read(name, None)

  /** Read a table, optionally a PAST version (time travel). Versions are
    * immutable commits (manifests for flat tables), so reading an old
    * one is a scan of the files it references — the lakehouse
    * time-travel model. Old versions live until [[vacuum]] reclaims
    * them; reference-counted GC keeps every file a retained manifest
    * still names.
    */
  def read(name: String, asOfVersion: Option[Int]): DataFrame = {
    // a HEAD read racing a concurrent writer's retention pass can
    // resolve a version that expires before its scan is built — retry
    // from a fresh head (time travel does NOT retry: an expired past
    // version is a real error)
    var attempts = 0
    while (asOfVersion.isEmpty && attempts < 8) {
      try return readResolved(name, asOfVersion)
      catch {
        case e: Throwable if attempts < 7 && isStaleReadRace(e) =>
          attempts += 1
          Thread.sleep(5L * attempts) // let the concurrent retention pass settle
      }
    }
    readResolved(name, asOfVersion)
  }

  private def isStaleReadRace(e: Throwable): Boolean = {
    val seen = scala.collection.mutable.Set[Throwable]()
    def walk(t: Throwable): Boolean =
      t != null && seen.add(t) && (t match {
        case _: java.io.FileNotFoundException => true
        case a: org.apache.spark.sql.AnalysisException
            if String.valueOf(a.getMessage).contains("PATH_NOT_FOUND") => true
        case other => walk(other.getCause)
      })
    walk(e)
  }

  private def readResolved(name: String, asOfVersion: Option[Int]): DataFrame = {
    if (isView(name)) {
      // a view has no versioned storage — silently returning current
      // data labeled as a past version would be wrong
      require(asOfVersion.isEmpty, s"$schema.$name is a view; views have no version history")
      return spark.sql(readStr(viewFile(name)))
    }
    if (isBucketed(name) && asOfVersion.isEmpty)
      // the catalog relation carries the bucket spec; a raw path read
      // would lose it and joins would re-shuffle
      return spark.table(ensureBucketedRegistered(name))

    val cur = currentVersion(name)
    val (baseVer, live): (Option[Int], Seq[Long]) = asOfVersion match {
      case Some(v) =>
        // time travel addresses committed versions only: v ≤ pointer AND
        // manifest present (a dir above the pointer is a torn leftover
        // from a crashed write; one below without a manifest is a
        // GC-gutted data pool — both would scan partial content)
        if (v > cur.getOrElse(-1) || !isCommitted(name, v))
          throw new IllegalStateException(
            s"version $v of $schema.$name not found (have: " +
              s"${versions(name).filter(_ <= cur.getOrElse(-1)).mkString(",")})")
        (Some(v), Nil)
      case None =>
        // reuse the head resolution above instead of re-listing
        val l = liveDeltaIdsAt(name, markAt(name, cur))
        if (cur.isEmpty && l.isEmpty)
          throw new IllegalStateException(s"relation not found: $schema.$name")
        (cur, l)
    }
    val schemaDirs = baseVer.map(verDir(name, _)).toSeq ++ live.map(deltaDirOf(name, _))
    val stored = schemaDirs.map(d => new HPath(d, "_graft_schema.json"))
      .find(fsExists).map { f =>
        org.apache.spark.sql.types.DataType.fromJson(readStr(f)).asInstanceOf[StructType]
      }
    // the base version scans through the manifest index: no directory
    // listing, no stat calls, and partition values/pruning served from
    // the manifest itself (legacy manifest-less dirs scan as paths)
    val base: Option[DataFrame] = baseVer.flatMap { v =>
      manifestOf(name, v) match {
        case Some(m) if m.layout == "files" || m.layout == "partitioned" =>
          if (m.entries.isEmpty) None
          else {
            val st = stored.getOrElse(throw new IllegalStateException(
              s"manifest version without stored schema: $schema.$name v$v"))
            val byLeaf = m.entries.groupBy(_.leafKey).toSeq.sortBy(_._1)
              .map { case (k, es) =>
                k -> es.map(e => (entryStatus(name, e), e.stats))
              }
            Some(ManifestFileIndex.datasetWithStatsFor(
              spark, fs.makeQualified(tableDir(name)), st, m.partitionBy, byLeaf))
          }
        case _ =>
          // legacy manifest-less dir. If the dir itself is gone, the
          // head resolution was stale (a concurrent retention pass) —
          // surface it as the retryable race it is
          if (!fsExists(verDir(name, v))) {
            val state = listNames(tableDir(name)).map(_.getPath.getName).sorted
            throw new java.io.FileNotFoundException(
              s"$schema.$name v$v vanished during read (concurrent retention); " +
                s"tableDir=$state pointer=" +
                scala.util.Try(readStr(pointer(name)).trim).getOrElse("<none>"))
          }
          Some(spark.read.parquet(verDir(name, v).toString))
      }
    }
    val deltas: Option[DataFrame] =
      if (live.isEmpty) None
      else {
        val reader = stored.fold(spark.read)(st => spark.read.schema(st))
        Some(reader.parquet(live.map(id => deltaDirOf(name, id).toString): _*))
      }
    val df = (base, deltas) match {
      case (Some(b), Some(d)) => b.unionByName(d)
      case (Some(b), None) => b
      case (None, Some(d)) => d
      case (None, None) =>
        // zero data files (empty table / empty epoch landings only):
        // an empty frame in the exact stored schema
        return spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          stored.getOrElse(throw new IllegalStateException(
            s"relation $schema.$name has no data and no stored schema")))
    }
    // restore the exact written schema (column order + types): the
    // manifest index serves stored types already, so for manifest
    // versions the casts collapse to column reordering
    stored match {
      case Some(st) =>
        df.select(st.fields.toSeq.map(f =>
          org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)): _*)
      case None => df
    }
  }

  /** Version directories of a table, ascending: committed ones (those ≤
    * the current pointer, carrying a manifest) plus any torn leftover
    * above the pointer from a crashed write (vacuum reclaims those). A
    * gutted dir below the pointer — manifest expired, files retained
    * only because newer manifests still reference them — is a data
    * pool, not a version, and is not listed.
    */
  def versions(name: String): Seq[Int] = {
    val cur = currentVersion(name).getOrElse(-1)
    physicalVersionDirs(name).filter(v => v > cur || isCommitted(name, v)).sorted
  }

  private def physicalVersionDirs(name: String): Seq[Int] =
    listNames(tableDir(name)).flatMap { st =>
      val f = st.getPath.getName
      if (st.isDirectory && f.startsWith("v") && f.length > 1 && f.drop(1).forall(_.isDigit))
        Some(f.drop(1).toInt)
      else None
    }

  /** Commit wall-clock of a committed version: the manifest's recorded
    * ts, or (pre-ts manifests / legacy dirs) the manifest file's or
    * version dir's mtime. None only when the version has vanished.
    */
  def commitTimestamp(name: String, v: Int): Option[Long] =
    manifestOf(name, v).flatMap(_.commitTs)
      .orElse(scala.util.Try(
        fs.getFileStatus(manifestFile(name, v)).getModificationTime).toOption)
      .orElse(scala.util.Try(
        fs.getFileStatus(verDir(name, v)).getModificationTime).toOption)

  /** Resolve "as of this wall-clock instant" to a committed version:
    * the NEWEST committed version whose commit timestamp is at or
    * before `tsMillis` — the Delta/Iceberg timestamp-travel contract.
    * Timestamps are clamped to version ORDER (commit ts is monotone up
    * to writer clock skew; resolution walks versions newest-first and
    * takes the first at-or-before, so skewed clocks can never resolve
    * to a version NEWER than a later-stamped one). None when every
    * retained version is newer than the instant.
    */
  def versionAsOf(name: String, tsMillis: Long): Option[Int] = {
    val cur = currentVersion(name).getOrElse(return None)
    physicalVersionDirs(name)
      .filter(v => v <= cur && isCommitted(name, v)).sorted.reverse
      .find(v => commitTimestamp(name, v).exists(_ <= tsMillis))
  }

  /** Timestamp time travel: read the table as of a wall-clock instant.
    * Errors when the instant predates every retained version (the
    * snapshot is gone — size `retainVersions` / vacuum horizons to
    * cover the travel window you need).
    */
  def readAsOf(name: String, tsMillis: Long): DataFrame =
    read(name, Some(versionAsOf(name, tsMillis).getOrElse(
      throw new IllegalStateException(
        s"no committed version of $schema.$name at or before " +
          s"${java.time.Instant.ofEpochMilli(tsMillis)} — older snapshots " +
          "have been vacuumed or the table is newer than the instant"))))

  /** Retention: expire all committed versions except the newest
    * `keepLast` (the current pointer target always survives — keepLast
    * is clamped to ≥ 1), plus torn dirs above the pointer. Returns the
    * number of versions reclaimed. Reference-counted: a DATA FILE is
    * deleted only when no retained manifest references it, so expiring
    * a full-write version whose files later folds still name reclaims
    * the metadata now and the bytes when the last referencing manifest
    * expires — exactly lakehouse snapshot expiry.
    */
  def vacuum(name: String, keepLast: Int = 2,
      /** Age horizon (the Delta `RETAIN n HOURS` contract): committed
        * versions YOUNGER than this are retained even beyond
        * `keepLast`, so "keep a week of time travel" is
        * `vacuum(t, 1, Some(7.days))` — the pointer floor (newest
        * `keepLast`, min 1) always survives regardless of age.
        */
      olderThanMs: Option[Long] = None): Int =
    gcTable(name, math.max(1, keepLast),
      olderThanMs.map(h => System.currentTimeMillis() - h))

  private def gcTable(name: String, keep: Int,
      minKeepTs: Option[Long] = None): Int = {
    val td = tableDir(name)
    if (!fsExists(td)) return 0
    // reap crashed dot-tmp landings — but only past the retention
    // horizon: a CONCURRENT writer may be staging its micro-batch in
    // one right now, and sweeping it mid-write would fail that landing
    listNames(deltaRoot(name)).foreach { st =>
      if (st.getPath.getName.startsWith(".tmp_") &&
          System.currentTimeMillis() - st.getModificationTime >= tornRetainMs)
        deleteRec(st.getPath)
    }
    // reclaim coordinator state stranded by crash windows (a lock file
    // whose arbitrated marker never materialized / whose release lost
    // its second delete) — no-op for the built-in coordinators, an
    // age-horizon sweep of the lock directory for out-of-domain ones
    commitCoord.reclaimStranded(tornRetainMs)
    // a LIVE writer's reserved slot must survive a concurrent commit's
    // GC — reservations younger than the retention horizon are skipped
    // WHETHER OR NOT a manifest is present (a manifest under a live
    // marker is a commit mid-verification, not an expired version);
    // stale ones read as crashed/shadowed torn leftovers
    def reservedLive(v: Int): Boolean =
      scala.util.Try(
        isReserved(name, v) &&
          (System.currentTimeMillis() -
            fs.getFileStatus(rsvFile(name, v)).getModificationTime) < tornRetainMs
      ).getOrElse(false) // marker vanished mid-check: a competitor swept it
    // ADOPT a crashed finalize: manifest written + verification passed
    // but the crash hit before the marker delete. Adoption must be
    // exactly as strict as the verification it replays: the orphan sits
    // where the next commit would go AND its recorded BASE is the
    // current head — an orphan built on an older base crashed in the
    // rename→verify window where verify would have FAILED (a competitor
    // committed in between), and publishing it would silently lose that
    // competitor's update. Such an orphan stays torn and ages into GC;
    // adoption is an optimization, never required for correctness.
    // (Runs before retention accounting so an adopted head is retained.)
    for (v <- physicalVersionDirs(name).sorted
        if isReserved(name, v) && hasManifest(name, v) && !reservedLive(v)) {
      val cur0 = currentVersion(name)
      if (v == cur0.getOrElse(-1) + 1 &&
          manifestOf(name, v).exists(_.baseVersion.contains(cur0.getOrElse(-1))))
        commitCoord.release(rsvFile(name, v))
    }
    val cur = currentVersion(name).getOrElse(return 0)
    val all = physicalVersionDirs(name)
    val committed = all.filter(v => v <= cur && isCommitted(name, v)).sorted
    // retention = the newest `keep` (the pointer floor) PLUS, under an
    // age horizon, every committed version younger than it — versions
    // inside the horizon stay time-travelable regardless of count
    val retained = committed.takeRight(math.max(1, keep)).toSet ++
      minKeepTs.fold(Set.empty[Int])(ts =>
        committed.filter(v => commitTimestamp(name, v).exists(_ >= ts)).toSet)
    val referenced: Set[String] =
      retained.flatMap(v => manifestOf(name, v) match {
        // bucketed versions are directory-self-contained; nothing
        // cross-references into them
        case Some(m) if m.layout != "bucketed" => m.entries.map(_.rel)
        case _ => Nil
      })
    var reclaimed = 0
    // NEVER gut a PUBLISHED manifest above this pass's head snapshot
    // (manifest, marker gone): it is a commit that landed while we were
    // sweeping — a competitor's fresh head, not a torn leftover. (Its
    // own retention is the NEXT pass's job, when it is below that
    // pass's head.) A manifest still UNDER a marker above the head is
    // different: young markers are protected by reservedLive (a commit
    // mid-verification), but a STALE one is a crashed finalize that
    // just failed adoption (conflicted base) — it ages into GC here,
    // demoting to a gutted pool like any other torn leftover.
    for (v <- all if !retained.contains(v) && !reservedLive(v) &&
        !(v > cur && hasManifest(name, v) && !isReserved(name, v))) {
      val dir = verDir(name, v)
      // torn (> head) and expired-committed dirs both count as
      // reclaimed versions; an already-gutted data pool does not
      val wasVersion = v > cur || isCommitted(name, v)
      // crash-safe gut ordering: tombstone FIRST, then metadata, then
      // data. Every crash window then reads as either a still-committed
      // version (manifest intact, nothing deleted yet) or a cleanly
      // refused gutted pool — never a manifest-less dir with partial
      // data that isCommitted() would mistake for a LEGACY version.
      // (The tombstone is also what tells an expired version apart from
      // a LEGACY pre-manifest committed dir, which must keep reading as
      // a version; deleteIfEmptyTree sweeps it once the pool drains.)
      // every step below is idempotent and tolerates a CONCURRENT GC
      // (two sessions' retention passes sweeping the same expired dir)
      try {
        if (fsExists(dir) && !fsExists(new HPath(dir, "_gutted")))
          writeStr(new HPath(dir, "_gutted"), "")
        Seq("_manifest.json", "_graft_schema.json", "_delta_watermark",
          "_delta_absorbed", "_graft_batch", "_SUCCESS")
          .foreach(m => fs.delete(new HPath(dir, m), false))
        dataFilesUnder(dir).foreach { st =>
          if (!referenced.contains(relTo(td, st.getPath))) fs.delete(st.getPath, false)
        }
        deleteIfEmptyTree(dir)
      } catch { case _: java.io.IOException => () } // competitor swept it under us
      commitCoord.release(rsvFile(name, v)) // reclaimed slot: marker goes too
      if (wasVersion) reclaimed += 1
    }
    // markers whose slot dir is fully gone (crashed before any write)
    listNames(td).foreach { st =>
      val f = st.getPath.getName
      if (st.isFile && f.startsWith("_rsv_v") && f.drop(6).forall(_.isDigit)) {
        val v = f.drop(6).toInt
        if (!retained.contains(v) && !reservedLive(v) && !fsExists(verDir(name, v)))
          commitCoord.release(st.getPath)
      }
    }
    // delta-landing reservations ([[appendDelta]]): released on
    // success; a leftover is reclaimable once its delta dir exists
    // (landed, the release just never ran) or it ages past the horizon
    // (crashed between reserve and rename)
    listNames(deltaRoot(name)).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && n.startsWith("_rsv_b") && n.drop(6).forall(_.isDigit) &&
          (fsExists(deltaDirOf(name, n.drop(6).toLong)) ||
            System.currentTimeMillis() - st.getModificationTime >= tornRetainMs))
        commitCoord.release(st.getPath)
    }
    // absorbed deltas (id ≤ watermark, or in the above-gap absorbed
    // set) are reclaimable only when no retained manifest references a
    // file inside them
    val mark = currentMark(name)
    listNames(deltaRoot(name)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("b") && n.drop(1).forall(_.isDigit) &&
        mark.absorbed(n.drop(1).toLong) &&
        !referenced.exists(_.startsWith(s"delta/$n/")))
        deleteRec(st.getPath)
    }
    reclaimed
  }

  // ---- delta landing (streaming appends) ----
  //
  // A long-running ingest loop cannot afford the versioned full-rewrite
  // commit: appending one micro-batch by rewriting the whole table costs
  // O(landed history) per tick — quadratic cumulative I/O over the
  // stream's life. Instead each micro-batch lands as its OWN immutable
  // delta directory keyed by the foreachBatch batchId (a mini delta log
  // in the store's copy-on-write idiom):
  //
  //  - per-tick write cost is O(batch), never O(table);
  //  - landing is replay-idempotent: foreachBatch is at-least-once, and
  //    a replayed epoch finds its batchId already committed and skips —
  //    no double-append, and state derived FROM the landed table (e.g.
  //    streaming quota admission totals) stays exact across crashes;
  //  - commit is an atomic directory rename (write to a dot-tmp dir,
  //    move into place) — a crash mid-write leaves an invisible tmp dir
  //    that GC reclaims, never a torn committed delta.
  //
  // Every `deltaFoldEvery` landings the live deltas FOLD into a new base
  // version: ONE manifest file naming the previous base's entries plus
  // the delta files — zero data bytes written, on any filesystem. The
  // fold records a `_delta_watermark` in the version dir: deltas with
  // id ≤ watermark are absorbed (excluded from reads, reclaimed when no
  // retained manifest references them), so a crash between
  // pointer-commit and delta-reap never double-counts.

  /** Batch ids of COMMITTED, not-yet-absorbed delta landings, ascending. */
  def landedBatchIds(name: String): Seq[Long] = liveDeltaIds(name)

  private def liveDeltaIds(name: String): Seq[Long] =
    liveDeltaIdsAt(name, currentMark(name))

  /** [[liveDeltaIds]] against an already-resolved absorption mark —
    * callers that hold a head resolution avoid re-listing the table dir
    * (the manifest-based head costs one listing + per-version probes,
    * so hot paths resolve once and thread it through).
    */
  private def liveDeltaIdsAt(name: String, mark: DeltaMark): Seq[Long] =
    listNames(deltaRoot(name)).flatMap { st =>
      val f = st.getPath.getName
      if (f.startsWith("b") && f.drop(1).forall(_.isDigit) &&
          !mark.absorbed(f.drop(1).toLong))
        Some(f.drop(1).toLong)
      else None
    }.sorted

  /** Delta-absorption state of a base version. `wm` is the watermark:
    * every id ≤ wm is absorbed (and, the replay-guard contract, was
    * genuinely landed — the watermark never rises over an id that never
    * landed). `above` is the explicit set of absorbed ids ABOVE the
    * watermark, held as SORTED DISJOINT inclusive ranges: with two
    * producers interleaving ids, one stalling leaves a permanent GAP
    * in the landed sequence, and without the set, folds could absorb
    * nothing past it forever (unbounded live deltas + per-fold abort
    * churn) — the set lets a fold absorb the tail beyond the gap while
    * the gap id itself stays landable.
    *
    * Size bound: the RANGE encoding makes the set O(#open gaps), not
    * O(absorbed ids) — a PERMANENTLY dead producer lane (the worst
    * case: every surviving landing adds one id above the oldest gap
    * forever) costs one range endpoint per gap, so the serialized
    * `_delta_absorbed` file and every fold's metadata stay O(1) for a
    * single dead lane no matter how many ids land past it. Ranges
    * DRAIN as gaps fill: the watermark catches up and absorbs the
    * leading range.
    */
  private final case class DeltaMark(wm: Long, above: Seq[(Long, Long)]) {
    def absorbed(id: Long): Boolean = id <= wm || {
      // binary search the sorted disjoint ranges
      var lo = 0; var hi = above.length - 1; var found = false
      while (lo <= hi && !found) {
        val mid = (lo + hi) >>> 1
        val (a, b) = above(mid)
        if (id < a) hi = mid - 1
        else if (id > b) lo = mid + 1
        else found = true
      }
      found
    }
    def maxAbsorbed: Long = above.lastOption.map(_._2).getOrElse(wm)
  }

  private def currentMark(name: String): DeltaMark =
    markAt(name, currentVersion(name))

  private def markAt(name: String, cur: Option[Int]): DeltaMark =
    cur.map { v =>
      val d = verDir(name, v)
      // a MISSING watermark/absorbed file is normal (no fold / no gap
      // yet) and reads as empty; a PRESENT one that cannot be READ or
      // PARSED must fail LOUDLY, not degrade — treating absorbed ids
      // as live would union their delta dirs on top of the manifest
      // entries that already carry the same files (silent row
      // duplication), and treating unknown ids as absorbed would
      // swallow unlanded batches. Neither silent direction is safe, so
      // name the file and stop ([[readStrIfExists]] rethrows read
      // failures of present files; parse failures throw here).
      val wmFile = new HPath(d, "_delta_watermark")
      val wm = readStrIfExists(wmFile).map { raw =>
        try raw.trim.toLong
        catch {
          case e: NumberFormatException => throw new IllegalStateException(
            s"corrupt $wmFile: '${raw.take(120)}' — restore it or full-write " +
              "the table to reset delta bookkeeping", e)
        }
      }.getOrElse(-1L)
      val abFile = new HPath(d, "_delta_absorbed")
      val above = readStrIfExists(abFile) match {
        case None => Nil
        case Some(raw) =>
          try RelationStore.parseRanges(raw)
          catch {
            case e: NumberFormatException => throw new IllegalStateException(
              s"corrupt $abFile: '${raw.take(120)}' — restore it or " +
                "full-write the table to reset delta bookkeeping", e)
          }
      }
      DeltaMark(wm, above)
    }.getOrElse(DeltaMark(-1L, Nil))

  /** Whether `batchId` has already been durably landed (committed delta
    * dir, or absorbed below the base watermark). The replay guard:
    * Structured Streaming's foreachBatch is at-least-once, and batch ids
    * are monotone per checkpoint, so a replayed epoch answers true here
    * and [[appendDelta]] skips it.
    */
  def batchLanded(name: String, batchId: Long): Boolean =
    currentMark(name).absorbed(batchId) || fsExists(deltaDirOf(name, batchId))

  /** Land one micro-batch as an immutable delta directory. Returns false
    * (and evaluates NOTHING — `df` stays lazy) when `batchId` already
    * landed. Refuses bucketed/partitioned-layout bases: deltas are flat
    * parquet dirs unioned into the read, which would silently discard a
    * bucket spec or partition columns.
    */
  def appendDelta(df: DataFrame, name: String, batchId: Long): Boolean = {
    // replay guard FIRST: an epoch that already landed must skip
    // quietly even if the table has since changed shape (e.g. a
    // bucketed CTAS superseded the landing loop) — crashing the stream
    // on a replayed old epoch would wedge recovery
    if (batchLanded(name, batchId)) return false
    // delta landings are COMMITS too: two sessions replaying one epoch
    // arbitrate on the delta dir's no-overwrite rename, which is only
    // atomic where the coordinator says reservations are — on a plain
    // object store, two copy+delete "renames" could interleave their
    // part files under one delta dir (the batch's rows land twice).
    // Same capability gate as versioned commits, same ways out.
    if (concurrentWriters && !commitCoord.atomicReservation)
      throw new IllegalStateException(
        s"cannot land deltas into $schema.$name: warehouse '$root' is on " +
          s"${commitCoord.describe}, which has no atomic rename to arbitrate " +
          "concurrent epoch replays. Construct the store with " +
          "concurrentWriters=false if exactly one writer process lands here, " +
          "or supply an external CommitCoordinator.")
    require(!isView(name), s"cannot land deltas into view $schema.$name")
    require(!isBucketed(name),
      s"cannot land deltas into bucketed relation $schema.$name")
    require(currentVersion(name).isEmpty || !isPartitionedLayout(name),
      s"cannot land deltas into partitioned-layout relation $schema.$name")
    // same column names + types as the landed content — the read path
    // unions the files, so drift would surface as torn schemas later
    storedSchemaOf(name).foreach { stored =>
      val landed = stored.fields.toSeq.map(f => (f.name, f.dataType))
      val incoming = df.schema.fields.toSeq.map(f => (f.name, f.dataType))
      require(landed == incoming,
        s"appendDelta($name): schema drift — landed $landed vs incoming $incoming")
    }
    fs.mkdirs(deltaRoot(name))
    // tmp name carries a nonce: two sessions replaying the SAME epoch
    // must not share a staging dir; the no-OVERWRITE rename below then
    // arbitrates — exactly one landing commits, the loser discards
    val tmp = new HPath(deltaRoot(name),
      s".tmp_b${batchId}_${java.util.UUID.randomUUID().toString.take(8)}")
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    writeStr(new HPath(tmp, "_graft_schema.json"), df.schema.json)
    // per-file column stats are collected ONCE, here at landing time —
    // the landing just wrote these files, and the parallel footer fetch
    // rides the same metadata path as the commit's. The fold then reads
    // this sidecar instead of re-opening footers serially per delta
    // (fold latency would otherwise grow linearly in landed deltas on
    // an object store). The sidecar renames into place atomically WITH
    // the delta dir, so a committed delta always has its stats.
    writeStr(new HPath(tmp, "_graft_stats.json"), graft.artifacts.Json.write(
      collectStatsByName(dataFilesIn(tmp), df.schema)
        .map { case (n, fst) => n -> FileStats.toJsonValue(fst) }))
    // ARBITRATE through the coordinator, not the dest-dir rename: two
    // sessions replaying one epoch race on a per-batch reservation
    // marker (the coordinator's atomic primitive — on an object store
    // with an external lock service, the dest "rename" is a
    // copy+delete that two replayers could interleave). The marker is
    // held only across the rename itself (the batch write above ran
    // unreserved), so the crash window that strands it is tiny; GC
    // reclaims a stranded one at the torn horizon, and the wait loop
    // below reclaims it inline for a blocked replayer.
    val dest = deltaDirOf(name, batchId)
    val landRsv = new HPath(deltaRoot(name), s"_rsv_b$batchId")
    var won = false
    var waitedMs = 0L
    while (!won) {
      won = RelationStore.slotLock(fs.makeQualified(landRsv).toString).synchronized {
        !fsExists(dest) &&
          commitCoord.reserve(landRsv, java.util.UUID.randomUUID().toString)
      }
      if (!won) {
        if (fsExists(dest)) { deleteRec(tmp); return false } // competitor landed
        // a competitor holds the landing reservation: its rename is
        // imminent (the hold spans only the rename), it failed cleanly
        // (marker released, dest absent — retry the reserve), or it
        // crashed (marker ages past the horizon — reclaim inline)
        val age = scala.util.Try(System.currentTimeMillis() -
          fs.getFileStatus(landRsv).getModificationTime).getOrElse(Long.MaxValue)
        if (age >= tornRetainMs) commitCoord.release(landRsv)
        else if (waitedMs >= 60_000L) {
          deleteRec(tmp)
          throw new IllegalStateException(
            s"concurrent landing of batch $batchId into $schema.$name still " +
              "in flight after 60 s — failing so the stream replays the epoch")
        } else { Thread.sleep(50L); waitedMs += 50L }
      }
    }
    try fctx.rename(tmp, dest)
    catch {
      case e: java.io.IOException =>
        // we OWN the landing reservation, so a refused rename is a real
        // filesystem failure, never a lost race — clean up and rethrow
        // so the stream fails and REPLAYS the epoch (foreachBatch
        // commits the epoch on a false return; swallowing a hiccup
        // here would drop the batch permanently)
        deleteRec(tmp)
        commitCoord.release(landRsv)
        throw e
    }
    commitCoord.release(landRsv)
    registerView(name)
    if (liveDeltaIds(name).size >= math.max(2, deltaFoldEvery)) {
      foldDeltas(name)
      // landing-loop auto-OPTIMIZE: bound the file count a scan opens
      // without operator action; rewrites only under-sized files. No
      // head yet when our fold was a no-op behind a competitor's fold
      // that is committed but not yet published: nothing to compact.
      if (currentVersion(name).exists(v => versionEntries(name, v).size >= autoCompactMinFiles))
        compact(name, autoCompactTargetBytes)
    }
    true
  }

  /** Fold all live deltas into a new base version — ONE manifest file
    * naming the previous base's entries plus the live deltas' data
    * files. Zero data bytes are written, on any filesystem: the fold is
    * O(1) data, O(live deltas) metadata. Returns the number of deltas
    * folded.
    */
  def foldDeltas(name: String): Int = {
    if (liveDeltaIds(name).isEmpty) return 0
    val slot = reserveVersion(name, currentVersion(name).getOrElse(-1) + 1)
    fs.mkdirs(verDir(name, slot))
    var folded = 0
    commitHead(name, slot, { (n, base) =>
      // everything base-dependent recomputes per attempt: a competitor
      // commit between attempts changes both the carried entries and
      // (for a full write that superseded them) the live delta set.
      // CRITICAL: "live" is judged against the watermark of the BASE
      // this attempt builds on (the raw committedBelow), never the
      // published head's — a competitor's committed-but-unpublished
      // fold already absorbed some deltas into the base entries, and
      // re-listing those as live would duplicate their files in the
      // manifest
      val baseMark = markAt(name, base)
      val live = liveDeltaIdsAt(name, baseMark)
      if (live.isEmpty) None // superseded mid-flight: no-op
      else {
        // absorb EVERY live id. The watermark advances only over the
        // dense prefix of absorbed ids (`id ≤ wm ⇒ landed` is the
        // replay guard's contract — raising it over a GAP in the landed
        // sequence would make the gap id's late landing read as
        // already-landed and silently swallow its batch); absorbed ids
        // beyond a gap are recorded explicitly in `_delta_absorbed` as
        // merged RANGES, so one stalled producer never wedges folding
        // for the other (before the set, every fold past a gap was a
        // no-op — version churn plus unboundedly growing live-delta
        // listings) and a permanently dead lane costs O(#gaps) bytes
        // per fold, not O(ids landed past it).
        val merged = RelationStore.mergeRanges(
          baseMark.above ++ live.map(id => (id, id)))
        var w = baseMark.wm
        var above = merged
        while (above.nonEmpty && above.head._1 == w + 1) {
          w = above.head._2
          above = above.tail
        }
        val prevEntries = base.toSeq.flatMap(v => versionEntries(name, v))
        val schemaSrc = (base.map(verDir(name, _)).toSeq ++ live.map(deltaDirOf(name, _)))
          .map(d => new HPath(d, "_graft_schema.json")).find(fsExists)
        val foldSchema = schemaSrc.map(s =>
          org.apache.spark.sql.types.DataType.fromJson(readStr(s)).asInstanceOf[StructType])
        // delta files carry the column stats their LANDING collected
        // (the `_graft_stats.json` sidecar) into the manifest — the
        // fold reads one tiny sidecar per delta and ZERO parquet
        // footers, and still writes zero data bytes. Pre-sidecar deltas
        // (older landings) fall back to a one-time footer read.
        val deltaEntries = live.flatMap { id =>
          val dir = deltaDirOf(name, id)
          val sidecar = foldSchema.flatMap(sc => readStatsSidecar(dir, sc))
          dataFilesIn(dir).map { st =>
            val stats = sidecar match {
              case Some(m) => m.get(st.getPath.getName) // absent ⇒ unknown, never skipped
              case None => foldSchema.flatMap(sc => FileStats.collect(st, sc, hconf))
            }
            MEntry(relTo(tableDir(name), st.getPath), st.getLen, stats)
          }
        }
        schemaSrc.foreach(s =>
          writeStr(new HPath(verDir(name, n), "_graft_schema.json"), readStr(s)))
        writeStr(new HPath(verDir(name, n), "_delta_watermark"), w.toString)
        if (above.nonEmpty)
          writeStr(new HPath(verDir(name, n), "_delta_absorbed"),
            RelationStore.formatRanges(above))
        folded = live.size
        // belt-and-braces: never list one physical file twice even if
        // a future base/watermark skew slips through
        val prevRels = prevEntries.map(_.rel).toSet
        Some(("files", Nil, prevEntries ++ deltaEntries.filterNot(e => prevRels(e.rel))))
      }
    }).fold(0)(_ => folded)
  }

  /** The stored schema of the current landed content (base version's, or
    * the oldest live delta's for a delta-only table).
    */
  private def storedSchemaOf(name: String): Option[StructType] = {
    val candidates = currentVersion(name).map(verDir(name, _)).toSeq ++
      liveDeltaIds(name).map(deltaDirOf(name, _))
    candidates.map(d => new HPath(d, "_graft_schema.json")).find(fsExists).map { f =>
      org.apache.spark.sql.types.DataType.fromJson(readStr(f)).asInstanceOf[StructType]
    }
  }

  /** Write a new version and commit it (stage into a reserved slot,
    * publish the manifest, verify headship — [[commitHead]]).
    * `partitionBy` lays the version out as partitioned parquet dirs —
    * on a cluster that's what makes event-time `replaceWhere` windows
    * and partition-pruned scans O(touched partitions), not O(table).
    */
  def write(df: DataFrame, name: String, partitionBy: Seq[String] = Nil,
      /** Pre-commit validation over the WRITTEN files (constraint
        * checks): runs against a parquet read of the staged version —
        * a column-pruned scan, not a recompute of the model plan. A
        * throw leaves the previous version current.
        */
      validate: Option[DataFrame => Unit] = None,
      /** Exactly-once marker for merge-style streaming sinks: the batch
        * id this commit applies, persisted IN the version dir so the
        * marker and the data commit atomically together (pointer swap).
        * A replayed foreachBatch epoch checks [[lastBatchTag]] ≥ its id
        * and skips the non-idempotent merge.
        */
      batchTag: Option[Long] = None): Unit = {
    val slot = reserveVersion(name, currentVersion(name).getOrElse(-1) + 1)
    val dest = verDir(name, slot)
    try withStagingHeartbeat(name, slot) {
      val writer = df.write.mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .parquet(dest.toString)
      // leading "_" files are invisible to parquet FileIndex (like _SUCCESS)
      writeStr(new HPath(dest, "_graft_schema.json"), df.schema.json)
      batchTag.foreach(t => writeStr(new HPath(dest, "_graft_batch"), t.toString))
      // validation runs pre-commit over the STAGED files: a throw
      // releases the slot and the previous version stays current
      validate.foreach(v => v(spark.read.parquet(dest.toString)))
    } catch { case e: Throwable => releaseSlot(name, slot); throw e }
    val entries = physicalEntries(name, slot, statsSchema = Some(df.schema))
    val layout = if (partitionBy.nonEmpty) "partitioned" else "files"
    dropBucketing(name)
    commitHead(name, slot, { (n, base) =>
      // a full write REPLACES the table's content: every delta landed
      // up to the commit moment is superseded — re-derived per attempt
      // (against the BASE watermark, raw view: see foldDeltas) so a
      // delta landing concurrently with a slow commit still gets
      // superseded rather than unioned onto the replaced content
      val baseMark = markAt(name, base)
      // a single watermark (no absorbed set) is right here: a full
      // write supersedes EVERYTHING at or below it — including a gap
      // id's late landing, which would be stale against the replaced
      // content (the documented supersede semantics)
      val supersededWm =
        (baseMark.maxAbsorbed +: liveDeltaIdsAt(name, baseMark): Seq[Long]).max
      if (supersededWm >= 0)
        writeStr(new HPath(verDir(name, n), "_delta_watermark"), supersededWm.toString)
      Some((layout, partitionBy, entries))
    })
  }

  /** Batch tag recorded by the current version's commit, if any. */
  def lastBatchTag(name: String): Option[Long] =
    currentVersion(name).flatMap { v =>
      val f = new HPath(verDir(name, v), "_graft_batch")
      scala.util.Try(readStr(f).trim.toLong).toOption
    }

  /** Bucketed CTAS (reference: warehouse clustering/bucketing DDL the
    * adapters render; Spark-side this is `CLUSTERED BY … INTO n BUCKETS`).
    * The version directory is identical to [[write]]'s, but the commit
    * ALSO records a session-catalog table whose metadata carries the
    * bucket spec — Spark only honors bucketing through the catalog, a
    * path read silently discards it. Two relations bucketed on the same
    * keys into the same bucket count join with ZERO Exchange (and zero
    * Sort, thanks to sortBy): at 100 TB that deletes the dominant
    * shuffle of every recurring fact-to-fact join on the bucket key.
    */
  def writeBucketed(df: DataFrame, name: String, bucketBy: Seq[String], buckets: Int): Unit = {
    require(bucketBy.nonEmpty && buckets > 0, "bucketed write needs keys and a bucket count")
    val slot = reserveVersion(name, currentVersion(name).getOrElse(-1) + 1)
    val dest = verDir(name, slot)
    val cat = catalogName(name)
    // Stage through a scratch catalog name: the LIVE table stays intact
    // until the data write has fully succeeded — same
    // failed-writes-never-corrupt discipline as write().
    val staging = cat + "__staging"
    try withStagingHeartbeat(name, slot) {
      spark.sql(s"DROP TABLE IF EXISTS $staging")
      df.write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, bucketBy.head, bucketBy.tail: _*)
        .sortBy(bucketBy.head, bucketBy.tail: _*)
        .option("path", dest.toString)
        .saveAsTable(staging)
      writeStr(new HPath(dest, "_graft_schema.json"), df.schema.json)
      spark.sql(s"DROP TABLE IF EXISTS $staging") // metadata only (external)
    } catch { case e: Throwable => releaseSlot(name, slot); throw e }
    // a bucketed version is directory-self-contained (the catalog
    // relation points at ITS dir), so it cannot re-slot by manifest
    // reference — a concurrent commit racing a bucketed CTAS aborts
    // cleanly (staged slot demoted, LIVE table and its catalog/marker
    // untouched) and asks for a rerun
    val committed = commitHead(name, slot, { (n, _) =>
      if (n != slot) None
      else {
        // bucketed CTAS refuses re-slots, so the base is whatever the
        // published head says; supersede every delta live against it
        val headMark = currentMark(name)
        val supersededWm =
          (headMark.maxAbsorbed +: liveDeltaIdsAt(name, headMark): Seq[Long]).max
        if (supersededWm >= 0)
          writeStr(new HPath(verDir(name, n), "_delta_watermark"), supersededWm.toString)
        Some(("bucketed", Nil, Nil))
      }
    })
    if (committed.isEmpty)
      throw new IllegalStateException(
        s"concurrent commit raced bucketed CTAS of $schema.$name — rerun the model")
    // the version is committed: NOW swap the catalog metadata (doing it
    // pre-commit would leave a dropped catalog + a marker pointing at
    // an uncommitted slot if the commit aborted)
    spark.sql(s"DROP TABLE IF EXISTS $cat")
    writeStr(bucketedFile(name), graft.artifacts.Json.write(Map(
      "catalog" -> cat, "bucket_by" -> bucketBy, "buckets" -> buckets)))
    registerCatalog(cat, dest, bucketBy, buckets)
    registerView(name) // re-register through the (new) bucketed path
  }

  private def bucketedFile(name: String): HPath = new HPath(tableDir(name), "_bucketed")

  def isBucketed(name: String): Boolean = fsExists(bucketedFile(name))

  /** Catalog name + spec recorded by the last bucketed commit. */
  private def bucketSpec(name: String): (String, Seq[String], Int) =
    graft.artifacts.Json.parse(readStr(bucketedFile(name))) match {
      case m: Map[String @unchecked, Any @unchecked] =>
        (m("catalog").toString,
          m.getOrElse("bucket_by", Nil).asInstanceOf[Seq[Any]].map(String.valueOf(_)),
          m("buckets").toString.toDouble.toInt)
      // pre-JSON markers stored the bare catalog name
      case s => (String.valueOf(s), Nil, 0)
    }

  /** The session catalog is in-memory — a fresh JVM forgets the table
    * even though marker + files survive. Recreate the external bucketed
    * table over the current version on demand (CLUSTERED BY metadata;
    * the bucket ids live in the file names, so re-registration is pure
    * metadata).
    */
  private def ensureBucketedRegistered(name: String): String = {
    val (cat, keys, n) = bucketSpec(name)
    if (!spark.catalog.tableExists(cat)) {
      val p = currentPath(name).getOrElse(
        throw new IllegalStateException(s"bucketed relation without version: $schema.$name"))
      registerCatalog(cat, new HPath(p), keys, n)
    }
    cat
  }

  private def registerCatalog(cat: String, dest: HPath, keys: Seq[String], n: Int): Unit = {
    val stored = org.apache.spark.sql.types.DataType
      .fromJson(readStr(new HPath(dest, "_graft_schema.json")))
      .asInstanceOf[StructType]
    val keyList = keys.mkString(", ")
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $cat (${stored.toDDL}) USING parquet
         |CLUSTERED BY ($keyList) SORTED BY ($keyList) INTO $n BUCKETS
         |LOCATION '${dest.toString}'""".stripMargin)
  }

  /** A relation that stops being bucketed (config removed, or an
    * incremental path writes it) must not keep serving the stale
    * catalog table — clear marker + metadata before the new commit.
    */
  private def dropBucketing(name: String): Unit =
    if (isBucketed(name)) {
      spark.sql(s"DROP TABLE IF EXISTS ${bucketSpec(name)._1}")
      fs.delete(bucketedFile(name), false)
    }

  /** Session-catalog identifier for a bucketed relation — root-hashed so
    * stores over different warehouse dirs (parallel tests, defer stores)
    * never collide in the shared catalog.
    */
  private def catalogName(name: String): String = {
    val rootTag = java.security.MessageDigest.getInstance("MD5")
      .digest(root.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"graft_${rootTag}_${schema}__$name".replaceAll("[^A-Za-z0-9_]", "_")
  }

  /** Partition-scoped commit: `df` holds the FULL replacement content of
    * the partitions it touches (and nothing else); every leaf partition
    * of the current version that the write did not produce is CARRIED
    * into the new version's manifest by reference — zero data bytes, on
    * any filesystem. This is what makes incremental strategies
    * O(touched partitions) physically, not just logically — a
    * microbatch that lands in one day's partition commits one
    * partition's worth of bytes no matter how big the table is (the
    * lakehouse `replaceWhere` commit shape, with the manifest playing
    * the delta-log role).
    *
    * Falls back to a full [[write]] when the table doesn't exist yet or
    * the schema changed (on_schema_change) — carried old files must
    * share the table schema or readers would see torn schemas.
    */
  def writePartitions(
      df: DataFrame,
      name: String,
      partitionBy: Seq[String],
      /** Explicit touched partition-value tuples. Required to DROP a
        * touched partition whose replacement content is empty (e.g. a
        * merged key moved out of it) — the parquet writer emits no dir
        * for zero rows, so written dirs alone under-report the touched
        * set. None ⇒ infer from the written dirs.
        */
      touchedValues: Option[Array[org.apache.spark.sql.Row]] = None): Unit = {
    require(partitionBy.nonEmpty, "writePartitions requires partition columns")
    // a partition-scoped commit replaces SOME content; live deltas are
    // neither partition-addressed nor superseded — the combination is
    // incoherent (delta landing targets flat append-only tables)
    require(liveDeltaIds(name).isEmpty,
      s"writePartitions($name): relation has live delta landings — fold or full-write first")
    val cur = currentVersion(name)
    if (cur.isEmpty) { write(df, name, partitionBy); return }
    if (!schemaMatches(name, df.schema))
      // carried old files must share the table schema; callers guard
      // with schemaMatches and take the full-write path on
      // on_schema_change
      throw new IllegalStateException(
        s"writePartitions($name): schema drift — use write() for schema-changing commits")
    val slot = reserveVersion(name, cur.get + 1)
    val dest = verDir(name, slot)
    val (newEntries, written, dropped) =
      try withStagingHeartbeat(name, slot) {
        df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).parquet(dest.toString)
        writeStr(new HPath(dest, "_graft_schema.json"), df.schema.json)
        val dr: Set[String] = touchedValues match {
          case Some(vals) if vals.nonEmpty => touchedLeafDirs(df.schema, partitionBy, vals)
          case _ => Set.empty
        }
        val ne = physicalEntries(name, slot, statsSchema = Some(df.schema))
        (ne, ne.map(_.leafKey).toSet, dr)
      } catch { case e: Throwable => releaseSlot(name, slot); throw e }
    dropBucketing(name)
    commitHead(name, slot, { (_, base) =>
      // carry every BASE entry whose leaf was neither re-written
      // (present among the new physical files) nor touched-to-empty —
      // recomputed per attempt so a competitor's commits to OTHER
      // partitions carry through rather than being lost
      base match {
        case Some(b) =>
          if (!schemaMatches(name, df.schema))
            throw new IllegalStateException(
              s"writePartitions($name): concurrent schema change under a " +
                "partition-scoped commit — rerun the model")
          val carried = versionEntries(name, b)
            .filter(e => !written.contains(e.leafKey) && !dropped.contains(e.leafKey))
          Some(("partitioned", partitionBy, newEntries ++ carried))
        case None => // table vanished mid-flight: commit our partitions alone
          Some(("partitioned", partitionBy, newEntries))
      }
    })
  }

  /** Escaped leaf-dir names for partition-value tuples, derived by
    * writing the tuples through Spark's own partitioned writer into a
    * DRIVER-LOCAL scratch dir — value escaping/formatting is guaranteed
    * to match the data write (no hand-rolled Hive-path escaping to
    * drift).
    */
  private def touchedLeafDirs(
      schema: StructType,
      partitionBy: Seq[String],
      vals: Array[org.apache.spark.sql.Row]): Set[String] = {
    import scala.jdk.CollectionConverters._
    val scratch = java.nio.file.Files.createTempDirectory("graft_touched")
    val pf = StructType(partitionBy.map(p => schema(p).copy(nullable = true)))
    // write through an explicit file: URI — a scheme-less path would
    // resolve against fs.defaultFS (HDFS/object store on a cluster)
    // while the read-back below is pinned to the local FS; the silent
    // empty listing would carry touched-to-empty partitions forward
    spark.createDataFrame(vals.toSeq.asJava, pf)
      .withColumn("__one", org.apache.spark.sql.functions.lit(1))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*)
      .parquet(scratch.toUri.toString)
    val local = FileSystem.getLocal(hconf)
    val base = local.makeQualified(new HPath(scratch.toString))
    val out = leafPartitionDirsOn(local, base, base, partitionBy.length).toSet
    local.delete(base, true)
    require(vals.isEmpty || out.nonEmpty,
      s"touched-partition derivation listed no leaf dirs for ${vals.length} tuples — " +
        "scratch write and read-back disagree on the filesystem")
    out
  }

  /** Whether the current version is laid out as partitioned parquet —
    * the other precondition for a partition-scoped commit. A table
    * first written WITHOUT partition_by has no partition dirs to carry,
    * so a partition-scoped commit against it would silently drop every
    * untouched row; callers must full-write once to re-layout.
    */
  def isPartitionedLayout(name: String): Boolean =
    currentVersion(name).exists { v =>
      manifestOf(name, v) match {
        case Some(m) => m.layout == "partitioned"
        case None => // legacy manifest-less dir: physical check
          listNames(verDir(name, v)).exists(st =>
            st.isDirectory && st.getPath.getName.contains("="))
      }
    }

  /** Whether `schema` is byte-identical to the current version's stored
    * schema (the precondition for a partition-scoped commit).
    */
  def schemaMatches(name: String, schema: StructType): Boolean =
    currentVersion(name).exists { v =>
      val f = new HPath(verDir(name, v), "_graft_schema.json")
      fsExists(f) && {
        val stored = org.apache.spark.sql.types.DataType
          .fromJson(readStr(f)).asInstanceOf[StructType]
        // nullability is read-compatible either way (parquet fills nulls);
        // names + types + order are what carried files must agree on
        stored.fields.toSeq.map(x => (x.name, x.dataType)) ==
          schema.fields.toSeq.map(x => (x.name, x.dataType))
      }
    }

  /** Leaf partition dirs (depth = #partition cols) relative to `base`,
    * as '/'-joined `col=value` strings — used only on the DRIVER-LOCAL
    * scratch dir that derives escaped leaf names for touched-partition
    * tuples; store versions are enumerated via manifests.
    */
  private def leafPartitionDirsOn(
      onFs: FileSystem, base: HPath, p: HPath, depth: Int): Seq[String] =
    if (!onFs.exists(p) || !onFs.getFileStatus(p).isDirectory) Nil
    else if (depth == 0) Seq(relToOn(onFs, base, p))
    else onFs.listStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory && st.getPath.getName.contains("="))
        leafPartitionDirsOn(onFs, base, st.getPath, depth - 1)
      else Nil
    }

  /** Selective small-file compaction — the lakehouse OPTIMIZE shape.
    *
    * Incremental commits write up to `spark.sql.shuffle.partitions`
    * task files into every touched partition; after enough microbatches
    * a 100 TB table's scan cost is dominated by file opens, not bytes.
    *
    * FLAT (manifest) layouts binpack: manifest entries smaller than
    * `targetBytes` are rewritten into ideally-sized files; entries at or
    * above it carry over as manifest references untouched — bytes
    * rewritten are bounded by the under-sized files, never the table,
    * and [[compactedBytes]] exposes the running total. PARTITIONED
    * layouts rewrite ONLY over-fragmented leaf partitions (more files
    * than `ceil(bytes / targetBytes)`) and carry every well-sized
    * partition unchanged — O(fragmented partitions), not O(table). A
    * no-op compaction commits nothing.
    *
    * Bucketed relations are refused: their file names carry bucket ids
    * and coalescing would silently break the shuffle-free join contract.
    *
    * @return number of partitions rewritten (0 ⇒ no new version;
    *         flat layouts count as one partition)
    */
  def compact(name: String, targetBytes: Long = 128L << 20,
      /** Columns the rewrite clusters by (the Delta `OPTIMIZE … ZORDER
        * BY` shape): ONE column ⇒ range-partition + sort (sharpest
        * single-dimension skipping); TWO OR MORE ⇒ Morton-interleave
        * the first two, so file min/max envelopes stay tight in BOTH
        * dimensions — a single-column sort makes skipping on the
        * second predicate column strictly WORSE after compaction
        * (every output file spans its full range). Empty ⇒ the leading
        * stats-indexed column (the default single-dimension policy).
        * On a PARTITIONED table, partition columns named here are
        * satisfied by partition pruning itself (they live in leaf
        * paths, not data files) and are excluded before clustering —
        * `(partition_col, x)` legitimately becomes a single-column
        * sort by `x` within each leaf.
        */
      clusterColumns: Seq[String] = Nil): Int = {
    require(!isView(name), s"cannot compact view $schema.$name")
    require(!isBucketed(name),
      s"cannot compact bucketed relation $schema.$name — rewrite via its model instead")
    // a delta-landed table folds into a base version first: compaction
    // operates on (and only on) committed base layouts, and the fold is
    // manifest-only so this costs one metadata file, not data bytes
    foldDeltas(name)
    val cur = currentVersion(name).getOrElse(
      throw new IllegalStateException(s"relation not found: $schema.$name"))
    val m = manifestOf(name, cur)
    val entries = versionEntries(name, cur)
    val partitioned = m.exists(_.layout == "partitioned") ||
      (m.isEmpty && entries.exists(_.leafKey.nonEmpty)) // legacy dir
    if (partitioned) {
      val pby = m.map(_.partitionBy).filter(_.nonEmpty).getOrElse(
        // legacy manifests/dirs: derive the partition columns from a
        // leaf key's `col=` names (order preserved by the path)
        entries.head.leafKey.split('/').toSeq.map(_.takeWhile(_ != '=')))
      compactPartitioned(name, cur, pby, entries, targetBytes, clusterColumns)
    } else compactFlat(name, cur, entries, targetBytes, clusterColumns)
  }

  private def compactFlat(
      name: String, cur: Int, entries: Seq[MEntry], targetBytes: Long,
      clusterColumns: Seq[String]): Int = {
    val td = tableDir(name)
    val sized = entries.map(e =>
      if (e.size >= 0) e
      else e.copy(size = fs.getFileStatus(new HPath(td, e.rel)).getLen))
    // small-file cutoff at HALF the target (the Delta OPTIMIZE
    // convention): coalesce outputs average just UNDER targetBytes, so
    // classifying by `< targetBytes` would re-rewrite prior compaction
    // outputs on every trigger — O(table) per trigger instead of
    // amortizing. Files in [target/2, target) are good enough to keep.
    val smallCutoff = math.max(1L, targetBytes / 2)
    val (small, big) = sized.partition(_.size < smallCutoff)
    val smallBytes = small.map(_.size).sum
    val ideal = math.max(1L, (smallBytes + targetBytes - 1) / targetBytes)
    if (small.size <= ideal) return 0
    val slot = reserveVersion(name, cur + 1)
    val dest = verDir(name, slot)
    // Z-order-lite: cluster the rewrite by the leading indexed column so
    // each output file covers a NARROW value range — data skipping gets
    // sharper as the table ages instead of degrading (shuffle cost is
    // bounded by the under-sized files being rewritten anyway)
    try withStagingHeartbeat(name, slot) {
      val packed = spark.read.parquet(small.map(e => new HPath(td, e.rel).toString): _*)
      clusterBy(packed, ideal.toInt, clusterColumns)
        .write.mode(SaveMode.Overwrite).parquet(dest.toString)
    } catch {
      case e: Throwable =>
        releaseSlot(name, slot)
        // a rewrite input vanishing mid-read means a competitor's
        // commit + retention superseded this compaction's snapshot —
        // the same conflict commitHead aborts on, just surfaced at the
        // scan instead of the verify. Compaction is an OPTIMIZATION:
        // abort cleanly (the next trigger re-plans on the fresh head)
        // rather than failing the caller's landing loop.
        if (isStaleReadRace(e)) return 0
        throw e
    }
    carryVersionMeta(name, cur, slot)
    val outEntries = big ++ physicalEntries(name, slot, statsSchema = storedSchemaOf(name))
    commitHead(name, slot, { (_, base) =>
      // compaction is an OPTIMIZATION: if a competitor committed under
      // it, the rewritten content is stale — abort rather than resurrect
      if (base.contains(cur)) Some(("files", Nil, outEntries)) else None
    }).fold(0) { _ => compactedBytes.addAndGet(smallBytes); 1 }
  }

  /** Cluster a compaction rewrite so the output files' min/max
    * envelopes stay selective.
    *
    * ONE cluster column (explicit, or the leading stats-indexed column
    * by default): range-partition into `n` outputs — each file covers a
    * disjoint value range, the sharpest single-dimension layout for
    * both file-level skipping and parquet row-group pruning.
    *
    * TWO cluster columns: Morton-interleave their normalized positions
    * (the Delta OPTIMIZE ZORDER shape; the same [[graft.operators
    * .ScaleOps.zValue]] kernel as the q_zorder_layout operator). A
    * fixed Z-prefix is a RECTANGLE of the two-dimensional key space, so
    * each range-partitioned output file gets a tight envelope in BOTH
    * dimensions — where a single-column sort makes every file span the
    * second column's full range, i.e. skipping on the second predicate
    * column gets strictly worse as the table compacts. Positions are
    * computed from one metadata-sized bounds aggregate broadcast to
    * every row; normalization is positional only (it shapes the
    * layout, never the data), so the double arithmetic is exact
    * enough for any orderable type.
    */
  private def clusterBy(df: DataFrame, n: Int, clusterColumns: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    // a cluster position: the column as an order-preserving number
    // (strings have no bounded numeric position — not Z-orderable)
    def zpos(f: org.apache.spark.sql.types.StructField): Option[org.apache.spark.sql.Column] =
      f.dataType match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.BooleanType =>
          Some(col(f.name).cast("long").cast("double"))
        case org.apache.spark.sql.types.DateType => Some(unix_date(col(f.name)).cast("double"))
        case org.apache.spark.sql.types.TimestampType => Some(unix_micros(col(f.name)).cast("double"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          Some(col(f.name).cast("timestamp_ltz").cast("long").cast("double"))
        case _: org.apache.spark.sql.types.DecimalType => Some(col(f.name).cast("double"))
        case _ => None
      }
    val chosen: Seq[org.apache.spark.sql.types.StructField] =
      if (clusterColumns.nonEmpty) clusterColumns.map { c =>
        df.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"cluster column '$c' not in schema ${df.columns.mkString(", ")}"))
      }
      else FileStats.indexedColumns(df.schema).headOption.toSeq
    // an EXPLICIT multi-column request must not silently cluster a
    // DIFFERENT pair than requested: the Z-ordered pair is the FIRST
    // TWO requested columns, and if either has no orderable position
    // the request errors — skipping over a non-orderable first column
    // to a later orderable pair would produce a layout the CLI then
    // misreports (and exactly the second-dimension regression the
    // caller asked to avoid for the column they named first)
    if (chosen.size >= 2) {
      val pair = chosen.take(2)
      val bad = pair.filterNot(f => zpos(f).isDefined)
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"zorder interleaves the first two requested columns " +
            s"(${pair.map(_.name).mkString(", ")}); " +
            bad.map(f => s"'${f.name}' (${f.dataType.simpleString})").mkString(", ") +
            " cannot be Z-ordered (strings have no bounded numeric position) — " +
            "reorder the request or cluster by a single column instead")
      val Seq(fa, fb) = pair
      val (pa, pb) = (zpos(fa).get, zpos(fb).get)
      val bounds = df.agg(min(pa).as("__mna"), max(pa).as("__mxa"),
        min(pb).as("__mnb"), max(pb).as("__mxb"))
      val gmax = (1L << graft.operators.ScaleOps.ZorderBits) - 1L
      def grid(p: org.apache.spark.sql.Column, mn: String, mx: String) =
        coalesce(
          when(col(mx) > col(mn),
            least(floor((p - col(mn)) / (col(mx) - col(mn)) * gmax), lit(gmax)))
            .otherwise(lit(0L)).cast("long"),
          lit(0L)) // null positions cluster at the origin
      val withZ = df.crossJoin(broadcast(bounds))
        .withColumn("__zc", graft.operators.ScaleOps.zValue(
          grid(pa, "__mna", "__mxa"), grid(pb, "__mnb", "__mxb")))
      val z = col("__zc")
      (if (n > 1) withZ.repartitionByRange(n, z) else withZ.coalesce(1))
        .sortWithinPartitions(z)
        .select(df.columns.map(col): _*)
    } else chosen.headOption match {
      case Some(f) =>
        val c = col(f.name)
        if (n > 1) df.repartitionByRange(n, c).sortWithinPartitions(c)
        else df.coalesce(1).sortWithinPartitions(c)
      case None => df.coalesce(n)
    }
  }

  private def compactPartitioned(name: String, cur: Int, partitionBy: Seq[String],
      entries: Seq[MEntry], targetBytes: Long, clusterColumns: Seq[String]): Int = {
    val td = tableDir(name)
    val sized = entries.map(e =>
      if (e.size >= 0) e
      else e.copy(size = fs.getFileStatus(new HPath(td, e.rel)).getLen))
    val byLeaf = sized.groupBy(_.leafKey)
    val fragmented = byLeaf.filter { case (_, es) =>
      val ideal = math.max(1L, (es.map(_.size).sum + targetBytes - 1) / targetBytes)
      es.size > ideal
    }
    if (fragmented.isEmpty) return 0
    val slot = reserveVersion(name, cur + 1)
    val dest = verDir(name, slot)
    var rewrittenBytes = 0L
    try withStagingHeartbeat(name, slot) {
      for ((leaf, es) <- fragmented.toSeq.sortBy(_._1)) {
        val bytes = es.map(_.size).sum
        val ideal = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
        // leaf files exclude partition columns, so a per-leaf round-trip
        // preserves the written data schema exactly; the rewritten files
        // land under the SAME `col=value` leaf path in the new version
        // partition columns live in the leaf path, not the data files —
        // they can't cluster the in-file layout (matched
        // case-insensitively, like cluster-column resolution itself)
        clusterBy(spark.read.parquet(es.map(e => new HPath(td, e.rel).toString): _*),
          ideal.toInt,
          clusterColumns.filterNot(c => partitionBy.exists(_.equalsIgnoreCase(c))))
          .write.mode(SaveMode.Overwrite).parquet(new HPath(dest, leaf).toString)
        rewrittenBytes += bytes
      }
    } catch {
      case e: Throwable =>
        releaseSlot(name, slot)
        // vanished rewrite input = superseded snapshot (see compactFlat)
        if (isStaleReadRace(e)) return 0
        throw e
    }
    carryVersionMeta(name, cur, slot)
    // well-sized leaves carry by reference, fragmented ones re-list
    val carried = sized.filterNot(e => fragmented.contains(e.leafKey))
    val outEntries =
      physicalEntries(name, slot, statsSchema = storedSchemaOf(name)) ++ carried
    commitHead(name, slot, { (_, base) =>
      if (base.contains(cur)) Some(("partitioned", partitionBy, outEntries)) else None
    }).fold(0) { _ => compactedBytes.addAndGet(rewrittenBytes); fragmented.size }
  }

  /** Compaction rewrites the BASE only; carry the delta bookkeeping
    * forward unchanged (live deltas stay live, absorbed stay absorbed).
    */
  private def carryVersionMeta(name: String, from: Int, to: Int): Unit =
    Seq("_graft_schema.json", "_delta_watermark", "_delta_absorbed",
      "_graft_batch").foreach { meta =>
      val f = new HPath(verDir(name, from), meta)
      if (fsExists(f)) writeStr(new HPath(verDir(name, to), meta), readStr(f))
    }

  /** Store a logical view (SQL text) and register it in the session. */
  def writeView(name: String, sql: String): Unit = {
    fs.mkdirs(schemaDir)
    writeStr(viewFile(name), sql)
    spark.sql(sql).createOrReplaceTempView(sqlName(name))
  }

  def drop(name: String): Unit = {
    deleteRec(tableDir(name))
    fs.delete(viewFile(name), false)
    fs.delete(mvDefFile(name), false)
    fs.delete(grantsFile(name), false)
    fs.delete(commentsFile(name), false)
    spark.catalog.dropTempView(sqlName(name))
  }

  // ---- grants bookkeeping (reference: adapter apply_grants) ----

  private def grantsFile(name: String): HPath = new HPath(schemaDir, s"$name.grants.json")

  /** Record the FULL desired grant state for a relation (privilege →
    * grantee roles). Each write replaces the previous state — the
    * reference computes grant/revoke diffs against the warehouse; with
    * the store as the warehouse, replacing the recorded state is the
    * same semantics.
    */
  def writeGrants(name: String, grants: Map[String, Seq[String]]): Unit =
    if (grants.isEmpty) fs.delete(grantsFile(name), false)
    else {
      fs.mkdirs(schemaDir)
      writeStr(grantsFile(name),
        graft.artifacts.Json.write(
          scala.collection.immutable.SortedMap.from(grants)))
    }

  // ---- persisted docs (reference config.py:86 persist_docs: relation/
  // column comments — the warehouse analogue is COMMENT ON / column
  // TBLPROPERTIES; with the store as the warehouse, the comment
  // metadata lives next to the relation and docs-generate reads it) ----

  private def commentsFile(name: String): HPath = new HPath(schemaDir, s"$name.comments.json")

  /** Record the FULL persisted-docs state for a relation: optional
    * relation comment + column → comment. Each write replaces the
    * previous state, so disabling persist_docs clears the comments on
    * the next run (same replace-the-desired-state semantics as grants).
    */
  def writeComments(name: String, relation: Option[String],
      columns: Map[String, String]): Unit =
    if (relation.isEmpty && columns.isEmpty) fs.delete(commentsFile(name), false)
    else {
      fs.mkdirs(schemaDir)
      writeStr(commentsFile(name),
        graft.artifacts.Json.write(Map(
          "relation" -> relation.getOrElse(""),
          "columns" -> scala.collection.immutable.SortedMap.from(columns))))
    }

  /** (relation comment, column → comment) as persisted — empty when
    * the node never enabled persist_docs.
    */
  def comments(name: String): (Option[String], Map[String, String]) =
    if (!fsExists(commentsFile(name))) (None, Map.empty)
    else graft.artifacts.Json.parse(readStr(commentsFile(name))) match {
      case m: Map[String @unchecked, Any @unchecked] =>
        val rel = m.get("relation").map(_.toString).filter(_.nonEmpty)
        val cols = m.get("columns") match {
          case Some(cm: Map[String @unchecked, Any @unchecked]) =>
            cm.map { case (k, v) => k -> v.toString }
          case _ => Map.empty[String, String]
        }
        (rel, cols)
      case _ => (None, Map.empty)
    }

  def grants(name: String): Map[String, Seq[String]] =
    if (!fsExists(grantsFile(name))) Map.empty
    else graft.artifacts.Json.parse(readStr(grantsFile(name))) match {
      case m: Map[String @unchecked, Any @unchecked] => m.map {
        case (k, v: Seq[Any @unchecked]) => k -> v.map(_.toString)
        case (k, v) => k -> Seq(v.toString)
      }
      case _ => Map.empty
    }

  // ---- materialized-view definition bookkeeping ----

  private def mvDefFile(name: String): HPath = new HPath(schemaDir, s"$name.mv.sql")

  /** Record a materialized view's defining SQL alongside its table data
    * (the piece that distinguishes an MV from a plain table: the engine
    * can re-run the definition to refresh, and detect redefinition for
    * on_configuration_change).
    */
  def writeMvDefinition(name: String, sql: String): Unit = {
    fs.mkdirs(schemaDir)
    writeStr(mvDefFile(name), sql)
  }

  def mvDefinition(name: String): Option[String] =
    if (fsExists(mvDefFile(name))) Some(readStr(mvDefFile(name))) else None

  /** Shallow clone: new relation pointing at the same data version
    * (reference CloneRunner, core/dbt/task/clone.py:19-161; Spark-side
    * analogue of CREATE TABLE ... SHALLOW CLONE). Falls back to a view
    * when the source is a view.
    */
  def clone(fromStore: RelationStore, name: String): Unit = {
    if (fromStore.isView(name)) {
      val sql = fromStore.readStr(fromStore.viewFile(name))
      writeView(name, sql)
    } else {
      val src = fromStore.addressable(name).getOrElse(
        throw new IllegalStateException(s"cannot clone missing relation $name"))
      // pointer-only clone: a view over the source's current version
      // (plus any live delta landings — addressable() unions them in)
      writeView(name, s"SELECT * FROM $src")
    }
  }

  /** View definition text, if this relation is a view. */
  def viewSql(name: String): Option[String] =
    if (isView(name)) Some(readStr(viewFile(name))) else None

  /** SQL-addressable reference to this relation usable from ANOTHER
    * session/store (defer/clone): a direct parquet path for
    * directory-layout tables, per-file selects for manifest versions
    * whose files span dirs, an inline subquery for views.
    */
  def addressable(name: String): Option[String] =
    if (isView(name)) viewSql(name).map(sql => s"(\n$sql\n)")
    else if (isBucketed(name)) Some(ensureBucketedRegistered(name))
    else {
      def dirSel(p: String) = s"SELECT * FROM parquet.`$p`"
      val live = liveDeltaIds(name).map(id => dirSel(deltaDirOf(name, id).toString))
      val base: Seq[String] = currentVersion(name).toSeq.flatMap { v =>
        manifestOf(name, v) match {
          case Some(m) if m.layout == "files" =>
            if (m.entries.isEmpty) Nil
            else if (m.entries.forall(_.rel.startsWith(s"v$v/")))
              Seq(dirSel(verDir(name, v).toString)) // self-contained
            else m.entries.map(e => dirSel(new HPath(tableDir(name), e.rel).toString))
          case Some(m) if m.layout == "partitioned" =>
            // partition columns don't live in the data files: project
            // each entry's leaf values back as typed literals, in the
            // stored column order
            val st = storedSchemaOf(name).getOrElse(
              throw new IllegalStateException(s"no stored schema for $schema.$name"))
            m.entries.map { e =>
              val vals = e.leafKey.split('/').filter(_.contains('=')).map { seg =>
                val eq = seg.indexOf('=')
                ManifestFileIndex.unescapePathName(seg.take(eq)) ->
                  ManifestFileIndex.unescapePathName(seg.drop(eq + 1))
              }.toMap
              val cols = st.fields.map { f =>
                vals.get(f.name) match {
                  case Some("__HIVE_DEFAULT_PARTITION__") =>
                    s"CAST(NULL AS ${f.dataType.sql}) AS `${f.name}`"
                  case Some(raw) =>
                    s"CAST('${raw.replace("'", "''")}' AS ${f.dataType.sql}) AS `${f.name}`"
                  case None => s"`${f.name}`"
                }
              }
              s"SELECT ${cols.mkString(", ")} FROM parquet.`" +
                s"${new HPath(tableDir(name), e.rel)}`"
            }
          case _ => Seq(dirSel(verDir(name, v).toString)) // legacy/bucketed dir
        }
      }
      (base ++ live) match {
        case Seq() => None
        case Seq(one) if one.startsWith("SELECT * FROM parquet.`") =>
          // bare table reference for the simple single-dir case
          Some(one.stripPrefix("SELECT * FROM "))
        case many => Some(many.mkString("(\n", "\nUNION ALL\n", "\n)"))
      }
    }

  /** Store-health snapshot for one relation — the numbers an
    * OPTIMIZE/VACUUM decision needs, surfaced per relation by
    * `docs generate`: versions retained, the head's file count/bytes
    * ("live") vs everything on disk ("pool" — old snapshots + data
    * pools awaiting reference-counted GC), and the delta-landing
    * backlog (live landings not yet folded, open id gaps). `pool_*`
    * WALK the table directory — the one listing-heavy operation kept
    * in the store, acceptable for an explicit offline docs/maintenance
    * pass and never on a read path. A pool/live bytes ratio well above
    * the retention count signals vacuum; live_files far above
    * pool_bytes/128 MB signals OPTIMIZE; a delta backlog with open
    * gaps names a stalled producer lane.
    */
  def health(name: String): Map[String, Any] = {
    if (isView(name)) return Map("kind" -> "view")
    val cur = currentVersion(name)
    val entries = cur.toSeq.flatMap(v => versionEntries(name, v))
    val pool = dataFilesUnder(tableDir(name))
    val mark = currentMark(name)
    Map(
      "kind" -> (if (isBucketed(name)) "bucketed" else "table"),
      "versions_retained" -> versions(name).size,
      "current_version" -> cur.getOrElse(-1),
      "live_files" -> entries.size,
      "live_bytes" -> entries.map(e => math.max(0L, e.size)).sum,
      "pool_files" -> pool.size,
      "pool_bytes" -> pool.map(_.getLen).sum,
      "delta_live" -> liveDeltaIdsAt(name, mark).size,
      "delta_open_gaps" -> mark.above.size)
  }

  def list(): Seq[String] =
    listNames(schemaDir).flatMap { st =>
      val fn = st.getPath.getName
      if (st.isDirectory &&
        (fsExists(new HPath(st.getPath, "_current")) || liveDeltaIds(fn).nonEmpty)) Some(fn)
      else if (fn.endsWith(".view.sql")) Some(fn.stripSuffix(".view.sql"))
      else None
    }.sorted

  /** Register one relation as a session temp view (SQL addressability). */
  def registerView(name: String): Unit =
    read(name).createOrReplaceTempView(sqlName(name))

  /** Re-register everything (fresh session attach). Views can reference
    * other views, so retry failures until a fixpoint — each pass must
    * register at least one more relation or the leftovers are genuinely
    * broken (their upstream is gone) and get reported.
    */
  def attach(): Unit = {
    var pending = list()
    var progressing = true
    while (pending.nonEmpty && progressing) {
      val failed = pending.filter { n =>
        try { registerView(n); false }
        catch { case _: Exception => true }
      }
      progressing = failed.size < pending.size
      pending = failed
    }
    pending.foreach(n => System.err.println(s"[store] failed to attach $n"))
  }
}

object RelationStore {

  /** Merge id intervals into sorted, disjoint, NON-ADJACENT inclusive
    * ranges — the `_delta_absorbed` encoding. Adjacency coalesces
    * ((1,3),(4,6) → (1,6)) so the watermark advance over the leading
    * range is complete and the serialized form is canonical: O(#gaps)
    * entries no matter how many ids were absorbed.
    */
  private[graft] def mergeRanges(rs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    if (rs.isEmpty) Nil
    else {
      val sorted = rs.sortBy(_._1)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long)](sorted.head)
      sorted.tail.foreach { case (a, b) =>
        val (pa, pb) = out.last
        if (a <= pb + 1) out(out.length - 1) = (pa, math.max(pb, b))
        else out += ((a, b))
      }
      out.toSeq
    }

  /** Serialize merged ranges: `lo-hi` per range, singletons as the bare
    * id — which makes the PRE-RANGE format (a comma list of single ids)
    * a valid instance of this one, so old `_delta_absorbed` files parse
    * unchanged.
    */
  private[graft] def formatRanges(rs: Seq[(Long, Long)]): String =
    rs.map { case (a, b) => if (a == b) a.toString else s"$a-$b" }.mkString(",")

  /** Parse `_delta_absorbed` content (range or legacy single-id form)
    * into merged ranges. Throws NumberFormatException on malformed
    * content — the caller surfaces it loudly.
    */
  private[graft] def parseRanges(raw: String): Seq[(Long, Long)] =
    mergeRanges(raw.trim.split(',').filter(_.nonEmpty).toSeq.map { tok =>
      // a leading '-' is a (malformed) negative id, not a separator
      val cut = tok.indexOf('-', 1)
      if (cut < 0) { val v = tok.trim.toLong; (v, v) }
      else {
        val (a, b) = (tok.take(cut).trim.toLong, tok.drop(cut + 1).trim.toLong)
        if (a > b) throw new NumberFormatException(s"inverted range '$tok'")
        (a, b)
      }
    })

  /** Per-slot arbitration for SAME-JVM concurrent writers, keyed by the
    * qualified reservation-marker path. One object per slot ever
    * contended — negligible footprint, never cleared.
    */
  private val slotLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def slotLock(key: String): Object =
    slotLocks.computeIfAbsent(key, _ => new Object)

  /** Shared daemon scheduler for staging-write heartbeats (one thread
    * serves every store in the JVM — heartbeats are sub-millisecond
    * marker rewrites on a multi-second-to-hours cadence).
    */
  private val heartbeats = {
    val t = new java.util.concurrent.ScheduledThreadPoolExecutor(1, (r: Runnable) => {
      val th = new Thread(r, "graft-store-heartbeat")
      th.setDaemon(true)
      th
    })
    t.setRemoveOnCancelPolicy(true)
    t
  }
}
