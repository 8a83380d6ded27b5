package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.StructType

import graft.ops.MergeTable

/** Mid-snapshot offset: the initial snapshot of `version` has delivered
  * its first `files` manifest files (0 < files < total). The steady
  * state keeps writing plain [[LongOffset]]s — a checkpoint from any
  * prior build parses unchanged, and a single-slice snapshot (≤
  * `maxFilesPerTrigger` files AND within the byte budget) never writes
  * this form at all. */
private[sources] case class GraftSnapshotOffset(version: Long, files: Long)
    extends V1Offset {
  override val json: String = s"""{"version":$version,"file":$files}"""
}

/** Mid-RESET offset: a beyond-retention reset of `version` is paging —
  * the first `files` manifest files of its snapshot have delivered as
  * `feed_type = "reset"` rows. `files == total` is the COMPLETE form:
  * its batch carried the final slice plus the `RESET_END` marker row,
  * and the next offset returns to plain diff [[LongOffset]]s. Written
  * only by mid-stream resets, so every pre-reset checkpoint parses
  * unchanged. */
private[sources] case class GraftResetOffset(version: Long, files: Long)
    extends V1Offset {
  override val json: String =
    s"""{"version":$version,"file":$files,"reset":true}"""
}

/** `spark.readStream.format("graft").load(path)` — the streaming CHANGE
  * DATA FEED as a first-class source, with COMMIT VERSIONS as offsets.
  *
  * Integration point: the V1 [[Source]] API behind
  * [[org.apache.spark.sql.sources.StreamSourceProvider]], for the same
  * reason the batch scan is planned as the engine's own read —
  * `getBatch` returns the ENGINE'S OWN DataFrame plan (the file-scoped
  * version diff with deletion-vector masking, column mapping and
  * whole-stage codegen intact), where a V2 `MicroBatchStream` would
  * demand a hand-rolled row-level `PartitionReader` and lose the inner
  * plan. This is also the shape production lakehouse sources take: the
  * stream's unit of progress is the commit log, not a row split.
  *
  * Semantics (each micro-batch may span several commits; every row
  * carries its `_commit_version`):
  *
  *  - offset `v` = "all changes up to and including version v emitted";
  *    the composite `{"version":v,"file":f}` form additionally means
  *    "…and the first f files of v's initial snapshot", and the
  *    `{"version":v,"file":f,"reset":true}` form the same for a
  *    mid-stream RESET epoch of v.
  *  - first batch: the snapshot of the CURRENT version as INSERTs
  *    (`feed_type = "snapshot"`), or — with `startingVersion = N` —
  *    the per-version diffs from N forward (N = 0 boots from its own
  *    initial delta, `feed_type = "diff"`). A fresh-start boot whose
  *    first deliverable version is snapshot-shaped (N = 0's initial
  *    delta, or a lagging N whose predecessor was vacuumed) pages
  *    file-by-file exactly like the default-start snapshot.
  *  - later batches: one file-scoped diff PER VERSION
  *    ([[MergeTable.changesBetweenManifests]], preimages on), unioned —
  *    cost O(files touched by those commits + their changes), never
  *    O(table).
  *  - **mid-stream beyond-retention RESET (the paged epoch protocol)**:
  *    when a lagging stream's next deliverable version `w` has a
  *    vacuumed predecessor (or the snapshot it was mid-paging was
  *    itself vacuumed), prior deliveries can no longer be diffed
  *    forward — the consumer's state must be REPLACED by w's snapshot.
  *    That snapshot pages under the same file/byte budgets as any
  *    other: every slice row carries `feed_type = "reset"` and
  *    `_commit_version = w` (w IS the reset epoch), and the batch
  *    carrying the FINAL slice also carries one `RESET_END` marker row
  *    (`change_type = "RESET_END"`, data columns null). CONSUMER
  *    CONTRACT: stage `feed_type = "reset"` rows keyed by their epoch;
  *    a row from a NEW epoch discards any incomplete staging; at the
  *    end of any batch containing a `RESET_END` row for the staged
  *    epoch, atomically replace state with the staging (the marker may
  *    appear anywhere WITHIN its batch — commit at batch end). A
  *    consumer that sees epoch w's marker has exactly w's snapshot.
  *    A FRESH stream's beyond-retention boot is NOT a reset (there is
  *    no prior state to replace) — it stays `feed_type = "snapshot"`
  *    (paged, no marker), matching the batch CDF door. The rare
  *    retained-log-missing-files corruption shape (data files deleted
  *    without vacuuming the log) still falls back to the unpaged
  *    single-batch snapshot boot inside the per-version diff — only
  *    the vacuum-driven (manifest-missing) resets page.
  *  - `maxVersionsPerTrigger` caps how many commits one micro-batch
  *    folds. With a `startingVersion` it applies from the FIRST batch
  *    (the boot range pages like any lag); the restart batch after a
  *    checkpoint stays uncapped because its range was already
  *    checkpointed.
  *  - `maxBytesPerTrigger` caps the DATA VOLUME a micro-batch folds:
  *    versions join the batch until their summed diff cost (bytes of
  *    files added + files removed by each commit — both sides are read
  *    for preimages) would exceed the budget, so one huge compaction
  *    commit can no longer ride in with dozens of follower commits. At
  *    least one version always delivers (a commit larger than the budget
  *    still flows — pacing, never starvation). Entries written before
  *    the `bytes` manifest field parse as 0 and don't throttle.
  *  - `maxFilesPerTrigger` (DEFAULT 1000; session-conf default
  *    `spark.graft.stream.maxFilesPerTrigger`) caps the FILE COUNT a
  *    micro-batch folds — snapshot/boot/reset slices page at most this
  *    many manifest files, and the diff fold stops once the versions'
  *    summed touched-file count would exceed it. Because it defaults
  *    ON, a default-start `readStream` over a 100 TB table pages its
  *    initial snapshot with NO option set — the 100 TB-safe behavior is
  *    the default, not a flag (the production-lakehouse precedent).
  *  - `coalesceDiffs` (opt-in, default false): a batch spanning several
  *    versions delivers ONE net diff of the endpoint snapshots instead
  *    of one file-scoped diff per version — O(1) plans for a deep
  *    drain. SEMANTIC trade: intermediate versions' transient changes
  *    are folded away (insert-then-delete nets to nothing; the last
  *    update wins) and all rows carry `_commit_version` = the batch's
  *    end version — right for consumers that fold to last-writer-wins
  *    state anyway ([[graft.streaming.GraftReplicator]] turns it on by
  *    default), wrong for per-commit audit. Boot, reset and snapshot
  *    paging are untouched; a missing endpoint falls back to the
  *    per-version walk.
  *  - **paced initial snapshot**: the default-start snapshot pages FILE
  *    BY FILE through [[GraftSnapshotOffset]]s under both budgets —
  *    batch 0 of a huge table delivers a budget's worth of its manifest
  *    files, not the whole table, and a mid-snapshot restart resumes at
  *    the checkpointed file index exactly-once (the manifest's file
  *    list is immutable per version, so the slice boundaries are stable
  *    across restarts). Every slice carries the same feed_type as the
  *    unpaced snapshot would. If the snapshot's own manifest is
  *    vacuumed mid-paging (a stream lagging past retention), delivery
  *    RESETS to the head's snapshot under the paged epoch protocol
  *    above.
  *
  * Offset-safety note: a getOffset with NO seen state means a genuinely
  * FRESH stream — on every restart Spark's MicroBatchExecution first
  * replays `getBatch` with the checkpointed offsets (the documented V1
  * source-initialization call in `populateStartOffsets`), which seeds
  * [[lastSeen]] before any new offset is requested. The paced
  * first-batch offsets therefore can never regress below a checkpoint.
  * DEFENSIVELY (should that engine behavior ever change, or a future
  * DSv2 migration drop the replay): a mid-snapshot end offset at or
  * below a COMPLETED start no longer kills the stream — `getBatch`
  * delivers an empty frame, re-seeds the floor from the checkpointed
  * start, and the next getOffset proceeds from the checkpoint; a
  * mid-snapshot end ABOVE the completed start is read as a reset epoch
  * (the one sound interpretation: re-delivering head-snapshot rows to a
  * consumer with prior state must be state-replacing, not additive).
  * The end-below-checkpointed-START version guard stays loud — that
  * shape means the table was dropped and recreated under the live
  * checkpoint.
  *
  * The column set is PINNED at stream start (table columns + `<c>_pre`
  * preimages + `change_type`, `feed_type`, `_commit_version`). A
  * mid-stream rename/drop/widen changes the diff's column set and fails
  * the batch loudly with a restart instruction — silently nulling a
  * renamed column into the old name would corrupt every incremental
  * consumer downstream.
  */
class GraftStreamSource(
    ctx: SQLContext,
    val tablePath: String,
    startingVersion: Option[Long],
    maxVersionsPerTrigger: Long,
    maxBytesPerTrigger: Option[Long] = None,
    maxFilesPerTriggerOpt: Option[Long] = None,
    coalesceDiffs: Boolean = false) extends Source {

  require(maxVersionsPerTrigger >= 1,
    s"maxVersionsPerTrigger must be >= 1, got $maxVersionsPerTrigger")
  maxBytesPerTrigger.foreach(b => require(b >= 1,
    s"maxBytesPerTrigger must be >= 1, got $b"))
  private val spark = ctx.sparkSession
  /** Per-batch file budget — option beats the session-conf default
    * beats 1000 (the production-lakehouse default; Delta's
    * maxFilesPerTrigger precedent). Always ≥ 1: pacing is the DEFAULT
    * posture, opting out means raising the budget, not disabling it. */
  private val maxFilesPerTrigger: Long = {
    val v = maxFilesPerTriggerOpt.getOrElse(
      spark.conf.getOption("spark.graft.stream.maxFilesPerTrigger")
        .map(_.trim.toLong).getOrElse(1000L))
    require(v >= 1, s"maxFilesPerTrigger must be >= 1, got $v")
    v
  }
  private val boot = MergeTable.latestManifest(tablePath).getOrElse(
    sys.error(s"no committed version under $tablePath — the stream needs " +
      "an existing table (its schema pins the feed's columns)"))
  // the ONE change-feed framing, shared with the batch CDF read
  private val shape = GraftChangeFeed.shapeFor(tablePath, boot, "stream")
  startingVersion.foreach(v => require(v >= 0, s"startingVersion $v < 0"))

  override val schema: StructType = shape.schema

  /** Delivered floor as (version, filesDeliveredIfMidSnapshot,
    * isResetEpoch). None ONLY on a genuinely fresh stream: every restart
    * replays the checkpointed range through [[getBatch]] (which seeds
    * this) before the next [[getOffset]]. */
  private case class Seen(v: Long, f: Option[Long], reset: Boolean)
  @volatile private var lastSeen: Option[Seen] = None

  /** Total order over offsets: a completed version sorts above every
    * mid-snapshot prefix of it. */
  private def ord(s: Seen): (Long, Long) = (s.v, s.f.getOrElse(Long.MaxValue))

  /** One version's read volume as (bytes, files): the files its commit
    * added plus the files it removed (the diff reads BOTH sides for
    * preimages); a beyond-retention boot costs its full snapshot; a
    * vacuumed (skipped) version costs nothing. */
  private def diffCost(po: Option[MergeTable.TableManifest],
      co: Option[MergeTable.TableManifest]): (Long, Long) = (po, co) match {
    case (Some(p), Some(c)) =>
      val pPaths = p.files.map(_.path).toSet
      val cPaths = c.files.map(_.path).toSet
      val added = c.files.filterNot(f => pPaths.contains(f.path))
      val removed = p.files.filterNot(f => cPaths.contains(f.path))
      (added.map(_.bytes).sum + removed.map(_.bytes).sum,
        added.size.toLong + removed.size.toLong)
    case (None, Some(c)) => // snapshot (re)boot
      (c.files.map(_.bytes).sum, c.files.size.toLong)
    case _ => (0L, 0L) // version gone: skipped, delivers nothing
  }

  /** The end version of the next diff batch: `seen`+1 onward under the
    * version cap, then the byte and file budgets version by version; the
    * FIRST version always joins (an over-budget single commit must still
    * flow). The fold also CUTS before a version whose delivery would be
    * a snapshot boot (vacuumed predecessor): that version starts its own
    * RESET epoch in a later batch instead of riding unpaged inside a
    * diff fold. */
  private def pacedDiffEnd(seen: Long, head: Long): Long = {
    val hard = math.min(head, seen + maxVersionsPerTrigger)
    if (hard <= seen) return hard
    var v = seen + 1
    var cur = tryManifest(v)
    var (spentB, spentF) = diffCost(tryManifest(seen), cur)
    var stop = false
    while (!stop && v < hard) {
      // a BOOT-shaped next version starts its own RESET epoch in a later
      // batch instead of riding unpaged inside this diff fold
      if (classify(v + 1).isInstanceOf[VBoot]) stop = true
      else {
        val next = tryManifest(v + 1)
        val (cb, cf) = diffCost(cur, next)
        if (maxBytesPerTrigger.exists(b => spentB + cb > b) ||
            spentF + cf > maxFilesPerTrigger) stop = true
        else { spentB += cb; spentF += cf; v += 1; cur = next }
      }
    }
    v
  }

  /** Walk a snapshot's file list from index `from`, spending the file
    * and byte budgets; the first file always joins. Returns the
    * exclusive end index of the slice. */
  private def paceFiles(files: Seq[MergeTable.DataFileEntry],
      from: Int): Int = {
    val cap = math.min(files.size.toLong, from + maxFilesPerTrigger).toInt
    var i = from
    var spent = 0L
    var stop = false
    while (i < cap && !stop) {
      val c = files(i).bytes
      if (i > from && maxBytesPerTrigger.exists(b => spent + c > b))
        stop = true
      else { spent += c; i += 1 }
    }
    i
  }

  /** The next offset for (a slice of) version `v`'s initial snapshot:
    * a [[GraftSnapshotOffset]] while files remain beyond the budgets,
    * the plain completed offset once the slice reaches the end. */
  private def snapshotEnd(m: MergeTable.TableManifest,
      from: Int): V1Offset = {
    val f = paceFiles(m.files, from)
    if (f >= m.files.size) LongOffset(m.version)
    else GraftSnapshotOffset(m.version, f)
  }

  /** The next offset of a paging RESET epoch of `m` — always the
    * composite reset form; `files == total` is the complete form whose
    * batch carries the final slice plus the RESET_END marker. */
  private def resetSnapshotEnd(m: MergeTable.TableManifest,
      from: Int): V1Offset =
    GraftResetOffset(m.version, paceFiles(m.files, from).toLong)

  /** Offset progression from a COMPLETED version: a paged RESET epoch
    * when the next deliverable version is boot-shaped, the paced diff
    * fold otherwise. */
  private def afterCompleted(seenV: Long, head: Long): Option[V1Offset] =
    nextDeliverable(seenV, head) match {
      case Some((_, VBoot(m))) => Some(resetSnapshotEnd(m, 0))
      case _ => Some(LongOffset(pacedDiffEnd(seenV, head)))
    }

  override def getOffset: Option[V1Offset] = {
    val latest = MergeTable.latestManifest(tablePath)
    (latest, lastSeen) match {
      case (None, _) => None
      case (Some(l), None) => startingVersion match {
        // fresh explicit-version start: a snapshot-shaped boot (v0's own
        // initial delta, or a lagging start whose predecessor was
        // vacuumed) pages file-by-file; a plain diff start pages under
        // the same caps as steady state, anchored one below the start
        case Some(from) =>
          nextDeliverable(math.max(0L, from) - 1, l.version) match {
            case Some((_, VBoot(m))) => Some(snapshotEnd(m, 0))
            case _ => Some(LongOffset(pacedDiffEnd(from - 1, l.version)))
          }
        // fresh default start: page the INITIAL SNAPSHOT by files/bytes
        case None => Some(snapshotEnd(l, 0))
      }
      case (Some(l), Some(Seen(seenV, Some(seenF), isReset))) =>
        // mid-snapshot/mid-reset: finish paging version seenV before any
        // diff (newer commits queue behind it). Data presence is probed
        // on the NEXT SLICE only — O(slice), never O(table) per trigger;
        // a later slice's vacuumed files are caught when paging reaches
        // them
        tryManifest(seenV) match {
          case Some(m) if isReset && seenF >= m.files.size =>
            afterCompleted(seenV, l.version)
          case Some(m) =>
            val until = paceFiles(m.files, seenF.toInt)
            val sliceOk =
              m.files.slice(seenF.toInt, until).forall(fileOnDisk)
            if (sliceOk) Some(
              if (isReset) GraftResetOffset(m.version, until.toLong)
              else if (until >= m.files.size) LongOffset(m.version)
              else GraftSnapshotOffset(m.version, until.toLong))
            else if (l.version == seenV)
              // the snapshot being paged LOOKED like the head when this
              // getOffset started and its data is missing. Re-resolve
              // before going loud: a concurrent commit+vacuum between
              // our manifest read and the slice probe legitimately
              // retires seenV's files — if the head moved, that's the
              // ordinary reset shape, not corruption. Only a STILL-head
              // version with missing data is external deletion (vacuum
              // never removes head files), and "reset to head" there
              // would re-emit a same-version offset at or below the
              // delivered floor — an empty batch forever, a silently
              // idle stream. Anything else stays loud.
              MergeTable.latestManifest(tablePath) match {
                case Some(l2) if l2.version > seenV =>
                  Some(resetSnapshotEnd(l2, 0))
                case _ =>
                  throw new IllegalStateException(
                    s"graft stream source: data file(s) of HEAD version " +
                      s"$seenV under $tablePath are missing while its " +
                      s"snapshot was being paged (${if (isReset) "reset"
                      else "initial"} feed). Vacuum never removes head " +
                      "files, so the table data was deleted or corrupted " +
                      "externally; restore the files or restart the " +
                      "stream from a fresh checkpoint.")
              }
            else
              // the snapshot being paged was vacuumed underneath: the
              // head snapshot RESETS the consumer — paged under the
              // epoch protocol (the marker tells the consumer when its
              // staged head state is complete)
              Some(resetSnapshotEnd(l, 0))
          case None => Some(resetSnapshotEnd(l, 0))
        }
      case (Some(l), Some(Seen(seenV, None, _))) =>
        afterCompleted(seenV, l.version)
    }
  }

  private val SnapJson =
    ("""\s*\{\s*"version"\s*:\s*(-?\d+)\s*,\s*"file"\s*:\s*(\d+)\s*""" +
      """(,\s*"reset"\s*:\s*true\s*)?\}\s*""").r

  /** Decode any offset form: plain long (this build's steady state AND
    * every pre-pacing checkpoint — an old checkpoint resumes untouched),
    * the composite mid-snapshot JSON, or the mid-reset JSON. */
  private def decode(o: V1Offset): (Long, Option[Long], Boolean) = o match {
    case l: LongOffset => (l.offset, None, false)
    case s: GraftSnapshotOffset => (s.version, Some(s.files), false)
    case r: GraftResetOffset => (r.version, Some(r.files), true)
    case other => other.json.trim match {
      case SnapJson(v, f, reset) => (v.toLong, Some(f.toLong), reset != null)
      case plain => (plain.toLong, None, false)
    }
  }

  private def tryManifest(v: Long): Option[MergeTable.TableManifest] =
    if (v < 0) None
    else try MergeTable.manifestAt(tablePath, v)
    catch { case _: MergeTable.MissingVersionException => None }

  private def onDisk(rel: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(tablePath, rel))
  private def fileOnDisk(f: MergeTable.DataFileEntry): Boolean =
    onDisk(f.path) && f.dv.forall(onDisk)

  /** Versions whose data is PROVABLY gone — stable (immutable data files
    * never come back after vacuum), so negative verdicts memoize and a
    * long vacuumed gap costs its stats once, not per trigger. */
  private val absentData = java.util.concurrent.ConcurrentHashMap
    .newKeySet[java.lang.Long]()

  /** Full data-presence probe: every file (and deletion-vector dir) a
    * manifest references still exists on disk — the engine's LOG records
    * outlive vacuum, so data presence, not log presence, decides
    * skip-vs-boot, the same rule [[GraftChangeFeed.versionChanges]]
    * applies at read time. O(files) driver-side stats with short-circuit
    * on the first missing file; absent verdicts memoize. Runs only on
    * BOOT-SHAPED versions (rare — after a vacuum), never per steady
    * trigger. */
  private def dataPresent(m: MergeTable.TableManifest): Boolean = {
    if (absentData.contains(m.version)) return false
    val ok = m.files.forall(fileOnDisk)
    if (!ok) absentData.add(m.version)
    ok
  }

  /** Offset-walk classification of one version, at STEADY-PATH cost:
    * Skip (log gone, or boot-shaped with its own data gone too — the
    * read side skips it), Diff (the predecessor delta's preimage files
    * are still on disk — probed O(churn), the files the diff actually
    * reads, never O(table)), or Boot (the predecessor is unreadable or
    * its delta was vacuumed: w delivers as a snapshot → its own RESET
    * epoch). Mirrors [[GraftChangeFeed.versionChanges]]'s runtime
    * behavior without reading anything. */
  private sealed trait VKind
  private case object VSkip extends VKind
  private case object VDiff extends VKind
  private case class VBoot(m: MergeTable.TableManifest) extends VKind
  private def classify(w: Long): VKind = tryManifest(w) match {
    case None => VSkip
    case Some(mw) =>
      val bootShaped = tryManifest(w - 1) match {
        case None => true // no predecessor log (or w = 0) → snapshot boot
        case Some(mp) =>
          // the diff reads the delta's REMOVED side for preimages (the
          // added side is w's own recent data): any of it missing means
          // the diff read would throw → versionChanges boots
          val cPaths = mw.files.map(_.path).toSet
          !mp.files.filterNot(f => cPaths.contains(f.path)).forall(fileOnDisk)
      }
      if (!bootShaped && w > 0) VDiff
      else if (dataPresent(mw)) VBoot(mw)
      else VSkip
  }

  /** The first deliverable version in (seen, head]. */
  private def nextDeliverable(seen: Long, head: Long): Option[(Long, VKind)] =
    (seen + 1 to head).view.map(w => (w, classify(w)))
      .find(_._2 != VSkip)

  private def versionChanges(v: Long): Option[DataFrame] =
    GraftChangeFeed.versionChanges(spark, shape, v)

  /** The diff frames for versions [lo, hi] of one batch. Default: one
    * file-scoped diff per version (every intermediate change delivered).
    * With `coalesceDiffs` (opt-in — for consumers that fold to
    * last-writer-wins anyway, like [[graft.streaming.GraftReplicator]]):
    * ONE net diff of the endpoint snapshots — O(1) plans for a deep
    * drain instead of O(versions), rows stamped `_commit_version = hi`.
    * Any missing endpoint (boot/reset territory) falls back to the
    * per-version walk, whose classification owns those cases. */
  private def diffRange(lo: Long, hi: Long): Seq[DataFrame] =
    if (hi < lo) Seq.empty
    else if (!coalesceDiffs || hi == lo)
      (lo to hi).flatMap(versionChanges)
    else GraftChangeFeed.rangeChanges(spark, shape, lo - 1, hi) match {
      case Some(f) => Seq(f)
      case None => (lo to hi).flatMap(versionChanges)
    }

  /** `feed_type` of version v's initial snapshot — v0 is its own first
    * delta ("diff"), anything later is a true snapshot boot. */
  private def bootFeed(v: Long): String = if (v == 0L) "diff" else "snapshot"

  private def snapshotFrame(m: MergeTable.TableManifest,
      feedType: String): DataFrame =
    GraftChangeFeed.snapshotFrame(spark, shape, m, feedType)

  /** Files [from, until) of `m`'s snapshot as INSERTs — the slice IS the
    * snapshot read over a file subset (deletion vectors and column
    * mapping apply per file), and the manifest's file order is immutable
    * for a committed version, so slice boundaries are restart-stable. */
  private def snapshotSlice(m: MergeTable.TableManifest, from: Long,
      until: Long, feedType: String): Option[DataFrame] =
    if (until <= from) None
    else Some(snapshotFrame(
      m.copy(files = m.files.slice(from.toInt, until.toInt)), feedType))

  /** The slice [from, until) of a RESET epoch of `m`, plus — iff
    * `withMarker` (the caller derives it from the offsets: the end is
    * the COMPLETE reset form and the start is not already past it) —
    * the RESET_END marker row. Replay-safe: re-running the same
    * (start, end) range re-produces the identical slice-plus-marker,
    * and a later batch starting AT the complete form never re-emits
    * the marker. */
  private def resetSlice(m: MergeTable.TableManifest, from: Long,
      until: Long, withMarker: Boolean): Seq[DataFrame] = {
    val slice = snapshotSlice(m, from, until, "reset").toSeq
    if (withMarker)
      slice :+ GraftChangeFeed.resetEndMarker(spark, shape, m.version)
    else slice
  }

  private def emptyFrame: DataFrame = GraftChangeFeed.emptyFrame(spark, shape)

  /** Force analysis of snapshot-shaped frames INSIDE the source, so a
    * beyond-retention read (data vacuumed between the offset walk and
    * this batch, or under a replayed pre-vacuum batch range) surfaces
    * here and degrades to an empty delivery — the NEXT offset opens the
    * paged reset epoch (the documented reset semantics) — instead of
    * the engine's analyzer killing the stream on PATH_NOT_FOUND. Only
    * provably-missing-data conditions degrade; anything else stays
    * loud. */
  private def tolerateMissing(build: => Seq[DataFrame]): Seq[DataFrame] =
    try {
      val fs = build
      fs.foreach(_.queryExecution.assertAnalyzed())
      fs
    } catch {
      case e: Throwable
          if graft.streaming.StreamingChangeFeed.isMissingData(e) =>
        System.err.println(
          s"[graft stream $tablePath] a snapshot slice's data was " +
            "vacuumed underneath the stream — delivering empty; the next " +
            "offset opens the paged reset epoch")
        Seq.empty
    }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val (endV, endF, endResetFlag) = decode(end)
    val startDec = start.map(decode)
    // a mid-snapshot end ABOVE a started stream's floor is a reset epoch
    // even if the flag is absent (the defensive engine-change reading in
    // the offset-safety note): re-delivered snapshot rows to a consumer
    // with prior state must be state-replacing
    val endReset = endResetFlag ||
      (endF.isDefined && startDec.exists(s => endV > s._1))
    val endSeen = Seen(endV, endF, endReset)
    val startSeen = startDec.map { case (v, f, r) => Seen(v, f, r) }
    lastSeen = Some(
      Seq(Some(endSeen), startSeen, lastSeen).flatten.maxBy(ord))
    val frames: Seq[DataFrame] = startDec match {
      case Some((sv, sfOpt, _)) =>
        // an end BELOW the checkpointed start means the table was
        // dropped and recreated under the live checkpoint — its version
        // counter restarted, and treating the new incarnation's commits
        // as diffs of the old one would deliver garbage
        require(endV >= sv,
          s"graft stream over $tablePath: available version v$endV is " +
            s"below the checkpointed offset v$sv — the table was recreated " +
            "under this checkpoint; start a fresh checkpoint")
        sfOpt match {
          case Some(_) if endV > sv && endReset =>
            // a NEW reset epoch superseding a mid-paging snapshot/reset
            // whose data was vacuumed: page endV's snapshot from 0
            // (the consumer discards the stale epoch's staging)
            tolerateMissing(tryManifest(endV).map(m2 =>
              resetSlice(m2, 0L, endF.get,
                withMarker = endF.get >= m2.files.size)).getOrElse(Seq.empty))
          case Some(sf) => tryManifest(sv) match {
            case Some(m) =>
              // mid-snapshot/mid-reset continuation: the next file slice
              // of sv, then (restart only) any diffs through endV
              val until =
                if (endV == sv) endF.getOrElse(m.files.size.toLong)
                else m.files.size.toLong
              val sReset = startSeen.exists(_.reset) || (endReset && endV == sv)
              val slice = tolerateMissing(
                if (sReset)
                  // the marker rides the batch whose END reaches the
                  // complete form; a start already AT it never re-emits
                  resetSlice(m, sf, until,
                    withMarker = until >= m.files.size && sf < m.files.size)
                else snapshotSlice(m, sf, until, bootFeed(sv)).toSeq)
              val diffs = diffRange(sv + 1, endV)
              slice ++ diffs
            case None =>
              // sv's manifest vacuumed mid-paging and the end is not (yet)
              // a reset slice of a newer version: deliver nothing — the
              // next getOffset opens the paged reset epoch at the head.
              // (A plain end ABOVE sv is an OLD-build checkpoint's
              // unpaged reset replaying: deliver endV's full snapshot
              // as a single-slice reset epoch.)
              if (endV == sv) Seq.empty
              else tolerateMissing(tryManifest(endV).map(m2 =>
                resetSlice(m2, 0L, endF.getOrElse(m2.files.size.toLong),
                  withMarker = endF.getOrElse(m2.files.size.toLong) >=
                    m2.files.size)).getOrElse(Seq.empty))
          }
          case None if endReset =>
            // a completed floor, end = a reset slice of a later version:
            // the paged beyond-retention reset epoch begins (versions
            // between sv and endV are vacuum-subsumed by the epoch)
            tolerateMissing(tryManifest(endV).map(m2 =>
              resetSlice(m2, 0L, endF.get,
                withMarker = endF.get >= m2.files.size)).getOrElse(Seq.empty))
          case None =>
            if (endF.isDefined) {
              // defensive floor (offset-safety note): a mid-snapshot end
              // at the completed start's own version is the hypothesized
              // fresh-offset-below-checkpoint artifact — deliver nothing
              // (the floor was re-seeded above; the next getOffset
              // proceeds from the checkpoint)
              System.err.println(
                s"[graft stream $tablePath] tolerated a mid-snapshot " +
                  s"offset v$endV@${endF.get} at/below the completed " +
                  s"checkpoint v$sv — delivering an empty batch and " +
                  "resuming from the checkpointed floor")
              Seq.empty
            } else {
              // a startingVersion AHEAD of the head at stream start still
              // gates later batches: versions below it are never delivered
              val lo = math.max(sv + 1,
                startingVersion.getOrElse(Long.MinValue))
              diffRange(lo, endV)
            }
        }
      case None => startingVersion match {
        case Some(from) =>
          endF match {
            // fresh-start snapshot-shaped boot, paged: the first slice
            // of endV's snapshot (not a reset — there is no prior state)
            case Some(f) => tolerateMissing(tryManifest(endV).flatMap(m =>
              snapshotSlice(m, 0L, f, bootFeed(endV))).toSeq)
            case None => diffRange(from, endV)
          }
        case None =>
          // initial batch: the current snapshot as INSERTs — the first
          // paced slice (or all of it when it fits one budget). A
          // replayed pre-vacuum range whose data is gone degrades to
          // empty — the next offset opens the paged reset epoch.
          tolerateMissing(tryManifest(endV).flatMap(m =>
            snapshotSlice(m, 0L, endF.getOrElse(m.files.size.toLong),
              bootFeed(endV))).toSeq)
      }
    }
    val out = if (frames.isEmpty) emptyFrame else frames.reduce(_ unionByName _)
    // the V1 contract: a Source's batch frame must carry the streaming
    // tag; the plan underneath stays the engine's own (lazy) diff read
    org.apache.spark.sql.graftbridge.Bridge.asStreaming(out)
  }

  override def stop(): Unit = ()
  override def toString: String =
    s"GraftStreamSource[$tablePath from v${boot.version}]"
}
