package graft.ops

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.json4s.{jvalue2extractable, jvalue2monadic}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions
import org.apache.spark.sql.catalyst.plans.{logical, LeftAnti}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Transactional keyed MERGE on plain parquet — the at-scale form of the
  * K1/K2 idempotent-upsert contract (reference `DESIGN.md:41`; the plain
  * rewrite forms live in [[Sinks.upsertParquet]] / [[Sinks.upsertPartitioned]]).
  * No lakehouse jars ship in this environment, so the table format is a
  * minimal own implementation of the same public design (the Delta/Iceberg
  * commit-log pattern):
  *
  *  - `_graft_log/v<N>.json` — one log record per committed version. A
  *    record is either a CHECKPOINT (the table's full live file listing)
  *    or a DELTA (the files this commit added + the paths it dropped).
  *    Every `CheckpointInterval`-th version is a checkpoint, so resolving
  *    any snapshot reads ONE checkpoint + a bounded delta suffix — the
  *    log scales with commit rate, never with table file count (the
  *    Delta-log checkpointing layout; a full-listing-per-commit log caps
  *    out around 10⁵ files, which this lifts);
  *  - `data/<commit-uuid>/part-*.parquet` — immutable data files, written
  *    once, never modified; a commit only ADDS files and drops references;
  *  - commit = write the record to a temp name, then a single hard link to
  *    `v<N+1>.json`. The link fails if the version exists — optimistic
  *    concurrency: the losing writer first attempts a CONFLICT-SCOPED
  *    retry (if the winner touched a disjoint file set, the loser's delta
  *    is still valid against the new head and re-commits without any data
  *    rewrite), and only on a real overlap replays its merge against the
  *    winner's snapshot (serializable by version CAS), exactly the
  *    protocol Delta runs against an object store.
  *
  * MERGE cost is O(touched files + batch), never O(table):
  *
  *  1. incoming keys → file pruning: a data file is TOUCHED iff some
  *     incoming cluster-key tuple falls inside its per-column [min,max]
  *     box. Because the writer range-clusters every commit's output by the
  *     cluster columns, file boxes are tight and most files prune away —
  *     the same clustering-enables-MERGE discipline as OPTIMIZE/Z-order.
  *     The overlap test is a point-in-box join of the (distinct) batch
  *     keys against the broadcast ≤|files|-row box table (planned by
  *     [[graft.plans.RangeJoinStrategy]] when single-column-eligible),
  *     collecting only the bounded touched-file id list;
  *  2. survivors = touched-file rows whose key is NOT in the batch
  *     (left_anti on the merge keys);
  *  3. new files = batch ∪ survivors, range-clustered on the cluster
  *     columns, one parquet file per range partition, per-file typed
  *     min/max recorded from the SAME pinned partitioning that wrote the
  *     files. Stats are TYPED per clustering column (long-integral,
  *     double, string in UTF-8 byte order, timestamp as epoch micros,
  *     date as epoch days) — string/timestamp/date keys and multi-column
  *     clustering prune exactly like long keys;
  *  4. new log record = delta(adds = new files, removes = touched paths).
  *
  * Untouched files are carried by reference — byte-identical, never read.
  *
  * Streaming exactly-once: a commit can carry a (writerId, version)
  * transaction; a merge whose version is ≤ the log's recorded watermark
  * for that writer is a no-op. With writerId = the sink's checkpoint
  * location and version = the micro-batch id, `foreachBatch` replay after
  * a crash converges without re-applying — the documented Delta
  * `txnAppId`/`txnVersion` idiom ([[graft.streaming.StreamingPipeline]]
  * wires it).
  */
object MergeTable {

  /** Typed missing-version signal: the requested version's log record is
    * absent (never committed, or retired by vacuum), or a record inside
    * the resolution walk is gone. A TYPED class — not a message substring
    * — is what retention-resilient consumers ([[graft.streaming.StreamingChangeFeed]])
    * key their skip/snapshot-boot decisions on; free-text matching would
    * misclassify unrelated errors that happen to share words. */
  final class MissingVersionException(msg: String) extends RuntimeException(msg)

  private def missingVersion(msg: String): Nothing =
    throw new MissingVersionException(msg)

  /** Every `CheckpointInterval`-th commit ADDITIONALLY writes the table's
    * full live listing as an auxiliary checkpoint file
    * (`cp-v<N>.ndjson.gz`); cold snapshot resolution reads ONE checkpoint
    * file + at most `CheckpointInterval` delta records. */
  val CheckpointInterval = 10

  /** On-disk log format version, carried on every record.
    *
    *  - v2 (this build): every record is a DELTA; checkpoints are
    *    AUXILIARY streamed gzip-NDJSON listing files written after the
    *    commit wins its CAS (the Delta-log layout: losing a checkpoint
    *    costs a longer walk to an older one, never correctness, so a
    *    crash between the CAS and the checkpoint write is harmless).
    *    A 10⁶-file listing streams line-by-line on write AND read —
    *    never a single ~100 MB driver-parsed JSON blob.
    *  - v1 (round-10 builds, no formatVersion field): inline
    *    `kind="checkpoint"` records embedding the listing — still READ
    *    transparently (resolution treats them as a fold base).
    *  - anything older (the pre-r10 TableManifest shape) fails with an
    *    explicit incompatible-format error instead of an opaque
    *    json4s MappingException.
    */
  /** v3 adds column mapping (logical→physical names + retired-physical
    * tombstones). Written ONLY by commits whose mapping state is
    * non-empty — a never-renamed table keeps writing v2 records, so
    * every prior-round reader keeps working until the feature is
    * actually used (the Delta reader-feature discipline). */
  val LogFormatVersion = 3

  /** Typed per-column file statistic. `t` picks the comparison domain and
    * the rendering: "long" (all integral types, decimal string),
    * "double" (float/double, `Double.toString`), "string" (raw value;
    * ordering is UTF-8 byte order — what Spark's UTF8String comparison
    * uses, so driver-side box tests and the executor-side pruning join
    * can never disagree), "timestamp" (epoch MICROseconds), "date"
    * (epoch days). Bounds are inclusive. */
  case class ColStat(t: String, min: String, max: String)

  /** One live data file: path relative to the table root, PHYSICAL row
    * count, per-clustering-column typed bounds, and — when a
    * merge-on-read DELETE marked rows without rewriting the file — a
    * deletion vector: `dv` names the table-relative parquet dataset of
    * (path, pos) deleted positions this entry's rows filter through at
    * read time, `dvRows` how many of this file's positions it holds
    * (visible rows = numRows − dvRows). A file's DV only GROWS until the
    * file itself is rewritten (each DV commit folds the file's previous
    * positions into the new dataset), which is what makes applying the
    * union of a manifest's referenced DV datasets exact. */
  case class DataFileEntry(path: String, numRows: Long,
      stats: Map[String, ColStat],
      dv: Option[String] = None, dvRows: Long = 0L,
      // per-column PHYSICAL null counts for every stats-indexed column
      // (see [[statsIndexedColumns]]) — what IsNull/IsNotNull pruning and
      // the all-null case (which carries no min/max entry) key off.
      // Additive: legacy entries parse with an empty map, which pruning
      // reads as "unknown — keep the file" (sound, never wrong).
      nullCounts: Map[String, Long] = Map.empty,
      // on-disk size — feeds the stream source's maxBytesPerTrigger
      // budget. Additive: legacy entries parse 0, which the budget reads
      // as "volume unknown — don't throttle" (never a wrong result, the
      // cap is pacing, not correctness).
      bytes: Long = 0L,
      // per-column EXACT non-null sums for the stats-indexed INTEGRAL
      // and DECIMAL columns, rendered as plain decimal strings — what
      // lets SUM/AVG aggregate pushdown answer from the manifest
      // ([[graft.sources.ManifestAgg]]). Exactness by construction: the
      // writer folds in decimal(38) (a per-file integral sum provably
      // cannot overflow it: < 2⁶³ rows × |value| ≤ 2⁶³ ≈ 8.5e37 < 1e38)
      // and OMITS the entry on decimal-input overflow (try_sum → null)
      // or an all-null file. Float/double columns never carry one —
      // their sum is evaluation-order-dependent, so no single metadata
      // answer is "the" exact value. Additive: legacy entries parse
      // empty, and the aggregate answer refuses (falls back to the
      // scan) rather than guessing.
      sums: Map[String, String] = Map.empty,
      // per-column metadata of the rows this entry's DELETION VECTOR
      // masks — what keeps COUNT/SUM/AVG pushdown exact under
      // merge-on-read deletes: `dvNulls` counts the masked NULLs per
      // stats-indexed column, `dvSums` the masked rows' exact non-null
      // sums per summable column (rendering as `sums`). Every DV commit
      // writes the FULL expected column set (zeros included) and
      // accumulates onto the previous maps; an entry whose maps don't
      // cover the expected set (legacy DV'd entries parse empty) makes
      // the aggregate answer refuse — visible sum/count are then
      // unknown, exactly the exact-or-refuse contract. Min/max stay
      // refused under DVs regardless (a masked row may hold the
      // extremum; no delta can repair a bound).
      dvNulls: Map[String, Long] = Map.empty,
      dvSums: Map[String, String] = Map.empty,
      // OPT-IN min/max LEDGERS (design note; flag
      // `spark.graft.stats.ledgerK` > 0 at write time): per
      // stats-indexed column, the k smallest (`bottomK`, ascending) and
      // k largest (`topK`, descending) non-null values of the file,
      // rendered like `stats` — what lets min/max aggregate pushdown
      // survive SMALL deletion vectors: a bound stays exactly
      // recoverable while the masked rows leave at least one ledger
      // entry standing. `dvBottom`/`dvTop` are the masked counterpart,
      // accumulated across stacked DV commits (the ≤k smallest /
      // largest masked non-null values, counts implied by
      // dvRows − dvNulls); the answer side subtracts them from the
      // ledger (saturating multiset) and refuses the moment the ledger
      // exhausts or the recorded masked prefix cannot prove in-range
      // completeness ([[graft.sources.ManifestAgg]]) — the same
      // exact-or-refuse contract as every other manifest answer.
      // Absent (legacy manifests / flag off) → min/max keep refusing
      // under DVs, exactly the pre-ledger behavior.
      bottomK: Map[String, Seq[String]] = Map.empty,
      topK: Map[String, Seq[String]] = Map.empty,
      dvBottom: Map[String, Seq[String]] = Map.empty,
      dvTop: Map[String, Seq[String]] = Map.empty,
      // OPT-IN per-file BLOOM POINT INDEX (flag
      // `spark.graft.stats.bloomCols` at write time): names the
      // table-relative `bloom/<commitId>` parquet dataset holding this
      // file's per-column bloom filters — equality/IN probes on
      // non-cluster high-cardinality columns refute whole files the
      // min/max boxes can't ([[graft.ops.BloomIndex]]). Additive:
      // legacy entries parse None and simply never bloom-prune.
      bloom: Option[String] = None) {
    /** Convenience for specs / long-keyed callers. */
    def minLong(c: String): Long = stats(c).min.toLong
    def maxLong(c: String): Long = stats(c).max.toLong
    def visibleRows: Long = numRows - dvRows
  }

  /** One RESOLVED committed table version (checkpoint + folded deltas).
    * `txns` maps writerId → highest applied transaction version (the
    * replay watermark). */
  case class TableManifest(
      version: Long,
      schemaJson: String,
      keys: Seq[String],
      clusterBy: Seq[String],
      files: Seq[DataFileEntry],
      txns: Map[String, Long],
      // COLUMN MAPPING (format v3): logical column name → physical
      // parquet column name. Identity entries are omitted, so a table
      // that never renamed carries an empty map and reads exactly as
      // before. Data files and per-file stats are keyed PHYSICAL —
      // renames and drops are metadata-only commits that never rewrite
      // a data file.
      columnMap: Map[String, String] = Map.empty,
      // physical names retired by DROP COLUMN — a later re-ADD of the
      // same logical name must take a FRESH physical name, or old
      // files' bytes would resurrect under the new column
      retiredPhysical: Seq[String] = Seq.empty,
      // CHECK constraints: name → boolean predicate SQL over LOGICAL
      // column names, enforced on every staged data-file write
      // (violation = predicate evaluates FALSE; NULL passes, the SQL
      // standard). State like the schema: carried in full on every
      // record, versioned, restored by RESTORE. Additive: legacy
      // records parse empty.
      constraints: Map[String, String] = Map.empty,
      // TABLE PROPERTIES (`ALTER TABLE … SET TBLPROPERTIES`): versioned
      // key→value metadata carried in full like the schema. The engine
      // consults the `graft.stats.bloom*` keys (a TABLE-DECLARED bloom
      // index contract beats the session conf, so every writer on every
      // cluster indexes the same columns); everything else is user
      // metadata surfaced by DESCRIBE/SHOW TBLPROPERTIES.
      properties: Map[String, String] = Map.empty)

  /** A record whose adds list exceeds this count externalizes it to a
    * streamed `adds-v<N>-<uuid>.ndjson.gz` side file instead of inlining
    * it in the JSON record — the INITIAL-LOAD commit of a 10⁶-file table
    * would otherwise be the one remaining driver-materialized
    * full-listing blob the checkpoint redesign eliminated everywhere
    * else. Normal incremental commits stay inline (one small record). */
  val InlineAddsLimit = 50000

  /** Test hook: specs lower the limit to exercise externalization
    * without building 50k files. */
  @volatile private[graft] var inlineAddsLimit: Int = InlineAddsLimit

  /** The on-disk per-version log record. This build always writes
    * kind = "delta" (adds/removes relative to version−1; v0's delta IS
    * the initial full listing); kind = "checkpoint" (adds = the full
    * live listing inline) is read for v1-format logs. Schema/keys/
    * clusterBy/txns are carried IN FULL on every record (all bounded
    * metadata), so only the file listing needs the checkpoint walk.
    * `addsRef` (oversized commits only) names the streamed side file
    * holding the adds — [[readRecord]] resolves it transparently, and
    * UNLIKE a checkpoint it is load-bearing: an unreadable ref is a
    * corrupt record and fails loudly. */
  private case class LogRecord(
      version: Long,
      kind: String,
      schemaJson: String,
      keys: Seq[String],
      clusterBy: Seq[String],
      adds: Seq[DataFileEntry],
      removes: Seq[String],
      txns: Map[String, Long],
      formatVersion: Int = LogFormatVersion,
      addsRef: Option[String] = None,
      // externalized commits record their adds COUNT inline so audit
      // reads (history) never stream the side file just to count it.
      // Additive/optional — no format bump; legacy externalized records
      // without it report an unknown count
      addsCount: Option[Int] = None,
      // column mapping state, carried IN FULL on every record (bounded
      // metadata, like schemaJson). A record with a non-empty map or
      // retired list writes formatVersion=3 — an older reader silently
      // ignoring the map would read the wrong physical columns, so it
      // must fail loudly instead; map-free tables keep writing v2.
      columnMap: Map[String, String] = Map.empty,
      retiredPhysical: Seq[String] = Seq.empty,
      // CHECK constraints, carried in full like the schema (bounded
      // metadata); non-empty → formatVersion 3 (an older writer
      // silently skipping enforcement would break the table's declared
      // contract — the same loud-failure rule as column mapping)
      constraints: Map[String, String] = Map.empty,
      // table properties, carried in full; non-empty → formatVersion 3
      // (a writer that cannot see them could stage files that ignore a
      // declared bloom contract — refute-only-sound but silently
      // index-less; the loud-failure rule keeps the contract honest)
      properties: Map[String, String] = Map.empty)

  private implicit val jsonFormats: org.json4s.Formats =
    org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)

  private def logDir(table: String) = Paths.get(table, "_graft_log")

  private def versionOf(name: String): Option[Long] = {
    // digit guard: foreign files under the log dir are ignored, not thrown
    // on — including all-digit junk past Long range (legit names are
    // %020d, so 20 digits alone can't distinguish; Try absorbs overflow)
    val core = name.stripPrefix("v").stripSuffix(".json")
    if (name.startsWith("v") && name.endsWith(".json") &&
      core.nonEmpty && core.forall(_.isDigit))
      scala.util.Try(core.toLong).toOption
    else None
  }

  private def readRecord(table: String, v: Long): Option[LogRecord] =
    readRecordLight(table, v).flatMap { rec =>
      val f = logDir(table).resolve(f"v$v%020d.json")
      rec.addsRef match {
        case None => Some(rec)
        case Some(ref) =>
          // the externalized adds listing is LOAD-BEARING (unlike a
          // checkpoint): an unreadable ref is a corrupt record, and
          // silently treating it as empty would resolve a wrong listing
          val entries = readEntriesFile(logDir(table).resolve(ref))
            .getOrElse(sys.error(s"$f references adds file $ref which is " +
              "missing or unreadable — the record is corrupt"))
          Some(rec.copy(adds = entries))
      }
    }

  /** Record parse WITHOUT resolving an externalized adds side file —
    * audit reads (history) need kind/counts, never the 10⁶-entry
    * listing a bulk-load commit externalized; resolution paths go
    * through [[readRecord]], which is this plus the (load-bearing)
    * side-file read. */
  private def readRecordLight(table: String, v: Long): Option[LogRecord] = {
    val f = logDir(table).resolve(f"v$v%020d.json")
    if (!Files.exists(f)) None
    else {
      // exists→read TOCTOU: a concurrent process's vacuum can unlink the
      // record in between; NoSuchFileException is a FileSystemException
      // (NOT java.io.FileNotFoundException), so without this mapping the
      // gap would surface as an untyped crash instead of "record absent"
      val bytes =
        try Files.readAllBytes(f)
        catch { case _: java.nio.file.NoSuchFileException => return None }
      val txt = new String(bytes, "UTF-8")
      val jv = org.json4s.jackson.JsonMethods.parse(txt)
      val fv = jv \ "formatVersion" match {
        case org.json4s.JInt(n) => n.toInt
        // v1 (round-10) records carry no formatVersion but do carry
        // `kind` — readable transparently
        case _ if (jv \ "kind") != org.json4s.JNothing => 1
        case _ => sys.error(s"$f is not a recognized graft log record " +
          "(pre-v1 format?) — rebuild the table or migrate its log; this " +
          s"build reads formatVersion ≤ $LogFormatVersion")
      }
      require(fv <= LogFormatVersion, s"$f carries formatVersion=$fv, " +
        s"newer than this build's $LogFormatVersion — upgrade the reader " +
        "before touching this table")
      // the FILENAME is the CAS slot and therefore the authoritative
      // version; trusting a divergent embedded version would re-commit
      // into an occupied slot forever
      Some(jv.extract[LogRecord].copy(version = v, formatVersion = fv))
    }
  }

  // ---- auxiliary checkpoint files (format v2) ------------------------------

  private def cpFile(table: String, v: Long) =
    logDir(table).resolve(f"cp-v$v%020d.ndjson.gz")

  private def cpVersionOf(name: String): Option[Long] = {
    val core = name.stripPrefix("cp-v").stripSuffix(".ndjson.gz")
    if (name.startsWith("cp-v") && name.endsWith(".ndjson.gz") &&
      core.nonEmpty && core.forall(_.isDigit))
      scala.util.Try(core.toLong).toOption
    else None
  }

  /** Version of an externalized-adds side file (`adds-v<N>-<uuid>…`);
    * its retention mirrors its record's. */
  private def addsVersionOf(name: String): Option[Long] =
    if (name.startsWith("adds-v") && name.endsWith(".ndjson.gz")) {
      val core = name.stripPrefix("adds-v").takeWhile(_.isDigit)
      if (core.nonEmpty) scala.util.Try(core.toLong).toOption else None
    } else None

  /** Write a file listing as STREAMED gzip NDJSON — one DataFileEntry
    * per line, flushed through a bounded buffer, so a 10⁶-entry listing
    * never materializes as one driver-side string. Single-writer per
    * target (checkpoints: the version's CAS winner; adds side files: the
    * attempting committer, who deletes its own file on a CAS loss); a
    * crash mid-write leaves a `.tmp-` husk vacuum sweeps, and the final
    * name appears only complete. */
  private def writeEntriesFile(
      target: java.nio.file.Path, files: Seq[DataFileEntry]): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(
      s".tmp-ef-${java.util.UUID.randomUUID().toString.take(8)}")
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(Files.newOutputStream(tmp), 1 << 16),
      java.nio.charset.StandardCharsets.UTF_8))
    try {
      files.foreach { e =>
        w.write(org.json4s.jackson.Serialization.write(e)); w.write('\n')
      }
    } finally w.close()
    Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def writeCheckpointFile(
      table: String, v: Long, files: Seq[DataFileEntry]): Unit =
    writeEntriesFile(cpFile(table, v), files)

  private def readCheckpointFile(
      table: String, v: Long): Option[Seq[DataFileEntry]] =
    readEntriesFile(cpFile(table, v))

  /** Stream an entries file back; None when absent or unreadable
    * (truncated gzip from a torn copy) — CHECKPOINT callers then fall
    * back to an older base, trading walk length for correctness; the
    * adds-side-file caller treats None as corruption and fails loudly. */
  private def readEntriesFile(
      f: java.nio.file.Path): Option[Seq[DataFileEntry]] = {
    if (!Files.exists(f)) None
    else {
      // EVERYTHING from open to extraction sits inside the fallback: the
      // file can vanish between the exists check and the open (vacuum
      // advancing the floor under a cold walk), the gzip header can be
      // torn, a line can fail JSON extraction — each means "this base is
      // unreadable, walk to an older one", never a failed read. The RAW
      // stream is tracked separately: a gzip-header throw happens before
      // any reader wraps it, and an untracked channel would leak one fd
      // per resolution walking past a torn checkpoint.
      var raw: java.io.InputStream = null
      var in: java.io.BufferedReader = null
      try {
        raw = Files.newInputStream(f)
        in = new java.io.BufferedReader(new java.io.InputStreamReader(
          new java.util.zip.GZIPInputStream(raw, 1 << 16),
          java.nio.charset.StandardCharsets.UTF_8))
        val buf = Seq.newBuilder[DataFileEntry]
        var line = in.readLine()
        while (line != null) {
          if (line.nonEmpty)
            buf += org.json4s.jackson.Serialization.read[DataFileEntry](line)
          line = in.readLine()
        }
        Some(buf.result())
      } catch { case scala.util.control.NonFatal(_) => None }
      finally {
        // close the READER when it exists (ends the zlib Inflater's
        // native buffer deterministically, not at some future GC), and
        // the raw stream when the gzip-header throw happened before any
        // reader wrapped it
        if (in != null) { try in.close() catch { case _: java.io.IOException => () } }
        else if (raw != null) {
          try raw.close() catch { case _: java.io.IOException => () }
        }
      }
    }
  }

  // ---- in-process manifest cache -------------------------------------------

  /** Newest RESOLVED manifest per table (committed versions are immutable,
    * so caching is sound; [[dropTable]] evicts). Steady-state resolution
    * of a moving head is a FORWARD FOLD of just the new delta records over
    * the cached listing — O(new commits), flat in table file count — and
    * a committer seeds the cache with the listing it just published, so a
    * writer's next read is zero-I/O past the head-record check. One entry
    * per table path; each holds one listing (the resolution product a
    * caller materializes anyway) plus an INCARNATION TOKEN — the cached
    * version's record-file identity (mtime:size). A table deleted and
    * recreated at the same path by ANOTHER process (this process's
    * [[dropTable]] evicts) reaches the same version numbers with
    * different record files; every cache use re-stats the token's record
    * (one stat, no parse) and a mismatch falls back to a cold walk
    * instead of resolving against the dead incarnation's listing. A
    * token whose record was legitimately vacuumed also fails the stat —
    * costing only the cold walk. */
  private val manifestCache =
    new scala.collection.concurrent.TrieMap[String, (TableManifest, String)]()

  private def cacheKey(table: String): String =
    Paths.get(table).toAbsolutePath.normalize.toString

  /** Identity of version `v`'s record file; None when absent. The
    * filesystem fileKey (dev:inode on POSIX — every CAS-linked record is
    * a fresh inode) is the real incarnation discriminator; mtime:size
    * rides along as the fallback for filesystems that return no key,
    * where millisecond mtime + coincidental size could in principle
    * collide across a recreate. */
  private def recordIdent(table: String, v: Long): Option[String] = {
    val f = logDir(table).resolve(f"v$v%020d.json")
    try {
      val a = Files.readAttributes(
        f, classOf[java.nio.file.attribute.BasicFileAttributes])
      val key = Option(a.fileKey()).map(_.toString).getOrElse("")
      Some(s"$key:${a.lastModifiedTime().toMillis}:${a.size()}")
    } catch { case _: java.io.IOException => None }
  }

  /** `tok` must be the record identity captured AT (or before) the time
    * the caller read version `m.version`'s record — stat'ing at put time
    * would let a drop-and-recreate during a long resolution pair the OLD
    * listing with the NEW incarnation's valid token. Captured-before
    * fails in the safe direction: the stale token just never validates. */
  private def cachePut(table: String, m: TableManifest,
      tok: Option[String]): Unit =
    tok.foreach { t =>
      val ck = cacheKey(table)
      val entry = (m, t)
      @scala.annotation.tailrec
      def loop(): Unit = manifestCache.get(ck) match {
        case Some(c) if c._1.version >= m.version => ()
        case Some(c) => if (!manifestCache.replace(ck, c, entry)) loop()
        case None => if (manifestCache.putIfAbsent(ck, entry).nonEmpty) loop()
      }
      loop()
    }

  /** The cached manifest, only if its incarnation token still matches the
    * on-disk record it was resolved from. An entry that FAILS the check
    * is evicted, not just bypassed: a dead incarnation's high version
    * number would otherwise block every put from a recreated table until
    * the new one outgrew it, leaving the cache inert-but-immortal. */
  private def cachedValid(table: String): Option[TableManifest] = {
    val ck = cacheKey(table)
    manifestCache.get(ck) match {
      case Some(e @ (m, tok)) =>
        if (recordIdent(table, m.version).contains(tok)) Some(m)
        else { manifestCache.remove(ck, e); None }
      case None => None
    }
  }

  /** Fold one log record over a resolved listing. A v1 inline checkpoint
    * record IS the listing; a delta applies removes then adds. */
  private def foldOne(
      acc: Seq[DataFileEntry], r: LogRecord): Seq[DataFileEntry] =
    if (r.kind == "checkpoint") r.adds
    else {
      val rm = r.removes.toSet
      acc.filterNot(f => rm.contains(f.path)) ++ r.adds
    }

  private def latestVersion(table: String): Option[Long] =
    listVersions(table).lastOption

  /** Cheap existence probe for a version's log record (one stat, no
    * parse/resolution) — lets the feed skip a wasted full resolution of
    * v−1 when v itself is already gone. */
  private[graft] def hasVersion(table: String, v: Long): Boolean =
    Files.exists(logDir(table).resolve(f"v$v%020d.json"))

  /** Latest committed manifest, or None for a not-yet-created table. */
  def latestManifest(table: String): Option[TableManifest] =
    latestVersion(table).flatMap(v => manifestAt(table, v))

  /** The RESOLVED manifest of one SPECIFIC committed version — the
    * time-travel primitive. Resolution order: the in-process cache (hit =
    * zero extra I/O; cached older = forward fold of just the new delta
    * records), then a cold walk back from `v` to the nearest readable
    * base — a `cp-v<M>.ndjson.gz` checkpoint file or a v1 inline
    * checkpoint record — folding deltas forward (≤ CheckpointInterval
    * record reads + one streamed checkpoint read).
    * Available until [[vacuum]] retires the version. */
  def manifestAt(table: String, v: Long): Option[TableManifest] = {
    // incarnation token captured BEFORE the record read/resolution — see
    // cachePut's contract
    val tok = recordIdent(table, v)
    // the cached listing IS version v of this incarnation: the head
    // record need not be parsed again
    manifestCache.get(cacheKey(table)) match {
      case Some((m, t)) if m.version == v && tok.contains(t) => return Some(m)
      case _ => ()
    }
    readRecord(table, v).map { head =>
      val files = resolveListing(table, v, head)
      val m = TableManifest(
        v, head.schemaJson, head.keys, head.clusterBy, files, head.txns,
        head.columnMap, head.retiredPhysical, head.constraints,
        head.properties)
      cachePut(table, m, tok)
      m
    }
  }

  private def resolveListing(
      table: String, v: Long, head: LogRecord): Seq[DataFileEntry] = {
    cachedValid(table) match {
      case Some(c) if c.version == v => return c.files
      case Some(c) if c.version < v =>
        // forward fold: only the records in (cached, v) — the head record
        // at v is already in hand, re-reading it would double log I/O on
        // exactly the hot path this cache optimizes. O(new commits),
        // independent of table file count. Any gap (concurrent vacuum,
        // table recreated at the same path — also caught one level up by
        // the incarnation token) falls through to the cold walk.
        val recs = ((c.version + 1) until v).map(readRecord(table, _))
        if (recs.forall(_.nonEmpty))
          return foldOne(recs.flatten.foldLeft(c.files)(foldOne), head)
      case _ => ()
    }
    // cold walk; the target version's own checkpoint short-circuits
    readCheckpointFile(table, v).getOrElse {
      if (head.kind == "checkpoint") head.adds
      else {
        var deltas = List(head)
        var cur = v - 1
        var base: Option[Seq[DataFileEntry]] = None
        while (base.isEmpty && cur >= 0) {
          base = readCheckpointFile(table, cur)
          if (base.isEmpty) {
            val r = readRecord(table, cur).getOrElse(missingVersion(
              s"log gap: version $cur missing while resolving $v of $table " +
                "(foreign deletion under the checkpoint floor?)"))
            if (r.kind == "checkpoint") base = Some(r.adds)
            else { deltas = r :: deltas; cur -= 1 }
          }
        }
        // cur < 0 with no base: v0's delta is the initial listing — fold
        // the whole prefix over the empty set
        deltas.foldLeft(base.getOrElse(Seq.empty))(foldOne)
      }
    }
  }

  /** Snapshot read of the latest committed version. Empty-table reads
    * reproduce the schema from the manifest. */
  def read(s: SparkSession, table: String): DataFrame =
    readManifest(s, table, latestManifest(table)
      .getOrElse(sys.error(s"no committed version under $table")))

  /** TIME TRAVEL: snapshot read AS OF a specific committed version —
    * data files are immutable and a commit only drops references, so any
    * un-vacuumed version reads back exactly as committed (audit "what did
    * the table say when the model trained", reproducible re-runs,
    * incident rollback reads).
    */
  def readVersion(s: SparkSession, table: String, version: Long): DataFrame =
    readManifest(s, table, manifestAt(table, version)
      .getOrElse(missingVersion(s"version $version not found under $table " +
        "(never committed, or retired by vacuum)")))

  /** Snapshot read of an ALREADY-RESOLVED manifest (the streaming feed
    * holds one and must not re-resolve). */
  private[graft] def readManifest(s: SparkSession, table: String, m: TableManifest): DataFrame =
    readFiles(s, table, DataType.fromJson(m.schemaJson).asInstanceOf[StructType],
      m.files, m.columnMap)

  // ---- table lifecycle: history, timestamp travel, restore ----------------

  /** One commit's audit row. `timestampMs` is the log record file's
    * mtime — the hard-link CAS creates the record atomically at commit,
    * so its mtime IS the commit instant — clamped monotonically
    * non-decreasing across versions (mtimes can jitter backwards across
    * writers/filesystems; version order is the ground truth, exactly
    * Delta's timestamp-travel contract). `numAdds` is −1 for a legacy
    * externalized record that predates the inline adds count (unknown
    * without streaming the side file — audit reads never do); for a
    * legacy v1 `kind="checkpoint"` record the counts describe the
    * embedded full listing, not that commit's delta — `kind` is carried
    * so callers can tell. */
  case class CommitInfo(version: Long, timestampMs: Long, kind: String,
      numAdds: Int, numRemoves: Int)

  private def listVersions(table: String): Seq[Long] = {
    val ld = logDir(table)
    if (!Files.isDirectory(ld)) Seq.empty
    else {
      val stream = Files.list(ld)
      try stream.iterator().asScala
        .flatMap(p => versionOf(p.getFileName.toString)).toSeq.sorted
      finally stream.close()
    }
  }

  /** The versions' monotonically-clamped commit times, ascending — one
    * stat per retained record, NO record parse (the timestamp-travel hot
    * path). A version whose record vanished between the listing and the
    * stat (concurrent vacuum) is skipped entirely — never given a
    * made-up time that would let [[versionAsOf]] answer wrongly. */
  private def commitTimes(table: String): Seq[(Long, Long)] = {
    var clock = 0L
    listVersions(table).flatMap { v =>
      val mt =
        try Some(Files.getLastModifiedTime(
          logDir(table).resolve(f"v$v%020d.json")).toMillis)
        catch { case _: java.io.IOException => None }
      mt.map { t => clock = math.max(clock, t); (v, clock) }
    }
  }

  /** DESCRIBE HISTORY analog: every still-readable committed version,
    * ascending. O(retained versions) record stats + LIGHT parses —
    * bounded by log retention, never by table data size, and an
    * externalized adds side file is never streamed (its count is inline;
    * −1 for legacy records without it). A version retiring under a
    * concurrent vacuum — record, side file, or mtime already gone — is
    * skipped, not thrown on. */
  def history(table: String): Seq[CommitInfo] = {
    var clock = 0L
    listVersions(table).flatMap { v =>
      val rec =
        try readRecordLight(table, v)
        catch { case scala.util.control.NonFatal(_) => None }
      rec.flatMap { r =>
        val mt =
          try Some(Files.getLastModifiedTime(
            logDir(table).resolve(f"v$v%020d.json")).toMillis)
          catch { case _: java.io.IOException => None }
        mt.map { t =>
          clock = math.max(clock, t)
          CommitInfo(v, clock, r.kind,
            r.addsCount.getOrElse(
              if (r.addsRef.nonEmpty) -1 else r.adds.size),
            r.removes.size)
        }
      }
    }
  }

  /** TIMESTAMP AS OF: the newest version committed at or before
    * `tsMillis` (monotonically-clamped commit times — see
    * [[CommitInfo]]). Fails loudly when the earliest RETAINED commit is
    * already newer: the caller asked for state vacuum has retired, and
    * silently answering with a later version would be a wrong-answer
    * time travel. */
  def versionAsOf(table: String, tsMillis: Long): Long = {
    val times = commitTimes(table)
    if (times.isEmpty) missingVersion(s"no committed version under $table")
    val at = times.takeWhile(_._2 <= tsMillis)
    if (at.isEmpty) missingVersion(
      s"no version of $table at or before timestamp $tsMillis — earliest " +
        s"retained commit is v${times.head._1} at ${times.head._2} " +
        "(older history vacuumed?)")
    at.last._1
  }

  /** Snapshot read AS OF a wall-clock instant (epoch millis). */
  def readAsOf(s: SparkSession, table: String, tsMillis: Long): DataFrame =
    readVersion(s, table, versionAsOf(table, tsMillis))

  /** CDC starting point from a wall-clock instant: the EARLIEST version
    * committed at or after `tsMillis` — the changes-since-T reading
    * (the `startingTimestamp` option on both change-feed doors), dual
    * to [[versionAsOf]]'s at-or-before. None when every retained commit
    * is older: the caller starts past the head (only future commits
    * flow — asking for changes since a future instant is a valid
    * subscription, not an error). */
  def versionSinceTimestamp(table: String, tsMillis: Long): Option[Long] = {
    val times = commitTimes(table)
    if (times.isEmpty) missingVersion(s"no committed version under $table")
    times.find(_._2 >= tsMillis).map(_._1)
  }

  /** RESTORE the table head to the exact state of `toVersion`, committed
    * as a NEW version (history is preserved — the rollback rolls
    * FORWARD, Delta-style, so the bad interval stays auditable and CDF
    * consumers see the revert as ordinary changes). Metadata-only: the
    * commit's delta re-references the target version's immutable files;
    * no data is read or rewritten, so restore is O(listing delta)
    * regardless of table size — the incident-rollback shape at 100 TB.
    *
    * Txn watermarks carry from the HEAD, not the target: rolling a
    * replay watermark backwards would make exactly-once streaming
    * batches re-apply. Schema/keys/clustering restore WITH the data (a
    * restore across a widening boundary narrows back; files the wider
    * schema wrote are gone from the restored listing by definition).
    *
    * Fails loudly (before committing anything) when the target version
    * is retired or any of its data files / DV datasets no longer exist —
    * a partial restore would be silent data loss. Returns the new head
    * version. */
  def restore(table: String, toVersion: Long, maxAttempts: Int = 20): Long = {
    val target = manifestAt(table, toVersion).getOrElse(missingVersion(
      s"cannot restore $table to v$toVersion: version not found " +
        "(never committed, or retired by vacuum)"))
    // Versions below the retention floor are exactly the
    // restorable-but-collectable ones, so a concurrent vacuum can retire
    // the target's files at any point before our commit wins. Checking
    // once up front leaves a TOCTOU window the length of the CAS retry
    // loop; instead re-validate immediately before EVERY attempt (cheap:
    // O(target listing) stat calls) and once more after winning, so a
    // head that references deleted files can never be published silently.
    def assertTargetLive(when: String): Unit = {
      val goneData = target.files.filterNot(f =>
        Files.exists(Paths.get(table, f.path)))
      require(goneData.isEmpty,
        s"cannot restore $table to v$toVersion ($when): ${goneData.size} " +
          s"data file(s) vacuumed, e.g. " +
          goneData.take(3).map(_.path).mkString(", "))
      val goneDv = target.files.flatMap(_.dv).distinct.filterNot(d =>
        Files.exists(Paths.get(table, d)))
      require(goneDv.isEmpty,
        s"cannot restore $table to v$toVersion ($when): ${goneDv.size} " +
          s"deletion-vector dataset(s) vacuumed, e.g. " +
          goneDv.take(3).mkString(", "))
    }
    val targetSet = target.files.toSet
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      assertTargetLive(s"pre-commit check, attempt $attempt")
      val head = latestManifest(table).getOrElse(sys.error(
        s"restore race on $table: head vanished mid-restore"))
      val headSet = head.files.toSet
      // entry-level (not path-level) diff: a path present in both whose
      // entry changed (a DV landed on it) must be removed AND re-added
      // with the target's entry — foldOne removes by path then appends
      val adds = target.files.filterNot(headSet.contains)
      val removes = head.files.filterNot(targetSet.contains).map(_.path)
      testPrecommitHook()
      if (commitVersion(table, head.version + 1, target.schemaJson,
        target.keys, target.clusterBy, adds, removes.sorted, head.txns,
        target.files, target.columnMap, head.retiredPhysical,
        target.constraints, target.properties)) {
        // Post-win audit: if vacuum raced between the pre-check and the
        // winning link, the published head references dead files — fail
        // LOUDLY now (the commit is already visible; silence would be
        // silent data loss, noise is an operator page + a restorable
        // situation, since history is preserved and vacuum's live set
        // now includes this head's listing going forward).
        assertTargetLive("post-commit audit — the restored head may " +
          "reference vacuumed files; re-run restore or recover the files")
        return head.version + 1
      }
    }
    sys.error(s"restore of $table to v$toVersion lost the commit race " +
      s"$maxAttempts times — sustained concurrent writes; retry or quiesce")
  }

  // ---- CHECK constraints: declarative write-side invariants ----------------

  /** Top-level column names a constraint predicate references (parsed,
    * not regexed — `value > 0 AND upper(tag) <> 'X'` yields value, tag).
    * Used to block renaming/dropping a referenced column: the stored
    * predicate is SQL TEXT, and silently re-pointing or orphaning it
    * would turn the declared contract into a lie. */
  private def constraintRefs(predicateSql: String): Set[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(predicateSql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
      }.toSet

  private def constraintsReferencing(
      constraints: Map[String, String], column: String): Seq[String] = {
    val lc = column.toLowerCase(java.util.Locale.ROOT)
    constraints.collect {
      case (n, e) if constraintRefs(e).contains(lc) => n
    }.toSeq.sorted
  }

  /** `ALTER TABLE … ADD CONSTRAINT name CHECK (predicate)` — the
    * write-side twin of the reference's construction-time row validation
    * (`categorize-trail-conditions/src/client.py:41-55`, Pydantic
    * raising on bad rows): from this commit on, EVERY staged data-file
    * write (merge, insert, overwrite, SQL UPDATE — one aggregate over
    * the already-pinned staged frame) rejects a violating batch
    * atomically, before anything is published.
    *
    * Adding VALIDATES the whole current table first (one scan counting
    * `NOT predicate` rows — NULL passes, the SQL standard) and rejects
    * when violations exist: no grandfathered bad rows, so every later
    * rewrite of old data re-passes by construction. The find-then-commit
    * loop re-validates against each new head (same TOCTOU discipline as
    * DELETE). Constraints are versioned state: time travel shows each
    * version's own set, RESTORE restores the target's, rename/drop of a
    * referenced column is rejected until the constraint is dropped.
    * Returns the committed version. */
  def addConstraint(s: SparkSession, table: String, name: String,
      predicateSql: String, maxAttempts: Int = 20): Long = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_'), s"constraint name '$name' must be " +
      "a bare identifier (letters, digits, underscores)")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = latestManifest(table).getOrElse(
        sys.error(s"no committed version under $table"))
      require(!head.constraints.keys.exists(_.equalsIgnoreCase(name)),
        s"constraint '$name' already exists on $table (drop it first)")
      // analyze against THIS snapshot: unknown columns / non-boolean
      // predicates fail here, loudly, before any validation scan runs
      val snap = readManifest(s, table, head)
      val cond = expr(predicateSql)
      val analyzed = snap.where(cond).queryExecution.analyzed
      val deterministic = analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.deterministic
      }.getOrElse(true)
      require(deterministic, s"CHECK ($predicateSql) is non-deterministic " +
        "— a constraint must judge a row the same way every time")
      val violations = snap.where(not(cond)).count()
      require(violations == 0L,
        s"cannot add CHECK constraint '$name' ($predicateSql) to $table: " +
          s"$violations existing row(s) violate it")
      if (commitVersion(table, head.version + 1, head.schemaJson, head.keys,
        head.clusterBy, Seq.empty, Seq.empty, head.txns, head.files,
        head.columnMap, head.retiredPhysical,
        head.constraints + (name -> predicateSql),
        head.properties)) return head.version + 1
      // CAS lost: loop — re-validate against the new head's rows
    }
    sys.error(s"addConstraint on $table lost the commit race " +
      s"$maxAttempts times")
  }

  /** `ALTER TABLE … DROP CONSTRAINT name` — metadata-only commit
    * removing the named constraint; unknown names fail loudly unless
    * `ifExists`. Returns the committed version (or the head version
    * unchanged for a no-op `ifExists` drop). */
  def dropConstraint(table: String, name: String, ifExists: Boolean = false,
      maxAttempts: Int = 20): Long = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = latestManifest(table).getOrElse(
        sys.error(s"no committed version under $table"))
      val actual = head.constraints.keys.find(_.equalsIgnoreCase(name))
      actual match {
        case None =>
          if (ifExists) return head.version
          sys.error(s"no CHECK constraint '$name' on $table " +
            s"(declared: ${head.constraints.keys.toSeq.sorted.mkString(", ")})")
        case Some(key) =>
          if (commitVersion(table, head.version + 1, head.schemaJson,
            head.keys, head.clusterBy, Seq.empty, Seq.empty, head.txns,
            head.files, head.columnMap, head.retiredPhysical,
            head.constraints - key,
            head.properties)) return head.version + 1
      }
    }
    sys.error(s"dropConstraint on $table lost the commit race " +
      s"$maxAttempts times")
  }

  // ---- table properties: versioned key→value metadata ----------------------

  /** Property keys the engine consults (everything else is user
    * metadata). `graft.stats.bloomCols` declares the per-file bloom
    * point-index contract AT THE TABLE — the session conf
    * `spark.graft.stats.bloomCols` then becomes a local default the
    * table declaration overrides, so every writer on every cluster
    * indexes the same columns ([[graft.ops.BloomIndex]]). */
  private val CanonicalEngineProp = Map(
    "graft.stats.bloomcols" -> "graft.stats.bloomCols",
    "graft.stats.bloomexpecteditems" -> "graft.stats.bloomExpectedItems",
    "graft.stats.bloomfpp" -> "graft.stats.bloomFpp")
  private val EngineProps = CanonicalEngineProp.keySet

  /** Engine keys are stored under ONE canonical spelling whatever case
    * the DDL used — the read side looks properties up by exact key. */
  private def canonicalPropKey(k: String): String =
    CanonicalEngineProp.getOrElse(k.toLowerCase(java.util.Locale.ROOT), k)

  /** First-class manifest facts that LOOK like properties but are not
    * settable through this door: keys/clustering are the table's merge
    * identity (a re-key is a migration, not a property flip). */
  private val ReservedProps = Set("keys", "clusterby", "format",
    "version", "provider", "location")

  /** `ALTER TABLE … SET TBLPROPERTIES (k = v, …)` — a metadata-only
    * commit merging `kv` into the table's versioned property map. The
    * engine-consulted keys are validated against THIS snapshot's schema
    * (unknown bloom columns, unparsable sizes fail loudly before any
    * commit); unknown `graft.*` keys are rejected as probable typos —
    * a silently ignored engine knob is worse than an error. Returns the
    * committed version. */
  /** Key-shape + engine-key validation for a property map against a
    * schema. Public so CREATE TABLE can validate its TBLPROPERTIES
    * against the DECLARED schema BEFORE the first commit — a rejected
    * property must not leave a half-created table behind. Returns the
    * canonically-keyed map. */
  def validateProperties(schema: StructType,
      kv: Map[String, String]): Map[String, String] = {
    kv.keys.foreach { k =>
      require(k.nonEmpty, "empty property key")
      require(!ReservedProps.contains(k.toLowerCase(java.util.Locale.ROOT)),
        s"'$k' is a first-class table fact, not a settable property " +
          "(keys/clustering changes are migrations)")
      require(!k.toLowerCase(java.util.Locale.ROOT).startsWith("graft.") ||
        EngineProps.contains(k.toLowerCase(java.util.Locale.ROOT)),
        s"unknown engine property '$k' — the graft.* namespace is " +
          s"reserved; known: ${CanonicalEngineProp.values.toSeq.sorted.mkString(", ")}")
    }
    val norm = kv.map { case (k, v) => canonicalPropKey(k) -> v }
    norm.foreach { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) match {
      case "graft.stats.bloomcols" =>
        v.split(",").map(_.trim).filter(_.nonEmpty).foreach { c =>
          val f = schema.fields.find(_.name.equalsIgnoreCase(c))
            .getOrElse(sys.error(s"graft.stats.bloomCols names '$c', " +
              "not a table column"))
          require(BloomIndex.tagFor(f.dataType).nonEmpty,
            s"graft.stats.bloomCols names '$c' (${f.dataType.simpleString})" +
              " — bloom-indexable types are integral, string, date, " +
              "timestamp")
        }
      case "graft.stats.bloomexpecteditems" =>
        require(scala.util.Try(v.trim.toLong).toOption.exists(_ > 0),
          s"graft.stats.bloomExpectedItems must be a positive long, got '$v'")
      case "graft.stats.bloomfpp" =>
        require(scala.util.Try(v.trim.toDouble).toOption
          .exists(d => d > 0 && d < 1),
          s"graft.stats.bloomFpp must be in (0, 1), got '$v'")
      case _ => ()
    } }
    norm
  }

  def setProperties(s: SparkSession, table: String,
      kv: Map[String, String], maxAttempts: Int = 20): Long = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = latestManifest(table).getOrElse(
        sys.error(s"no committed version under $table"))
      // full validation against the CURRENT schema, re-run per attempt
      // (a concurrent drop could retire a named bloom column)
      val norm = validateProperties(
        DataType.fromJson(head.schemaJson).asInstanceOf[StructType], kv)
      if (commitVersion(table, head.version + 1, head.schemaJson, head.keys,
        head.clusterBy, Seq.empty, Seq.empty, head.txns, head.files,
        head.columnMap, head.retiredPhysical, head.constraints,
        head.properties ++ norm)) return head.version + 1
    }
    sys.error(s"setProperties on $table lost the commit race " +
      s"$maxAttempts times")
  }

  /** `ALTER TABLE … UNSET TBLPROPERTIES (k, …)` — removes the named
    * keys; unknown names fail loudly unless `ifExists`. Returns the
    * committed version (head unchanged for a no-op ifExists unset). */
  def unsetProperties(table: String, keys: Seq[String],
      ifExists: Boolean = false, maxAttempts: Int = 20): Long = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = latestManifest(table).getOrElse(
        sys.error(s"no committed version under $table"))
      val normKeys = keys.map(canonicalPropKey)
      val missing = normKeys.filterNot(head.properties.contains)
      if (missing.nonEmpty && !ifExists)
        sys.error(s"no table propert${if (missing.size == 1) "y" else "ies"} " +
          s"${missing.mkString(", ")} on $table (set: " +
          s"${head.properties.keys.toSeq.sorted.mkString(", ")})")
      if (missing.size == normKeys.size) return head.version
      if (commitVersion(table, head.version + 1, head.schemaJson, head.keys,
        head.clusterBy, Seq.empty, Seq.empty, head.txns, head.files,
        head.columnMap, head.retiredPhysical, head.constraints,
        head.properties -- normKeys)) return head.version + 1
    }
    sys.error(s"unsetProperties on $table lost the commit race " +
      s"$maxAttempts times")
  }

  // ---- column mapping: metadata-only RENAME / DROP -------------------------

  /** The declared bloom contract follows a METADATA-ONLY rename/drop in
    * the SAME commit: `graft.stats.bloomCols` naming the renamed column
    * re-points to the new name; a dropped column leaves the list (the
    * key disappears when the list empties). The alternative — blocking
    * like constraints — would make an advisory skipping hint veto a
    * schema change; rewriting keeps SHOW TBLPROPERTIES truthful and the
    * next write indexing the right columns. */
  private def remapBloomCols(props: Map[String, String],
      f: String => Option[String]): Map[String, String] =
    props.get("graft.stats.bloomCols") match {
      case None => props
      case Some(v) =>
        val kept = v.split(",").map(_.trim).filter(_.nonEmpty).flatMap(f(_))
        if (kept.isEmpty) props - "graft.stats.bloomCols"
        else props + ("graft.stats.bloomCols" -> kept.mkString(","))
    }


  /** RENAME COLUMN `from` → `to` as a METADATA-ONLY commit: zero data
    * files are rewritten — the logical→physical map carries the new name
    * onto the old physical parquet column, and every per-file statistic
    * (keyed physical) stays valid byte-for-byte. Time travel keeps each
    * version's own names: a read AS OF a pre-rename version serves the
    * old name, the head serves the new one, and the change feed diffs
    * across the rename through the stable physical identity.
    *
    * Merge keys and cluster columns are rejected — they are the pruning
    * identity every committed file's box is keyed by, and renaming them
    * is a re-key, not a relabel. Retyping stays rejected everywhere.
    * Returns the committed version. */
  def renameColumn(table: String, from: String, to: String,
      maxAttempts: Int = 20): Long = {
    require(from != to, s"rename $from -> $to is a no-op")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = latestManifest(table).getOrElse(
        sys.error(s"no committed version under $table"))
      val schema = DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
      require(schema.fieldNames.contains(from),
        s"cannot rename $from: no such column in $table " +
          s"(${schema.fieldNames.mkString(",")})")
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"cannot rename $from -> $to: column $to already exists")
      require(!head.keys.contains(from) && !head.clusterBy.contains(from),
        s"cannot rename $from: it is a merge key / cluster column — " +
          "the pruning identity; that migration is a re-key, not a rename")
      val refs = constraintsReferencing(head.constraints, from)
      require(refs.isEmpty, s"cannot rename $from: referenced by CHECK " +
        s"constraint(s) ${refs.mkString(", ")} — drop them first (the " +
        "stored predicate is SQL text; a silent re-point would lie)")
      val phys = physOf(head.columnMap, from)
      // identity entries stay omitted (a→b→a lands back on an empty map)
      val newMap = (head.columnMap - from) ++
        (if (to == phys) Map.empty[String, String] else Map(to -> phys))
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      if (commitVersion(table, head.version + 1, newSchema.json, head.keys,
        head.clusterBy, Seq.empty, Seq.empty, head.txns, head.files,
        newMap, head.retiredPhysical,
        head.constraints,
        remapBloomCols(head.properties,
          c => Some(if (c.equalsIgnoreCase(from)) to else c))))
        return head.version + 1
    }
    sys.error(s"rename on $table lost the commit race $maxAttempts times")
  }

  /** DROP COLUMN as a METADATA-ONLY commit: the physical column's bytes
    * stay in every data file (time travel to pre-drop versions still
    * reads them); the head's schema and map simply stop referencing it,
    * and the physical name is TOMBSTONED so a later re-ADD of the same
    * logical name takes a fresh physical — old bytes can never
    * resurrect under the new column. Keys/cluster columns are rejected.
    * Returns the committed version. */
  def dropColumn(table: String, c: String, maxAttempts: Int = 20): Long = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = latestManifest(table).getOrElse(
        sys.error(s"no committed version under $table"))
      val schema = DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
      require(schema.fieldNames.contains(c),
        s"cannot drop $c: no such column in $table")
      require(!head.keys.contains(c) && !head.clusterBy.contains(c),
        s"cannot drop $c: it is a merge key / cluster column")
      val refs = constraintsReferencing(head.constraints, c)
      require(refs.isEmpty, s"cannot drop $c: referenced by CHECK " +
        s"constraint(s) ${refs.mkString(", ")} — drop them first")
      require(schema.fields.length > head.keys.size,
        s"cannot drop $c: a table of only key columns remains required")
      val phys = physOf(head.columnMap, c)
      val newSchema = StructType(schema.fields.filterNot(_.name == c))
      if (commitVersion(table, head.version + 1, newSchema.json, head.keys,
        head.clusterBy, Seq.empty, Seq.empty, head.txns, head.files,
        head.columnMap - c,
        (head.retiredPhysical :+ phys).distinct,
        head.constraints,
        remapBloomCols(head.properties,
          bc => if (bc.equalsIgnoreCase(c)) None else Some(bc))))
        return head.version + 1
    }
    sys.error(s"drop of $c on $table lost the commit race $maxAttempts times")
  }

  /** ADD COLUMN as a METADATA-ONLY commit: no data file is touched —
    * rows from files written before the widening read back as NULL
    * (parquet name-based reads fill declared-but-absent columns), the
    * same additive evolution a widening merge batch applies. The new
    * column takes a FRESH physical name when its identity physical is in
    * use or tombstoned (a column of this name was renamed away or
    * dropped earlier — old files still carry bytes under it, and an
    * identity mapping would resurrect them; the case-insensitive compare
    * is parquet's own resolution rule). Returns the committed version. */
  def addColumn(table: String, c: String, dt: DataType,
      maxAttempts: Int = 20): Long = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = latestManifest(table).getOrElse(
        sys.error(s"no committed version under $table"))
      val schema = DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"cannot add $c: column already exists in $table")
      val usedPhysical =
        (schema.fields.map(f => physOf(head.columnMap, f.name)) ++
          head.columnMap.values ++ head.retiredPhysical)
          .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      val newMap =
        if (usedPhysical.contains(c.toLowerCase(java.util.Locale.ROOT)))
          head.columnMap +
            (c -> s"${c}_p${java.util.UUID.randomUUID().toString.take(8)}")
        else head.columnMap
      val newSchema = StructType(
        schema.fields :+ StructField(c, dt, nullable = true))
      if (commitVersion(table, head.version + 1, newSchema.json, head.keys,
        head.clusterBy, Seq.empty, Seq.empty, head.txns, head.files,
        newMap, head.retiredPhysical,
        head.constraints, head.properties)) return head.version + 1
    }
    sys.error(s"add of $c on $table lost the commit race $maxAttempts times")
  }

  // ---- column mapping helpers ----------------------------------------------

  /** Physical parquet name of logical column `c` (identity when unmapped
    * — every pre-v3 table). */
  private[graft] def physOf(map: Map[String, String], c: String): String =
    map.getOrElse(c, c)

  /** `schema` with every field renamed to its physical name — the shape
    * data files are actually written and read in. */
  private def physicalSchema(schema: StructType,
      map: Map[String, String]): StructType =
    StructType(schema.fields.map(f => f.copy(name = physOf(map, f.name))))

  /** The schema every deletion-vector dataset is written with: one row
    * per masked position. Reads declare it, so no footer is inferred. */
  private[graft] val DvSchema: StructType =
    StructType(Seq(StructField("path", StringType), StructField("pos", LongType)))

  /** THE snapshot read, as a resolved Catalyst plan: every read of a file
    * set (the DSv2 scan through [[graft.plans.GraftScanStrategy]], time
    * travel, merges, the stream and change-feed doors) is this one plan,
    * and building it lists no file, infers no schema and runs no job.
    *
    *  - each file set is a `LogicalRelation` over a [[ManifestFileIndex]]
    *    that holds the manifest's entries, in PHYSICAL column names;
    *  - `filters` are re-applied as Catalyst predicates right above each
    *    relation, so the parquet reader sees them (row-group skipping)
    *    under whatever file skipping chose `files`; shapes that do not
    *    translate exactly are left to the caller's own filter;
    *  - a `Project` renames physical columns back to the logical ones,
    *    onto `output`'s expression ids when given (the scan relation the
    *    plan replaces), else onto fresh attributes for all of `schema`;
    *  - DV-bearing files scan with the hidden parquet `_metadata` (file
    *    path + row index) and anti-join the union of their DV datasets on
    *    (file, position). The union is exact because a file's DV pointer
    *    always holds ALL of its deleted positions (see
    *    [[DataFileEntry.dv]]) and stale datasets only mention paths this
    *    manifest no longer reads. The DV side is a tiny parquet scan
    *    (planned as a broadcast), bounded by un-compacted deletions —
    *    [[optimize]] rewrites DV-heavy files and retires their vectors.
    *
    * `withPosition` reads every file position-tagged instead: the VISIBLE
    * rows plus their table-relative file path (`__dv_path`) and in-file
    * position (`__dv_pos`) — what a merge-on-read DELETE records (row
    * positions are stable because data files are immutable). */
  private[graft] def snapshotPlan(s: SparkSession, table: String,
      schema: StructType, files: Seq[DataFileEntry],
      columnMap: Map[String, String] = Map.empty,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
      output: Seq[expressions.Attribute] = Nil,
      withPosition: Boolean = false): logical.LogicalPlan = {
    import expressions._
    val want = if (output.nonEmpty) output else DataTypeUtils.toAttributes(schema)
    def tagAttrs = Seq(AttributeReference("__dv_path", StringType)(),
      AttributeReference("__dv_pos", LongType)())
    if (files.isEmpty)
      return logical.LocalRelation(if (withPosition) want ++ tagAttrs else want)
    // read each wanted column at the wanted type: a scan's output carries
    // nested-pruned struct types, which parquet reads as they are
    val pSchema = physicalSchema(StructType(schema.fields.map(f =>
      want.find(_.name == f.name).fold(f)(a => f.copy(dataType = a.dataType)))),
      columnMap)
    def relation(index: graft.sources.ManifestFileIndex, data: StructType) =
      LogicalRelation(HadoopFsRelation(index, new StructType(),
        org.apache.spark.sql.graftbridge.Bridge.asNullable(data), None,
        new ParquetFileFormat(), Map.empty)(s))
    /** The logical columns of `fs` (fresh ids), filtered; tagged with
      * (__dv_path, __dv_pos) and DV-masked when `tag`. */
    def branch(fs: Seq[DataFileEntry], tag: Boolean): logical.LogicalPlan = {
      val rel = relation(graft.sources.ManifestFileIndex.of(s, table, fs), pSchema)
      // a tagged scan carries `_metadata` narrowed to the two fields the
      // tag reads, so the scan generates no other metadata column
      lazy val meta = {
        val m = rel.withMetadataColumns().output.last
        m.withDataType(StructType(m.dataType.asInstanceOf[StructType]
          .filter(f => f.name == "file_path" || f.name == "row_index")))
      }
      val scan = if (tag) rel.copy(output = rel.output :+ meta) else rel
      val phys = schema.fieldNames.zip(rel.output).toMap
      def attr(n: String) = phys.get(n)
        .orElse(phys.collectFirst { case (k, a) if k.equalsIgnoreCase(n) => a })
      val kept = filters.flatMap(graft.plans.GraftScanStrategy.toPredicate(_, attr))
        .reduceOption(And).fold[logical.LogicalPlan](scan)(logical.Filter(_, scan))
      val cols = want.map(a => Alias(attr(a.name).get, a.name)())
      if (!tag) logical.Project(cols, kept)
      else {
        def field(n: String) = GetStructField(meta,
          meta.dataType.asInstanceOf[StructType].fieldIndex(n), Some(n))
        val tagged = logical.Project(cols ++ Seq(
          Alias(RegExpExtract(field("file_path"),
            Literal("(data/[^/]+/[^/]+)$"), Literal(1)), "__dv_path")(),
          Alias(field("row_index"), "__dv_pos")()), kept)
        val dvDirs = fs.flatMap(_.dv).distinct
        if (dvDirs.isEmpty) tagged
        else {
          val pairs = relation(
            graft.sources.ManifestFileIndex.ofDirs(s, table, dvDirs), DvSchema)
          val Seq(p, q) = tagged.output.takeRight(2)
          logical.Join(tagged, pairs, LeftAnti, Some(And(
            EqualTo(p, pairs.output(0)), EqualTo(q, pairs.output(1)))),
            logical.JoinHint.NONE)
        }
      }
    }
    val plan =
      if (withPosition) branch(files, tag = true)
      else {
        val (dvFiles, plain) = files.partition(_.dv.nonEmpty)
        val parts = Seq(plain -> false, dvFiles -> true).collect {
          case (fs, tag) if fs.nonEmpty =>
            val b = branch(fs, tag)
            if (tag) logical.Project(b.output.take(want.size), b) else b
        }
        if (parts.size == 1) parts.head else logical.Union(parts)
      }
    if (output.isEmpty) plan
    else logical.Project(plan.output.zip(want).map { case (o, w) =>
      Alias(o, w.name)(w.exprId) }, plan)
  }

  /** [[snapshotPlan]] as a DataFrame. */
  private def readFiles(s: SparkSession, table: String, schema: StructType,
      files: Seq[DataFileEntry],
      columnMap: Map[String, String] = Map.empty): DataFrame = {
    requirePresent(table, files)
    org.apache.spark.sql.graftbridge.Bridge.ofRows(s,
      snapshotPlan(s, table, schema, files, columnMap))
  }

  /** [[snapshotPlan]]'s position-tagged form as a DataFrame. */
  private def readFilesWithPosition(s: SparkSession, table: String,
      schema: StructType, entries: Seq[DataFileEntry],
      columnMap: Map[String, String] = Map.empty): DataFrame = {
    requirePresent(table, entries)
    org.apache.spark.sql.graftbridge.Bridge.ofRows(s,
      snapshotPlan(s, table, schema, entries, columnMap, withPosition = true))
  }

  /** A DataFrame read fails as it is built when a data file it names is
    * gone (vacuumed under a lagging reader), as a read that lists its
    * paths does: the stream and change-feed doors classify that failure
    * ([[graft.streaming.StreamingChangeFeed.isMissingData]]) before they
    * deliver a frame. One driver-side stat per file, no job. */
  private def requirePresent(table: String, files: Seq[DataFileEntry]): Unit =
    files.find(f => !Files.exists(Paths.get(table, f.path))).foreach(f =>
      throw new java.io.FileNotFoundException(
        s"$table/${f.path} is gone (vacuumed under this read?)"))

  /** Attempt to publish `r` as version `r.version`; false = lost the CAS.
    *
    * The publish primitive is a HARD LINK, not a rename: POSIX rename(2)
    * (what ATOMIC_MOVE maps to) silently REPLACES an existing target, so a
    * rename-based commit would clobber a concurrent writer's version
    * instead of failing — link(2) is atomic AND errors with EEXIST, the
    * put-if-absent a version CAS needs. (On an object store the same slot
    * is a conditional PUT.)
    */
  private def tryCommit(table: String, r: LogRecord): Boolean = {
    val ld = logDir(table)
    Files.createDirectories(ld)
    val tmp = ld.resolve(s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, org.json4s.jackson.Serialization.write(r).getBytes("UTF-8"))
    val target = ld.resolve(f"v${r.version}%020d.json")
    // STRICTLY MONOTONIC commit instants: the record's mtime IS the
    // commit time (see [[CommitInfo]]), and mtimes are millisecond-
    // grained — two commits inside one millisecond would make a
    // timestamp-addressed range boundary ambiguous (which version does
    // "since T" start at?). Stamp max(now, parent_instant + 1) on the
    // TMP file BEFORE the link: link(2) publishes the inode with its
    // attributes, so the adjusted instant is atomic with the commit and
    // no reader ever observes a tied pair. Reading the parent's mtime
    // here is safe — the committer resolved its snapshot first, so
    // version r.version−1 already exists. (The read-side monotone clamp
    // stays, for pre-existing tables and cross-writer clock jitter.)
    if (r.version > 0) {
      val parentMt =
        try Some(Files.getLastModifiedTime(
          ld.resolve(f"v${r.version - 1}%020d.json")).toMillis)
        catch { case _: java.io.IOException => None } // vacuumed parent
      parentMt.foreach { p =>
        val instant = math.max(System.currentTimeMillis(), p + 1L)
        // best-effort: a filesystem that rejects attribute writes (or
        // rounds mtime granularity) must not fail the COMMIT — the
        // read-side monotone clamp already disambiguates tied instants
        try Files.setLastModifiedTime(tmp,
          java.nio.file.attribute.FileTime.fromMillis(instant))
        catch { case _: java.io.IOException | _: SecurityException |
                     _: UnsupportedOperationException => () }
      }
    }
    try { Files.createLink(target, tmp); Files.deleteIfExists(tmp); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp); false
      case _: java.nio.file.FileSystemException if Files.exists(target) =>
        Files.deleteIfExists(tmp); false
    }
  }

  /** Publish a commit at `version` as a DELTA record; on the checkpoint
    * cadence the winner then writes the auxiliary checkpoint file.
    * `resolved` is the version's FULL live listing (the committer already
    * holds it as bounded metadata) — it feeds the checkpoint write and
    * seeds the manifest cache, so the writer's next resolution is a pure
    * cache hit. A failed/crashed checkpoint write is swallowed: the log
    * record already committed, and resolution just walks to an older
    * base (auxiliary-only, never load-bearing). */
  private def commitVersion(
      table: String, version: Long, schemaJson: String, keys: Seq[String],
      clusterBy: Seq[String], adds: Seq[DataFileEntry], removes: Seq[String],
      txns: Map[String, Long], resolved: Seq[DataFileEntry],
      columnMap: Map[String, String], retiredPhysical: Seq[String],
      // REQUIRED (no default): every commit must consciously carry the
      // table's constraint state forward — a defaulted empty map would
      // silently drop declared constraints on the next ordinary commit
      constraints: Map[String, String],
      // REQUIRED for the same reason: versioned state never defaults
      properties: Map[String, String]): Boolean = {
    // an oversized adds list (the initial bulk load) externalizes to a
    // streamed side file; a CAS loser deletes its own file (a crashed
    // loser's orphan ages out with the log retention sweep)
    val (inlineAdds, addsRef) =
      if (adds.size <= inlineAddsLimit) (adds, None)
      else {
        val name = f"adds-v$version%020d-" +
          s"${java.util.UUID.randomUUID().toString.take(8)}.ndjson.gz"
        writeEntriesFile(logDir(table).resolve(name), adds)
        (Seq.empty[DataFileEntry], Some(name))
      }
    val won = tryCommit(table,
      LogRecord(version, "delta", schemaJson, keys, clusterBy,
        inlineAdds, removes, txns,
        // mapping-, constraint- and property-free commits stay
        // v2-readable by pre-feature readers
        formatVersion =
          if (columnMap.isEmpty && retiredPhysical.isEmpty &&
            constraints.isEmpty && properties.isEmpty) 2
          else LogFormatVersion,
        addsRef = addsRef,
        addsCount = addsRef.map(_ => adds.size),
        columnMap = columnMap, retiredPhysical = retiredPhysical,
        constraints = constraints, properties = properties))
    if (!won)
      addsRef.foreach(n => Files.deleteIfExists(logDir(table).resolve(n)))
    if (won) {
      if (version > 0 && version % CheckpointInterval == 0)
        try writeCheckpointFile(table, version, resolved)
        catch { case _: java.io.IOException => () }
      // the committer just linked this record itself; stat-now is the
      // earliest possible capture for it (a racing recreate would have
      // to delete this fresh record first, failing the stat — safe)
      cachePut(table,
        TableManifest(version, schemaJson, keys, clusterBy, resolved, txns,
          columnMap, retiredPhysical, constraints, properties),
        recordIdent(table, version))
    }
    won
  }

  // ---- typed cluster-key statistics ---------------------------------------

  private def statTag(dt: DataType): String = statTagOpt(dt).getOrElse(
    sys.error(s"unsupported cluster-key type $dt — " +
      "supported: integral, float/double, string, timestamp, date, decimal"))

  /** [[statTag]] for GENERALIZED (non-cluster) stats collection: returns
    * None for types the stat domain can't order (arrays, structs, binary,
    * …) instead of throwing — those columns simply aren't indexed, and a
    * predicate on them never prunes. Cluster keys keep the throwing form:
    * an unsupported cluster type is a caller error, not a skip. */
  private[graft] def statTagOpt(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case FloatType | DoubleType => Some("double")
    case StringType => Some("string")
    case TimestampType => Some("timestamp")
    case DateType => Some("date")
    // generalized stats only (cluster keys keep rejecting decimals):
    // rendered as plain scale-preserving strings, compared as BigDecimal
    case _: DecimalType => Some("decimal")
    case _ => None
  }

  /** Per-file min/max + null counts are collected for at most this many
    * columns (Delta's `dataSkippingNumIndexedCols` move): stats are
    * manifest metadata carried on EVERY file entry, so on a 10⁶-file
    * table each indexed column is ~10⁶ more stat strings in checkpoints —
    * bounded by design, not by the table's width. Cluster columns are
    * always indexed regardless of the cap. */
  val StatsColumnCap = 32

  /** The columns a file write collects skipping stats for: every cluster
    * column (mandatory — merge pruning depends on them), then the
    * remaining supported-type TOP-LEVEL columns in schema order up to
    * [[StatsColumnCap]]. Deterministic in the schema, so every file of a
    * commit indexes the same set. */
  private def statsIndexedColumns(
      schema: StructType, clusterBy: Seq[String]): Seq[String] = {
    val extra = schema.fields.iterator
      .filter(f => !clusterBy.contains(f.name) && statTagOpt(f.dataType).nonEmpty)
      .map(_.name)
      .take(math.max(0, StatsColumnCap - clusterBy.size))
      .toSeq
    clusterBy ++ extra
  }

  /** The lossless widened decimal a column's EXACT sum folds in — Some
    * only for the summable domains (integral: decimal(38,0) holds any
    * per-file fold of longs; decimal(p,s): widened to (38,s)). Shared by
    * the write-time stats pass and the DV-commit delta pass so the two
    * can never disagree about which columns carry sums. */
  private[graft] def sumWideType(dt: DataType): Option[DecimalType] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(DecimalType(38, 0))
    case d: DecimalType => Some(DecimalType(38, d.scale))
    case _ => None // float/double: order-dependent; others: unordered
  }

  private def statFieldType(tag: String): DataType = tag match {
    case "long" => LongType
    case "double" => DoubleType
    case "string" => StringType
    case "timestamp" => TimestampType
    case "date" => DateType
  }

  /** Canonical string rendering of a collected stat value (see [[ColStat]]). */
  private def renderStat(dt: DataType, v: Any): String = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      v.asInstanceOf[Number].longValue.toString
    case FloatType | DoubleType => v.asInstanceOf[Number].doubleValue.toString
    case StringType => v.asInstanceOf[String]
    case TimestampType => v match {
      // both external timestamp types appear depending on the session's
      // java8API config — render to epoch micros either way
      case ts: java.sql.Timestamp =>
        val i = ts.toInstant
        (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
      case i: java.time.Instant =>
        (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
    }
    case DateType => v match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
      case d: java.time.LocalDate => d.toEpochDay.toString
    }
    case _: DecimalType => v match {
      case d: java.math.BigDecimal => d.toPlainString
      case d: BigDecimal => d.underlying.toPlainString
      case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal.toPlainString
    }
    case other => sys.error(s"unsupported cluster-key type $other")
  }

  /** JVM value for re-injecting a rendered stat into a DataFrame literal
    * of the stat's field type (CatalystTypeConverters accepts java.sql
    * external types regardless of the java8API setting). */
  private def statJvm(tag: String, v: String): Any = tag match {
    case "long" => v.toLong
    case "double" => v.toDouble
    case "string" => v
    case "timestamp" =>
      val micros = v.toLong
      val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      ts
    case "date" =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.toLong))
  }

  /** Unsigned lexicographic byte comparison — the UTF8String order Spark
    * compares strings in. Driver-side box tests MUST use it too: JVM
    * String.compareTo is UTF-16 code-unit order, which disagrees above
    * the BMP, and a disagreement here would make the conflict-scoped
    * fast path unsound, not just slow. */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private def statLeq(t: String, a: String, b: String): Boolean = t match {
    case "long" | "timestamp" | "date" => a.toLong <= b.toLong
    case "double" => a.toDouble <= b.toDouble
    case "string" => utf8Compare(a, b) <= 0
    // decimal never reaches the cluster-key box paths (statTag rejects
    // it as a cluster type) but DOES reach the ledger merge: ledgers
    // are recorded for ALL stats-indexed columns, and statTagOpt indexes
    // DecimalType as "decimal" — mirror StatsPruning.leq's comparison.
    case "decimal" =>
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)) <= 0
  }

  /** Inclusive per-column interval overlap of a key box against a file's
    * stats box — true only if EVERY clustering column's intervals
    * intersect (sound: a real shared tuple implies per-column overlap). */
  private def boxesOverlap(clusterBy: Seq[String],
      box: Map[String, ColStat], f: DataFileEntry,
      columnMap: Map[String, String] = Map.empty): Boolean =
    clusterBy.forall { c =>
      // the key box is keyed LOGICAL (computed on the batch frame); file
      // stats are keyed PHYSICAL (column mapping)
      val a = box(c); val b = f.stats(physOf(columnMap, c))
      statLeq(a.t, a.min, b.max) && statLeq(a.t, b.min, a.max)
    }

  /** The batch's per-clustering-column [min,max] box (None for an empty
    * batch — it overlaps nothing). */
  private def batchBox(batch: DataFrame,
      clusterBy: Seq[String]): Option[Map[String, ColStat]] = {
    val aggs = clusterBy.flatMap(c => Seq(min(col(c)), max(col(c))))
    val r = batch.agg(aggs.head, aggs.tail: _*).collect()(0)
    if (r.isNullAt(0)) None
    else Some(clusterBy.zipWithIndex.map { case (c, i) =>
      val dt = batch.schema(c).dataType
      c -> ColStat(statTag(dt), renderStat(dt, r.get(2 * i)),
        renderStat(dt, r.get(2 * i + 1)))
    }.toMap)
  }

  /** The ≤|files|-row (path, per-cluster-column [mn_i, mx_i]) interval
    * table — the broadcast side of both the touched-file probe and the
    * source-side prune. */
  private def boxIntervalFrame(s: SparkSession, files: Seq[DataFileEntry],
      clusterBy: Seq[String], columnMap: Map[String, String]): DataFrame = {
    def stat(f: DataFileEntry, c: String) = f.stats(physOf(columnMap, c))
    val tags = clusterBy.map(c => stat(files.head, c).t)
    val schema = StructType(
      StructField("path", StringType) +:
        clusterBy.indices.flatMap(i => Seq(
          StructField(s"mn_$i", statFieldType(tags(i))),
          StructField(s"mx_$i", statFieldType(tags(i))))))
    val rows: java.util.List[Row] = files.map { f =>
      Row.fromSeq(f.path +: clusterBy.zipWithIndex.flatMap { case (c, i) =>
        val st = stat(f, c)
        Seq(statJvm(st.t, st.min), statJvm(st.t, st.max))
      })
    }.asJava
    s.createDataFrame(rows, schema)
  }

  /** Paths of the files whose stats box intersects the batch's key set —
    * the point-in-box join of the distinct batch cluster tuples against
    * the broadcast ≤|files|-row box table; collects only the bounded
    * touched-path list. The second return is whether ANY distinct batch
    * tuple fell OUTSIDE every box — when false, the boxes cover the full
    * batch key range, the source-prune complement is provably empty, and
    * the semi/anti prune pair is pure overhead (the gate reads this, for
    * free, off the same one-job probe). */
  private def touchedPathsWithCoverage(
      s: SparkSession, files: Seq[DataFileEntry], batch: DataFrame,
      clusterBy: Seq[String],
      columnMap: Map[String, String] = Map.empty): (Set[String], Boolean) = {
    if (files.isEmpty) return (Set.empty, true)
    val intervals = boxIntervalFrame(s, files, clusterBy, columnMap)
    val probe = batch
      .select(clusterBy.zipWithIndex.map { case (c, i) => col(c).as(s"k_$i") }: _*)
      .distinct()
    val cond = clusterBy.indices
      .map(i => col(s"k_$i") >= col(s"mn_$i") && col(s"k_$i") <= col(s"mx_$i"))
      .reduce(_ && _)
    val r = probe.join(broadcast(intervals), cond, "left_outer")
      .agg(collect_set(col("path")), // bounded: ≤ |files| distinct paths
        sum(when(col("path").isNull, 1L).otherwise(0L))).collect()(0)
    val paths = r.getSeq[String](0).toSet
    val outside = !r.isNullAt(1) && r.getLong(1) > 0L
    (paths, outside)
  }

  private def touchedPaths(
      s: SparkSession, files: Seq[DataFileEntry], batch: DataFrame,
      clusterBy: Seq[String],
      columnMap: Map[String, String] = Map.empty): Set[String] =
    touchedPathsWithCoverage(s, files, batch, clusterBy, columnMap)._1

  /** Source-prune size gate: a source whose estimated bytes sit at or
    * under this joins broadcast-cheap anyway, so the semi/anti prune
    * pair would cost more than it saves. Defaults to the session's own
    * broadcast threshold; `spark.graft.merge.sourcePrune.minBytes` = 0
    * forces pruning (the at-scale posture and the spec hook). */
  private def pruneMinBytes(s: SparkSession): Long =
    s.conf.getOption("spark.graft.merge.sourcePrune.minBytes").map(_.toLong)
      .getOrElse(math.max(0L, s.sessionState.conf.autoBroadcastJoinThreshold))

  /** Rough per-row width of `schema` for the size gate — Catalyst's own
    * defaultSize, the same estimate the planner's broadcast decision
    * uses. */
  private def estRowBytes(schema: StructType): Long =
    math.max(1L, schema.fields.map(_.dataType.defaultSize.toLong).sum)

  /** Spec/probe observability: did the last [[merge]]/[[mergeDelete]]
    * AGAINST THIS TABLE apply the source-side box prune, and if not,
    * WHICH gate skipped it ("applied" / "skipped-size" /
    * "skipped-coverage" / "nmbs" / "no-touched-files") — the plan-debug
    * face of the round-16 gates. Keyed by table path so concurrent
    * suites can't clobber each other's observation. Execution metadata
    * only — never consulted by the merge path. */
  private val sourcePruneAudit =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def lastSourcePrunedFor(table: String): Boolean =
    Option(sourcePruneAudit.get(table)).contains("applied")
  private[graft] def lastSourcePruneReasonFor(table: String): Option[String] =
    Option(sourcePruneAudit.get(table))
  private def recordSourcePrune(table: String, reason: String): Unit =
    sourcePruneAudit.put(table, reason)

  /** SOURCE-SIDE pushdown: a source row whose cluster tuple falls inside
    * NO touched file's box can match no target row — its only possible
    * outcomes are "no action" (matched-only merge) or the insert path
    * (which needs no join). `complement = false` keeps exactly the
    * possibly-matching rows (broadcast left-semi against the touched
    * files' interval table — the merge join's left side);
    * `complement = true` keeps exactly the provably-unmatched rest
    * (left-anti — fed straight to the insert clauses, bypassing the
    * join). At scale this turns the join side of ANY non-NMBS merge
    * into O(rows within the touched key range) instead of O(source):
    * matched-only merges (SQL UPDATE/DELETE find-sets, CDC guarded
    * updates) drop the rest entirely, insert-bearing merges route it
    * map-side. Sound by the same invariant as file pruning: clusterBy ⊆
    * keys, cluster values non-null ([[requireClusterable]]), so a
    * matched pair shares its cluster tuple and an out-of-every-box tuple
    * has no match; prune-to-touched equals prune-to-all-files for batch
    * rows (a file overlapping any batch tuple IS touched), and the
    * semi/anti pair partitions the batch exactly. */
  private[graft] def pruneSourceToBoxes(s: SparkSession, batch: DataFrame,
      files: Seq[DataFileEntry], clusterBy: Seq[String],
      columnMap: Map[String, String], complement: Boolean = false): DataFrame = {
    if (files.isEmpty) return if (complement) batch else batch.limit(0)
    val intervals =
      boxIntervalFrame(s, files, clusterBy, columnMap).drop("path")
    val cond = clusterBy.zipWithIndex
      .map { case (c, i) =>
        batch(c) >= intervals(s"mn_$i") && batch(c) <= intervals(s"mx_$i") }
      .reduce(_ && _)
    batch.join(broadcast(intervals), cond,
      if (complement) "left_anti" else "left_semi")
  }

  /** Test-only fault injection: runs immediately before every commit
    * attempt in [[mergeUpsert]] — a spec installs a competing commit here
    * to force a deterministic CAS loss. */
  @volatile private[graft] var testPrecommitHook: () => Unit = () => ()

  /** Probe instrumentation (ScaleProbe `cas_contention`): merge commit
    * outcome counters — first-attempt wins, conflict-scoped fast-path
    * re-commits (same files, zero recompute), CAS losses, and full
    * replays (files dropped, merge recomputed). Atomics off every hot
    * decision path; read only by probes/specs. */
  private[graft] object casStats {
    import java.util.concurrent.atomic.AtomicLong
    val slowWins = new AtomicLong
    val fastWins = new AtomicLong
    val casLosses = new AtomicLong
    val fullReplays = new AtomicLong
    def reset(): Unit =
      Seq(slowWins, fastWins, casLosses, fullReplays).foreach(_.set(0L))
    def snapshot(): Map[String, Long] = Map(
      "slow_wins" -> slowWins.get, "fast_wins" -> fastWins.get,
      "cas_losses" -> casLosses.get, "full_replays" -> fullReplays.get)
  }

  /** MERGE INTO `table` USING `batch` ON `keys`. Default clauses: WHEN
    * MATCHED THEN UPDATE ALL (incoming row wins whole) / WHEN NOT MATCHED
    * THEN INSERT ALL. The batch must be key-unique (the standard MERGE
    * precondition; a multi-match is rejected, as `MERGE INTO` proper
    * does). Returns true if a new version committed, false if `txn` was
    * already applied.
    *
    * Conditional clauses (the `WHEN MATCHED AND <cond>` surface):
    *
    *  - `matchedCondition` — a SQL boolean over aliases `s` (the batch
    *    row) and `t` (the matched table row), e.g.
    *    `"s.ts > t.ts"`: a matched pair failing it keeps the OLD row
    *    untouched (the CDC late-arrival guard). Unmatched batch rows
    *    still insert.
    *  - `updateCols` — non-empty = PARTIAL update: a passing matched row
    *    takes only these columns from the batch, every other column
    *    keeps the table's value (the incremental-enrichment shape:
    *    update a score without clobbering provenance columns). Must not
    *    name merge keys; inserts always INSERT ALL, with nulls for
    *    table columns the batch lacks.
    *  - `matchedDeleteCondition` — `WHEN MATCHED AND <cond> THEN
    *    DELETE`: a matched pair passing it is DROPPED from the table
    *    (the CDC tombstone / cleanup-on-redelivery shape). The delete
    *    clause is evaluated FIRST (as in `MERGE INTO`, clause order
    *    decides); survivors then flow through the update clause. A
    *    delete-ONLY merge (no matchedCondition, no updateCols) leaves
    *    non-deleted matched rows UNTOUCHED — it does not silently
    *    become a last-writer-wins update.
    *  - `insertCondition` — `WHEN NOT MATCHED AND <cond> THEN INSERT`:
    *    an unmatched batch row failing it is silently ignored (the
    *    admission-gate shape). `s.` columns only — there is no matched
    *    table row to reference. As with every other explicit clause, it
    *    REPLACES the update-all default: an insert-guard-only merge
    *    leaves matched rows untouched (pass `matchedCondition =
    *    Some("true")` to also update them).
    *  - `notMatchedBySourceDeleteCondition` — `WHEN NOT MATCHED BY
    *    SOURCE AND <cond> THEN DELETE`: a TABLE row with no batch match
    *    passing it is dropped (the full-sync shape: the batch is the
    *    truth, stale target rows go). `t.` columns only; `Some("true")`
    *    = unconditional.
    *  - `notMatchedBySourceSet` + `notMatchedBySourceCondition` — `WHEN
    *    NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET col = expr`:
    *    an unmatched table row passing the (optional) guard rewrites
    *    the named columns from `t.`-only expressions (the
    *    mark-as-stale shape). Must not name merge keys. The NMBS
    *    delete clause is evaluated first; survivors flow to the SET.
    *
    * SCALE contract: the two `notMatchedBySource*` clauses quantify
    * over rows ABSENT from the batch, which can live in any file — a
    * merge carrying them therefore reads and rewrites EVERY live file
    * (O(table), exactly as `MERGE INTO` proper), not the pruned
    * O(touched) of the other clauses. Use them for genuine full-sync
    * semantics, never as a general update mechanism; the conflict-
    * scoped fast CAS retry is also off for them (any concurrent add
    * carries rows the clause never evaluated).
    *
    * `clusterBy` names the clustering columns (typed stats + range
    * clustering + file pruning); each must be one of the merge keys.
    */
  /** FULL-REPLACE commit — the physical form behind `SaveMode.Overwrite`,
    * SQL `INSERT OVERWRITE`, streaming Complete mode and the
    * replicator's reset swap: `batch` becomes the table's ENTIRE new
    * state in one transaction, the previous file set retiring wholesale
    * with NO join against it. Cost is O(batch write); the equivalent
    * unconditional NMBS merge pays a full-outer join over
    * table ∪ batch and rewrites every file anyway — at 100 TB that
    * join is the difference between "write the new state" and "read
    * the old state too".
    *
    * Semantics match the unconditional full-sync merge exactly: the
    * batch must be key-unique; the schema follows the additive
    * evolution rules (existing columns the batch lacks stay in the
    * schema, all-null in the new state — dropping them would be a
    * narrowing, which needs an explicit migration); column mapping is
    * honored; time travel still serves every pre-overwrite version;
    * the txn watermark makes a crash-replayed batch a no-op. The CAS
    * retry is trivially valid at ANY head — replace does not depend on
    * prior state (last-writer-wins wholesale, exactly what overwrite
    * means) — so a lost race re-commits the SAME files against the new
    * head, zero recompute. */
  def replaceAll(
      s: SparkSession,
      table: String,
      batch: DataFrame,
      keys: Seq[String],
      clusterBy: Seq[String],
      targetRowsPerFile: Long = 4096,
      txn: Option[(String, Long)] = None,
      maxAttempts: Int = 20): Boolean = {
    require(clusterBy.nonEmpty && clusterBy.forall(keys.contains),
      s"clusterBy ${clusterBy.mkString("(", ",", ")")} must be a subset of " +
        s"the merge keys ${keys.mkString("(", ",", ")")}")
    var preconditionsChecked = false
    // the written file set is STATE-INDEPENDENT — reusable across CAS
    // retries as long as the head's schema/mapping stayed put AND the
    // head's CHECK-constraint set equals the one the files were
    // validated under (a concurrent ADD CONSTRAINT must force a re-stage
    // through the gate, or unvalidated rows would publish under an
    // "enforced" constraint)
    var written: Option[(Seq[DataFileEntry], String, Map[String, String],
      Map[String, String])] = None
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snapshot = latestManifest(table)
      val replayed = (snapshot, txn) match {
        case (Some(m), Some((writer, v))) => m.txns.get(writer).exists(_ >= v)
        case _ => false
      }
      if (replayed) return false
      snapshot.foreach { m =>
        require(m.keys == keys && m.clusterBy == clusterBy,
          s"table $table is keyed ${m.keys.mkString(",")} clustered " +
            s"${m.clusterBy.mkString(",")}; an overwrite with different " +
            "keys/clustering needs an explicit migration")
      }
      if (!preconditionsChecked) {
        requireClusterable(batch, clusterBy, "OVERWRITE batch",
          rowCheck = false)
        val r = batch.select(keys.map(col): _*)
          .groupBy(keys.map(col): _*).count()
          .agg(coalesce(max(col("count")), lit(0L)),
            coalesce(max(when(badClusterCond(batch.schema, clusterBy),
              1L).otherwise(0L)), lit(0L)))
          .collect()(0)
        require(r.getLong(1) == 0L, badClusterMsg(clusterBy, "OVERWRITE batch"))
        require(r.getLong(0) <= 1L,
          s"OVERWRITE batch is not key-unique on ${keys.mkString(",")} — " +
            "a key with multiple rows has no deterministic winner")
        preconditionsChecked = true
      }
      // additive schema evolution + column mapping: identical rules to
      // MERGE (old columns stay, new columns widen, retyping rejected,
      // retired physicals never resurrect)
      val headMap = snapshot.map(_.columnMap).getOrElse(Map.empty)
      val retired = snapshot.map(_.retiredPhysical).getOrElse(Seq.empty)
      val tableSchema = snapshot
        .map(m => DataType.fromJson(m.schemaJson).asInstanceOf[StructType])
      tableSchema.foreach { ts =>
        batch.schema.fields.foreach { f =>
          ts.find(_.name == f.name).foreach { existing =>
            require(existing.dataType == f.dataType,
              s"column ${f.name}: batch type ${f.dataType} != table type " +
                s"${existing.dataType} — retyping needs an explicit migration")
          }
        }
      }
      val schema = tableSchema match {
        case None => batch.schema
        case Some(ts) => StructType(ts.fields ++
          batch.schema.fields.filterNot(f => ts.exists(_.name == f.name)))
      }
      val columnMap = tableSchema match {
        case None => headMap
        case Some(ts) =>
          val usedPhysical =
            (ts.fields.map(f => physOf(headMap, f.name)) ++
              headMap.values ++ retired)
              .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
          val newFields = schema.fields.filterNot(f => ts.exists(_.name == f.name))
          headMap ++ newFields.collect {
            case f if usedPhysical.contains(
                f.name.toLowerCase(java.util.Locale.ROOT)) =>
              f.name -> s"${f.name}_p${java.util.UUID.randomUUID().toString.take(8)}"
          }
      }
      val headConstraints = snapshot.map(_.constraints).getOrElse(Map.empty)
      val reusable = written.exists { case (_, sj, cm, cons) =>
        sj == schema.json && cm == columnMap && cons == headConstraints }
      if (!reusable) {
        val (_, files) = writeClusteredFiles(table,
          withAllColumns(batch, schema), clusterBy, targetRowsPerFile,
          columnMap, headConstraints,
          snapshot.map(_.properties).getOrElse(Map.empty))
        written = Some((files, schema.json, columnMap, headConstraints))
      }
      val newFiles = written.get._1
      val removes = snapshot.map(_.files.map(_.path).sorted).getOrElse(Seq.empty)
      val newTxns = snapshot.map(_.txns).getOrElse(Map.empty) ++
        txn.map { case (w, v) => w -> v }
      testPrecommitHook()
      if (commitVersion(table, snapshot.map(_.version + 1).getOrElse(0L),
        schema.json, keys, clusterBy, newFiles, removes,
        newTxns, newFiles, columnMap, retired,
        snapshot.map(_.constraints).getOrElse(Map.empty),
        snapshot.map(_.properties).getOrElse(Map.empty))) return true
      // CAS lost: the loop re-reads the head; the files re-commit as-is
    }
    sys.error(s"replaceAll on $table lost the version CAS $maxAttempts " +
      "times — sustained concurrent commit traffic")
  }

  def mergeUpsert(
      s: SparkSession,
      table: String,
      batch: DataFrame,
      keys: Seq[String],
      clusterBy: Seq[String],
      targetRowsPerFile: Long = 4096,
      txn: Option[(String, Long)] = None,
      maxAttempts: Int = 20,
      matchedCondition: Option[String] = None,
      updateCols: Seq[String] = Seq.empty,
      matchedDeleteCondition: Option[String] = None,
      insertCondition: Option[String] = None,
      notMatchedBySourceDeleteCondition: Option[String] = None,
      notMatchedBySourceSet: Map[String, String] = Map.empty,
      notMatchedBySourceCondition: Option[String] = None): Boolean = {
    require(updateCols.forall(c => !keys.contains(c)),
      s"updateCols ${updateCols.mkString(",")} must not name merge keys — " +
        "a matched pair's key values are equal by definition")
    updateCols.foreach(c => require(batch.columns.contains(c),
      s"updateCols column '$c' is not a batch column"))
    require(notMatchedBySourceCondition.isEmpty || notMatchedBySourceSet.nonEmpty,
      "notMatchedBySourceCondition guards the SET clause — it needs a " +
        "non-empty notMatchedBySourceSet")
    val anyExplicit = matchedCondition.nonEmpty || updateCols.nonEmpty ||
      matchedDeleteCondition.nonEmpty || insertCondition.nonEmpty ||
      notMatchedBySourceDeleteCondition.nonEmpty || notMatchedBySourceSet.nonEmpty
    // the legacy single-clause-per-kind surface, expressed as clause
    // lists: the delete clause is evaluated FIRST (its documented
    // contract), then the update clause; `updateCols` is an identity SET
    // from the source row; an absent insertCondition inserts everything
    // (the SQL front end passes Some("false") for "no insert clause")
    val (matchedClauses, insertClauses, nmbsClauses) =
      if (!anyExplicit)
        (Seq(MergeClause(None, UpdateSet(Map.empty))),
          Seq(InsertClause(None, Map.empty)),
          Seq.empty[MergeClause])
      else {
        val m = matchedDeleteCondition.map(c =>
          MergeClause(Some(c), DeleteRow)).toSeq ++
          (if (matchedCondition.nonEmpty || updateCols.nonEmpty)
            Seq(MergeClause(matchedCondition,
              UpdateSet(updateCols.map(c => c -> s"s.`$c`").toMap)))
          else Seq.empty)
        val nm = Seq(InsertClause(insertCondition, Map.empty))
        val ns = notMatchedBySourceDeleteCondition.map(c =>
          MergeClause(Some(c), DeleteRow)).toSeq ++
          (if (notMatchedBySourceSet.nonEmpty)
            Seq(MergeClause(notMatchedBySourceCondition,
              UpdateSet(notMatchedBySourceSet)))
          else Seq.empty)
        (m, nm, ns)
      }
    merge(s, table, batch, keys, clusterBy, matchedClauses, insertClauses,
      nmbsClauses, targetRowsPerFile, txn, maxAttempts)
  }

  // ---- generalized MERGE clause surface -----------------------------------

  /** One `WHEN MATCHED [AND cond]` / `WHEN NOT MATCHED BY SOURCE [AND
    * cond]` action. */
  sealed trait MergeAction
  /** `UPDATE SET <col> = <SQL expression>`; an EMPTY map means `UPDATE
    * SET *` (every non-key column takes the source row's value). A
    * matched clause's expressions may reference both sides (`t.` = the
    * table row, `s.` = the batch row — `t.cnt + s.cnt` accumulates); a
    * not-matched-by-source clause's expressions `t.` only (there is no
    * source row). Merge keys must not be assigned — rekeying a row is a
    * delete + insert, not an update. */
  case class UpdateSet(set: Map[String, String]) extends MergeAction
  case object DeleteRow extends MergeAction
  /** One ordered `WHEN MATCHED` / `WHEN NOT MATCHED BY SOURCE` clause;
    * `condition = None` is unconditional. Clauses evaluate in list order
    * with FIRST-MATCH-WINS per row, exactly SQL MERGE's statement-order
    * contract. */
  case class MergeClause(condition: Option[String], action: MergeAction)
  /** One ordered `WHEN NOT MATCHED [AND cond] THEN INSERT` clause; an
    * EMPTY set means `INSERT *`. A non-empty set must assign every merge
    * key as IDENTITY (`s.<key>` — the engine's key-unique table model
    * pins an inserted row's key to the batch row it came from); value
    * expressions reference `s.` only; unlisted non-key columns insert as
    * typed NULLs (SQL column-list semantics). */
  case class InsertClause(condition: Option[String], set: Map[String, String])

  /** A concurrent commit invalidated a find-phase-derived batch (SQL
    * UPDATE/DELETE evaluate their SET/WHERE against one pinned snapshot);
    * the caller must re-run its find phase against the new head. */
  class ConcurrentMergeException(msg: String) extends RuntimeException(msg)

  /** The full `MERGE INTO` clause surface over one transactional commit:
    * ordered `WHEN MATCHED` clauses (UPDATE SET with arbitrary
    * expressions, or DELETE), ordered `WHEN NOT MATCHED` INSERT clauses
    * (column lists with arbitrary source-side expressions), and ordered
    * `WHEN NOT MATCHED BY SOURCE` clauses — first-match-wins in list
    * order per row, the SQL statement-order contract. See
    * [[mergeUpsert]] for the commit/retry/pruning machinery this shares
    * (same loop, same conflict-scoped CAS fast path, same additive schema
    * evolution) and for the conditional-clause semantics each action
    * inherits.
    *
    * `requireVersion` pins the head version the batch was DERIVED from
    * (the SQL UPDATE/DELETE find phase): a head that moved past it —
    * before the first attempt or after a CAS loss the conflict-scoped
    * fast path cannot absorb — throws [[ConcurrentMergeException]]
    * instead of silently committing values computed from a stale read
    * (the lost-update guard). */
  def merge(
      s: SparkSession,
      table: String,
      batch: DataFrame,
      keys: Seq[String],
      clusterBy: Seq[String],
      matched: Seq[MergeClause] = Seq.empty,
      notMatched: Seq[InsertClause] = Seq.empty,
      notMatchedBySource: Seq[MergeClause] = Seq.empty,
      targetRowsPerFile: Long = 4096,
      txn: Option[(String, Long)] = None,
      maxAttempts: Int = 20,
      requireVersion: Option[Long] = None): Boolean = {
    require(keys.nonEmpty, "merge keys must be non-empty")
    matched.foreach {
      case MergeClause(_, UpdateSet(set)) =>
        set.keys.foreach(c => require(!keys.exists(_.equalsIgnoreCase(c)),
          s"UPDATE SET must not assign merge key '$c' — rekeying a row " +
            "is a delete + insert, not an update"))
      case _ => ()
    }
    notMatchedBySource.foreach {
      case MergeClause(_, UpdateSet(set)) =>
        require(set.nonEmpty,
          "WHEN NOT MATCHED BY SOURCE UPDATE assigns nothing")
        set.keys.foreach(c => require(!keys.exists(_.equalsIgnoreCase(c)),
          s"NOT MATCHED BY SOURCE SET must not assign merge key '$c'"))
      case _ => ()
    }
    // an inserted row's key must be the batch row's key (identity): the
    // engine's key-uniqueness and file pruning both assume a merge's
    // incoming keys are exactly the batch's keys — `INSERT (k) VALUES
    // (s.k + 1000)` could collide with a key in a file the merge never
    // read
    def isIdentity(e: String, k: String): Boolean = {
      val norm = e.replace("`", "").trim
      norm.equalsIgnoreCase(k) || norm.equalsIgnoreCase(s"s.$k")
    }
    notMatched.foreach { c =>
      if (c.set.nonEmpty) keys.foreach { k =>
        val assigned = c.set.collectFirst {
          case (n, e) if n.equalsIgnoreCase(k) => e }
        require(assigned.exists(isIdentity(_, k)),
          s"INSERT column list must assign merge key '$k' as identity " +
            s"(s.`$k`); got: ${assigned.getOrElse("<missing>")}")
      }
    }
    // rows absent from the batch can live in ANY file: a merge carrying a
    // not-matched-by-source clause reads and rewrites the whole table
    val nmbs = notMatchedBySource.nonEmpty
    // pruning soundness: a file is skipped when no batch CLUSTER tuple
    // falls in its box — valid only if a matched old row's cluster
    // values EQUAL the batch row's, i.e. every cluster column is part of
    // the match key. And the stats/pruning arithmetic needs non-null
    // comparable values: a null (or NaN) cluster value would silently
    // prune wrong (missed matches → duplicate keys).
    require(clusterBy.nonEmpty && clusterBy.forall(keys.contains),
      s"clusterBy ${clusterBy.mkString("(", ",", ")")} must be a subset of " +
        s"the merge keys ${keys.mkString("(", ",", ")")} — file pruning " +
        "assumes a matched row's cluster values equal the batch row's")
    // the SCAN-shaped preconditions run once, AFTER the first replay
    // check below — a replayed (already-applied) streaming batch must
    // no-op without paying two full batch-plan executions first
    var preconditionsChecked = false
    var batchBoxMemo: Option[Option[Map[String, ColStat]]] = None
    // SINGLE-PASS preconditions: the source pipeline executes ONCE — a
    // narrow key projection pinned via localCheckpoint — and the dup-key
    // check, the cluster null/NaN check, the touched-file probe, the
    // prune gates and the CAS-retry key box all read the pinned frame.
    // For an expensive source (the common case at scale: a joined or
    // deduplicated staging pipeline) this removes three of the four
    // full-source recomputes the merge used to pay; the two prune reads
    // still evaluate the source (they must produce payload columns).
    // The pin is UNCONDITIONAL. A size gate was tried (skip the
    // checkpoint below the broadcast threshold, on the theory that a
    // small source re-scans cheaper than it materializes) and measured
    // ~2× SLOWER end-to-end on small-source merge chains: a small
    // frame's localCheckpoint is nearly free — one execution plus an
    // in-memory block write — while skipping it re-runs the whole
    // source pipeline once per consumer (precondition aggregate,
    // touched probe, CAS key box), and for small sources the fixed
    // per-job overhead of those re-runs dominates everything the gate
    // saved. Cheap at the bottom, necessary at the top: always pin.
    var keyFrameMemo: Option[DataFrame] = None
    var batchKeyRows = -1L // exact source row count, from the pinned pass
    def keyFrame: DataFrame = keyFrameMemo.getOrElse {
      val kf = batch.select(keys.map(col): _*).localCheckpoint()
      keyFrameMemo = Some(kf); kf
    }

    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snapshot = latestManifest(table)
      // replay guard FIRST, against the freshest manifest
      val replayed = (snapshot, txn) match {
        case (Some(m), Some((writer, v))) => m.txns.get(writer).exists(_ >= v)
        case _ => false
      }
      if (replayed) return false
      // lost-update guard: the batch was derived from requireVersion's
      // snapshot; a moved head means its SET/WHERE evaluated stale rows
      requireVersion.foreach { rv =>
        val have = snapshot.map(_.version).getOrElse(-1L)
        if (have != rv) throw new ConcurrentMergeException(
          s"$table is at v$have, batch was derived from v$rv — " +
            "a concurrent commit landed; re-run the find phase")
      }
      snapshot.foreach { m =>
        require(m.keys == keys && m.clusterBy == clusterBy,
          s"table $table is keyed ${m.keys.mkString(",")} clustered " +
            s"${m.clusterBy.mkString(",")}; a merge with different " +
            "keys/clustering needs an explicit migration")
      }
      if (!preconditionsChecked) {
        // schema/type half is driver-side; the row-level scans fold into
        // ONE aggregation job over the pinned key frame: total rows (the
        // prune size gate), max per-key multiplicity (key uniqueness)
        // and the cluster null/NaN check (cluster ⊆ keys, and grouping
        // preserves null/NaN key values as their own groups)
        requireClusterable(batch, clusterBy, "MERGE source", rowCheck = false)
        val r = keyFrame.groupBy(keys.map(col): _*).count()
          .agg(coalesce(sum(col("count")), lit(0L)),
            coalesce(max(col("count")), lit(0L)),
            coalesce(max(when(badClusterCond(keyFrame.schema, clusterBy),
              1L).otherwise(0L)), lit(0L)))
          .collect()(0)
        batchKeyRows = r.getLong(0)
        require(r.getLong(2) == 0L, badClusterMsg(clusterBy, "MERGE source"))
        require(r.getLong(1) <= 1L,
          s"MERGE source is not key-unique on ${keys.mkString(",")} — " +
            "a key with multiple source rows has no deterministic winner")
        preconditionsChecked = true
      }

      val existingFiles = snapshot.map(_.files).getOrElse(Seq.empty)
      val headMap = snapshot.map(_.columnMap).getOrElse(Map.empty)
      val retired = snapshot.map(_.retiredPhysical).getOrElse(Seq.empty)
      val (touched, batchHasOutsideRows) =
        if (nmbs) (existingFiles.map(_.path).toSet, false) // O(table) by semantics
        else touchedPathsWithCoverage(s, existingFiles, keyFrame, clusterBy,
          headMap)
      // SOURCE-SIDE pushdown ([[pruneSourceToBoxes]]): for any non-NMBS
      // merge, only the rows whose cluster tuple falls in SOME touched
      // box can match — they alone feed the merge join (joinBatch). The
      // provably-unmatched complement either drops (matched-only merge:
      // its only outcome is "no action") or routes MAP-SIDE straight to
      // the insert clauses (insertBatch), bypassing the join shuffle —
      // the append-mostly conditional merge stops paying a full-outer
      // join over rows that could never match.
      //
      // Two gates keep the prune from being pure overhead at small
      // scale: (a) the boxes already cover the full batch key range —
      // the complement is provably empty, the probe showed it for free;
      // (b) the source is below the broadcast threshold — it joins
      // broadcast-cheap anyway, and two extra source evaluations cost
      // more than the join they'd shrink.
      val sourceBigEnough =
        batchKeyRows * estRowBytes(batch.schema) > pruneMinBytes(s)
      val canPruneSource = !nmbs && touched.nonEmpty && batchHasOutsideRows &&
        sourceBigEnough
      recordSourcePrune(table,
        if (canPruneSource) "applied"
        else if (nmbs) "nmbs"
        else if (touched.isEmpty) "no-touched-files"
        else if (!batchHasOutsideRows) "skipped-coverage"
        else "skipped-size")
      val touchedFiles = existingFiles.filter(f => touched.contains(f.path))
      val joinBatch =
        if (canPruneSource)
          pruneSourceToBoxes(s, batch, touchedFiles, clusterBy, headMap)
        else batch
      // rows that bypass the join; None = nothing bypasses (either no
      // pruning applied, or a matched-only merge where they just drop)
      val insertBatch: Option[DataFrame] =
        if (canPruneSource && notMatched.nonEmpty)
          Some(pruneSourceToBoxes(s, batch, touchedFiles, clusterBy,
            headMap, complement = true))
        else None

      // ADDITIVE schema evolution: a batch may carry columns the table has
      // never seen — they join the schema, and rows from files written
      // before the widening read back with nulls (parquet name-based
      // reads fill declared-but-absent columns with null, so OLD files
      // are never rewritten for a schema change). Dropping or retyping a
      // column is rejected — those need an explicit migration.
      val tableSchema = snapshot
        .map(m => DataType.fromJson(m.schemaJson).asInstanceOf[StructType])
      tableSchema.foreach { ts =>
        batch.schema.fields.foreach { f =>
          ts.find(_.name == f.name).foreach { existing =>
            require(existing.dataType == f.dataType,
              s"column ${f.name}: batch type ${f.dataType} != table type " +
                s"${existing.dataType} — retyping needs an explicit migration")
          }
        }
      }
      val schema = tableSchema match {
        case None => batch.schema
        case Some(ts) => StructType(ts.fields ++
          batch.schema.fields.filterNot(f => ts.exists(_.name == f.name)))
      }
      // COLUMN MAPPING: a widening batch's NEW column defaults to an
      // identity physical name — unless that name is already a physical
      // in use or retired (a column of this name was renamed away or
      // dropped earlier), in which case old files still carry bytes
      // under it and an identity mapping would resurrect them. Such a
      // column takes a fresh unique physical name instead.
      val columnMap = tableSchema match {
        case None => headMap
        case Some(ts) =>
          // CASE-INSENSITIVE collision check: parquet name resolution is
          // case-insensitive under Spark's default, so a new column
          // differing from a retired physical only by case would still
          // read the old bytes out of pre-drop files
          val usedPhysical =
            (ts.fields.map(f => physOf(headMap, f.name)) ++
              headMap.values ++ retired)
              .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
          val newFields = schema.fields.filterNot(f => ts.exists(_.name == f.name))
          headMap ++ newFields.collect {
            case f if usedPhysical.contains(
                f.name.toLowerCase(java.util.Locale.ROOT)) =>
              f.name -> s"${f.name}_p${java.util.UUID.randomUUID().toString.take(8)}"
          }
      }
      // the canonical unguarded upsert (UPDATE SET * / INSERT *, nothing
      // else) takes the non-conditional fast path below — no full-outer
      // join, one left-anti + union
      val conditional =
        !(matched == Seq(MergeClause(None, UpdateSet(Map.empty))) &&
          notMatched == Seq(InsertClause(None, Map.empty)) &&
          notMatchedBySource.isEmpty)
      // a NULL-valued predicate (SQL three-valued logic) must read
      // "clause does not apply", never poison a filter or a branch
      def holds(cond: Option[String]): Column =
        cond.map(c => coalesce(expr(c), lit(false))).getOrElse(lit(true))
      (matched ++ notMatchedBySource).foreach {
        case MergeClause(_, UpdateSet(set)) => set.keys.foreach(c =>
          require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
            s"UPDATE SET column '$c' is not a table column"))
        case _ => ()
      }
      notMatched.foreach(c => c.set.keys.foreach(n =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(n)),
          s"INSERT column '$n' is not a table column")))
      // clause-scope validation — ALWAYS, including the insert-only
      // branch (a fresh table's FIRST merge must reject a bad clause,
      // not defer the failure to batch 2 mid-pipeline): NMBS predicates
      // and SET expressions may reference only the table row (`t.`),
      // the insert guard only the batch row (`s.`). Each expression
      // must resolve (a) against its own side — a cross-side reference
      // fails here with the clause named — and (b) against the JOINED
      // shape, where an unqualified name present on both sides is
      // ambiguous; catching that here replaces an opaque planner
      // AMBIGUOUS_REFERENCE from deep inside the join with the same
      // clause-named error. All frames are limit(0)/empty: analysis
      // only, no job runs.
      if (conditional) {
        val valSrc = withAllColumns(batch.limit(0), schema).alias("s")
        val valTgt = s.createDataFrame(
          new java.util.ArrayList[Row](), schema).alias("t")
        val valJoined = valSrc.join(valTgt,
          keys.map(k => col(s"s.$k") === col(s"t.$k")).reduce(_ && _),
          "full_outer")
        def resolves(what: String, side: DataFrame, e: String): Unit =
          try { side.select(expr(e)); valJoined.select(expr(e)); () }
          catch { case ex: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"$what '$e' does not resolve unambiguously against its " +
                s"clause's side (${ex.getMessage})")
          }
        // matched-clause expressions see BOTH sides (validated against
        // the joined shape alone); insert clauses the batch row only;
        // NMBS clauses the table row only — a cross-side reference fails
        // here with the clause named, not as an opaque planner error
        matched.foreach { c =>
          c.condition.foreach(resolves("matched condition", valJoined, _))
          c.action match {
            case UpdateSet(set) => set.values.foreach(
              resolves("UPDATE SET expression", valJoined, _))
            case DeleteRow => ()
          }
        }
        notMatched.foreach { c =>
          c.condition.foreach(resolves("insert condition", valSrc, _))
          c.set.values.foreach(resolves("INSERT expression", valSrc, _))
        }
        notMatchedBySource.foreach { c =>
          c.condition.foreach(
            resolves("not-matched-by-source condition", valTgt, _))
          c.action match {
            case UpdateSet(set) => set.values.foreach(
              resolves("NOT MATCHED BY SOURCE SET expression", valTgt, _))
            case DeleteRow => ()
          }
        }
      }
      // first-match-wins: nested when-chains in clause (= statement)
      // order — the first clause whose guard holds decides the row
      def chain(cs: Seq[(Option[String], Column)], default: Column): Column =
        cs.foldRight(default) { case ((cond, v), acc) =>
          when(holds(cond), v).otherwise(acc) }
      /** Rows KNOWN to have no target match (an empty touched set, or the
        * box-prune complement): only the insert clauses can apply — the
        * same first-holding-clause projection the join's tAbsent branch
        * computes, without the join. */
      def insertOnlyFrame(frame: DataFrame): DataFrame = {
        val ins = withAllColumns(frame, schema).alias("s")
        if (!conditional) ins
        else {
          val applies = notMatched.map(c => holds(c.condition))
            .foldLeft(lit(false))(_ || _)
          val outCols = schema.fields.map { f =>
            val sCol = col(s"s.${f.name}")
            def insValue(set: Map[String, String]): Column =
              if (set.isEmpty) sCol // INSERT *
              else set.collectFirst {
                case (c, e) if c.equalsIgnoreCase(f.name) =>
                  expr(e).cast(f.dataType)
              }.getOrElse(lit(null).cast(f.dataType))
            chain(notMatched.map(c => c.condition -> insValue(c.set)), sCol)
              .as(f.name)
          }
          ins.where(applies).select(outCols.toSeq: _*)
        }
      }
      val merged =
        if (touched.isEmpty) {
          // no matched and no target-only rows exist; only the insert
          // clauses can apply
          insertOnlyFrame(batch)
        } else {
          // DV-aware: a touched file's already-deleted rows must not
          // resurrect into the rewrite
          val old = readFiles(s, table, schema,
            existingFiles.filter(f => touched.contains(f.path)), columnMap)
          if (!conditional) {
            // the anti-join only removes old rows whose key appears in
            // the batch; keys outside every box can't equal an old row's
            // key, so the (much smaller) box-pruned side feeds the
            // distinct — the batch itself lands whole
            val incomingKeys = joinBatch.select(keys.map(col): _*).distinct()
            withAllColumns(batch, schema)
              .unionByName(old.join(incomingKeys, keys, "left_anti"))
          } else {
            // one full-outer pass builds all outcomes: delete (the row's
            // FIRST holding matched/NMBS clause is a DELETE — filtered
            // out), insert (no target row, first holding insert clause's
            // column list), update (first holding matched clause's SET,
            // arbitrary expressions over t and s), keep-old (no clause
            // held). Presence is tracked with explicit markers, never
            // key-null tests (keys may legitimately be absent only on
            // one side). An empty matched list leaves matched rows
            // byte-untouched, exactly as SQL MERGE: a merge specifying
            // only insert/NMBS clauses must NOT silently become
            // last-writer-wins on matched rows.
            val src = withAllColumns(joinBatch, schema)
              .withColumn("__s_present", lit(true)).alias("s")
            val tgt = old.withColumn("__t_present", lit(true)).alias("t")
            val keyCond = keys.map(k => col(s"s.$k") === col(s"t.$k")).reduce(_ && _)
            val tAbsent = col("__t_present").isNull
            val sAbsent = col("__s_present").isNull
            val matchedIsDelete = chain(matched.map(c =>
              c.condition -> lit(c.action == DeleteRow)), lit(false))
            val nmbsIsDelete = chain(notMatchedBySource.map(c =>
              c.condition -> lit(c.action == DeleteRow)), lit(false))
            val insertApplies = notMatched.map(c => holds(c.condition))
              .foldLeft(lit(false))(_ || _)
            val dropMatched = !tAbsent && !sAbsent && matchedIsDelete
            val dropNmbs = sAbsent && !tAbsent && nmbsIsDelete
            val dropInsert = tAbsent && !insertApplies
            val outCols = schema.fields.map { f =>
              val n = f.name
              val sCol = col(s"s.$n"); val tCol = col(s"t.$n")
              def setValue(set: Map[String, String]): Option[Column] =
                set.collectFirst { case (c, e) if c.equalsIgnoreCase(n) =>
                  expr(e).cast(f.dataType) }
              def updValue(a: MergeAction): Column = a match {
                case DeleteRow => tCol // row dropped by the filter
                case UpdateSet(set) if set.isEmpty => sCol // UPDATE SET *
                case UpdateSet(set) => setValue(set).getOrElse(tCol)
              }
              def insValue(set: Map[String, String]): Column =
                if (set.isEmpty) sCol // INSERT *
                else setValue(set).getOrElse(lit(null).cast(f.dataType))
              val matchedVal = chain(matched.map(c =>
                c.condition -> updValue(c.action)), tCol)
              val nmbsVal = chain(notMatchedBySource.map(c =>
                c.condition -> updValue(c.action)), tCol)
              val insertVal = chain(notMatched.map(c =>
                c.condition -> insValue(c.set)), sCol)
              when(tAbsent, insertVal) // not matched: insert
                .when(sAbsent, nmbsVal) // not matched by source
                .otherwise(matchedVal) // matched
                .as(n)
            }
            val joined = src.join(tgt, keyCond, "full_outer")
              .where(!dropMatched && !dropNmbs && !dropInsert)
              .select(outCols.toSeq: _*)
            // the box-prune complement bypasses the join: provably
            // unmatched, it takes the insert projection map-side
            insertBatch.fold(joined)(ob =>
              joined.unionByName(insertOnlyFrame(ob)))
          }
        }

      val (commitId, newFiles) =
        writeClusteredFiles(table, merged, clusterBy, targetRowsPerFile,
          columnMap, snapshot.map(_.constraints).getOrElse(Map.empty),
          snapshot.map(_.properties).getOrElse(Map.empty))
      val untouched = existingFiles.filterNot(f => touched.contains(f.path))
      val newTxns = snapshot.map(_.txns).getOrElse(Map.empty) ++
        txn.map { case (w, v) => w -> v }
      testPrecommitHook()
      if (commitVersion(table, snapshot.map(_.version + 1).getOrElse(0L),
        schema.json, keys, clusterBy, newFiles, touched.toSeq.sorted,
        newTxns, untouched ++ newFiles, columnMap, retired,
        snapshot.map(_.constraints).getOrElse(Map.empty),
        snapshot.map(_.properties).getOrElse(Map.empty))) {
        casStats.slowWins.incrementAndGet(); return true
      }
      casStats.casLosses.incrementAndGet()

      // ---- lost the version CAS ------------------------------------------
      // CONFLICT-SCOPED retry first: our delta (adds = newFiles, removes =
      // touched) is still valid against the winner's head iff (a) no
      // intervening commit removed a file we rewrote (they rewrote a key
      // we may also carry), (b) no intervening ADD's stats box overlaps
      // our batch's key box (the winner may have inserted a key our merge
      // also inserts → duplicate), and (c) no schema/txn conflict. Then
      // the SAME data files re-commit at the new head — zero recompute.
      // the NMBS fast-path arm never reads the box (it gates on
      // addedSinceBase.isEmpty alone) — don't run the batch min/max
      // aggregation job for it on a CAS loss
      if (batchBoxMemo.isEmpty && !nmbs)
        batchBoxMemo = Some(batchBox(keyFrame, clusterBy))
      lazy val box = batchBoxMemo.get
      val basePaths = existingFiles.map(_.path).toSet
      val baseByPath = existingFiles.map(f => f.path -> f).toMap
      var fastViable = true
      var fastDone = false
      // each fast-path CAS loss consumes the SAME attempt budget as the
      // outer replay loop — under sustained disjoint commit traffic the
      // merge fail-stops at maxAttempts instead of retrying unboundedly
      while (fastViable && !fastDone && attempt < maxAttempts) {
        attempt += 1
        val head = latestManifest(table).getOrElse(
          sys.error(s"commit race on $table with no committed head"))
        val headReplayed = txn.exists { case (w, v) =>
          head.txns.get(w).exists(_ >= v) }
        if (headReplayed) { deleteDir(Paths.get(table, "data", commitId)); return false }
        val headSchema = DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
        val schemaOk = schema.fields.forall(f =>
          headSchema.find(_.name == f.name).forall(_.dataType == f.dataType))
        val headByPath = head.files.map(f => f.path -> f).toMap
        val addedSinceBase = head.files.filterNot(f => basePaths.contains(f.path))
        // a touched file must be UNCHANGED at the head — same entry, not
        // just same path: a winner's deletion-vector commit keeps the
        // path but changes the entry, and re-committing our rewrite of
        // the PRE-DV bytes would resurrect the winner's deleted rows
        val touchedUnchanged =
          touched.forall(p => headByPath.get(p).contains(baseByPath(p)))
        fastViable = schemaOk &&
          head.keys == keys && head.clusterBy == clusterBy &&
          // a winner's metadata-only rename/drop keeps every path (no
          // adds) but changes the mapping our files were written under —
          // re-committing them with OUR map would clobber the rename
          head.columnMap == headMap && head.retiredPhysical == retired &&
          // a winner's ADD CONSTRAINT changes the write gate: our files
          // were validated under the OLD set, so re-committing them at
          // this head would publish rows the new constraint never saw —
          // fall to the full replay, whose re-stage re-runs the gate
          head.constraints == snapshot.map(_.constraints)
            .getOrElse(Map.empty) &&
          touchedUnchanged &&
          // an NMBS merge quantifies over ABSENT keys: a winner's added
          // file can carry rows the clause never evaluated even when it
          // misses the batch box entirely — only a pure metadata/txn
          // commit (no adds at all) keeps the fast path sound
          (if (nmbs) addedSinceBase.isEmpty
           else !addedSinceBase.exists(f =>
             box.exists(b => boxesOverlap(clusterBy, b, f, headMap))))
        if (fastViable) {
          val mergedSchema = StructType(headSchema.fields ++
            schema.fields.filterNot(f => headSchema.exists(_.name == f.name)))
          val resolved = head.files.filterNot(f => touched.contains(f.path)) ++ newFiles
          fastDone = commitVersion(table, head.version + 1, mergedSchema.json,
            keys, clusterBy, newFiles, touched.toSeq.sorted,
            head.txns ++ txn.map { case (w, v) => w -> v }, resolved,
            columnMap, retired, head.constraints, head.properties)
          if (fastDone) { casStats.fastWins.incrementAndGet(); return true }
          casStats.casLosses.incrementAndGet()
          // another writer won again — loop: re-evaluate against newer head
        }
      }
      // real overlap: drop this attempt's files and replay the merge
      // against the winner's snapshot
      casStats.fullReplays.incrementAndGet()
      deleteDir(Paths.get(table, "data", commitId))
    }
    sys.error(s"merge into $table lost the commit race $maxAttempts times")
  }

  /** Every cluster column must exist with a supported type and be
    * non-null (and non-NaN for float/double) in every row. */
  /** The null/NaN predicate over `clusterBy` that [[requireClusterable]]
    * scans for — exposed so the merge path can fold the same check into
    * its one-pass precondition aggregate. */
  private def badClusterCond(schema: StructType,
      clusterBy: Seq[String]): Column =
    clusterBy.map { c =>
      schema(c).dataType match {
        case FloatType | DoubleType => col(c).isNull || isnan(col(c))
        case _ => col(c).isNull
      }
    }.reduce(_ || _)

  private def badClusterMsg(clusterBy: Seq[String], what: String): String =
    s"$what: cluster columns ${clusterBy.mkString(",")} must be non-null " +
      "(and non-NaN) in every row (they are the file-pruning statistics)"

  /** `rowCheck = false` runs only the driver-side schema/type half — the
    * caller folds the row-level null/NaN scan into a shared aggregation
    * pass over its pinned key frame ([[badClusterCond]]). */
  private def requireClusterable(df: DataFrame, clusterBy: Seq[String],
      what: String, rowCheck: Boolean = true): Unit = {
    clusterBy.foreach { c =>
      require(df.columns.contains(c), s"$what: cluster column '$c' missing")
      // decimals are stats-indexable (generalized skipping) but NOT
      // cluster keys: the pruning join's interval frame and the JVM
      // re-injection don't carry precision/scale
      require(!df.schema(c).dataType.isInstanceOf[DecimalType],
        s"$what: cluster column '$c' is decimal — use an integral/" +
          "string/timestamp key (decimals still get skipping stats)")
      statTag(df.schema(c).dataType) // throws on unsupported types
    }
    if (rowCheck) {
      val bad = df.where(badClusterCond(df.schema, clusterBy)).limit(1).count()
      require(bad == 0, badClusterMsg(clusterBy, what))
    }
  }

  /** `df` widened to `schema`'s full column set (missing columns as typed
    * nulls, order normalized) — the incoming half of additive schema
    * evolution: a batch written BEFORE a later batch added a column, or a
    * batch missing an existing optional column, lands with nulls. */
  private def withAllColumns(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)

  /** Write `df` as one range-clustered file set under `data/<commitId>`
    * and return (commitId, manifest entries with per-file cluster-key
    * stats). localCheckpoint pins the sampled range boundaries so the
    * stats pass and the file write see the SAME partitioning (the
    * token-budget discipline). Shared by MERGE, DELETE and OPTIMIZE — one
    * writer, one stats discipline.
    */
  private def writeClusteredFiles(
      table: String, df: DataFrame, clusterBy: Seq[String],
      targetRowsPerFile: Long,
      columnMap: Map[String, String] = Map.empty,
      // no defaults — see writeStaged
      constraints: Map[String, String],
      properties: Map[String, String]): (String, Seq[DataFileEntry]) = {
    // checkpoint the MERGED frame before counting: count() would
    // otherwise execute the full plan (touched-file reads + anti join)
    // once, and the range-repartition below a second time — doubling
    // every commit's I/O on the streaming hot path
    val pinned = df.localCheckpoint()
    try {
      val n = pinned.count()
      val nFiles = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      writeStaged(table,
        pinned.repartitionByRange(nFiles, clusterBy.map(c => col(c).asc): _*),
        clusterBy, columnMap, constraints, properties)
    } finally org.apache.spark.sql.graftbridge.Bridge
      .unpersistLocalCheckpoint(pinned)
  }

  /** Write the staged frame (one file per range partition) and derive the
    * per-file typed stats from the SAME pinned partitioning. */
  /** Is physical column `phys` a single NON-NULL value across this whole
    * file, with no deletion vector? The per-file state the identity-split
    * layout produces and the grouped aggregate pushdown requires — shared
    * so [[optimize]]'s incremental SPLIT BY and the manifest's grouped
    * answers can never disagree about what "already split" means. */
  private[graft] def isPointFor(e: DataFileEntry, phys: String,
      tag: String): Boolean = {
    val p = phys.toLowerCase(java.util.Locale.ROOT)
    e.dv.isEmpty &&
      e.nullCounts.collectFirst {
        case (k, v) if k.toLowerCase(java.util.Locale.ROOT) == p => v
      }.contains(0L) &&
      e.stats.collectFirst {
        case (k, v) if k.toLowerCase(java.util.Locale.ROOT) == p => v
      }.exists(cs => cs.t == tag && cs.min == cs.max)
  }

  /** Distinct-value cap for [[optimize]]'s `splitBy` — the identity-split
    * layout is for LOW-cardinality columns (a file set per value). */
  val MaxSplitValues = 1024
  /** Total-file cap for one split rewrite (Σ ceil(rows_v/target)). */
  val MaxSplitFiles = 16384

  /** Stage the IDENTITY-SPLIT layout: route every row to a partition
    * owned by exactly one `(value tuple of cs, sub-file)` pair, so each
    * written file's box for EVERY split column is a POINT. One bounded
    * `groupBy(cs).count()` collect sizes the plan (cardinality-capped,
    * loud); routing is the exact hash-preimage exchange
    * ([[Layout.hashPreimages]]); files keep the cluster-key sort
    * inside. */
  private def stageSplitBy(s: SparkSession, table: String, frag: DataFrame,
      cs: Seq[String], snapshot: TableManifest,
      targetRowsPerFile: Long): (String, Seq[DataFileEntry]) = {
    import scala.jdk.CollectionConverters._
    val pinned = frag.localCheckpoint()
    try {
      // the collect is BOUNDED BEFORE it runs: limit(cap + 1) means an
      // accidental high-cardinality tuple pulls at most cap+1 count
      // rows to the driver and fails loudly — never millions of distinct
      // values ahead of the check
      val counts = pinned.groupBy(cs.map(col): _*).count()
        .limit(MaxSplitValues + 1).collect()
      // zero VISIBLE rows in the drifted candidates (every row deletion-
      // vector-masked): there is nothing to route — return an empty adds
      // list, and the caller's commit retires the fully-deleted files
      // (hashPreimages(0) would otherwise throw on a legitimate state)
      if (counts.isEmpty)
        return (java.util.UUID.randomUUID().toString.take(12), Seq.empty)
      require(counts.length <= MaxSplitValues,
        s"OPTIMIZE SPLIT BY ${cs.mkString(",")}: more than " +
          s"$MaxSplitValues distinct value tuples — the identity-split " +
          "layout is for low-cardinality columns (dates, tenants, " +
          "shards); higher cardinality wants ZORDER BY")
      // contiguous partition index ranges per tuple: (values, base, width)
      var base = 0
      val routes = counts.map { r =>
        val k = math.max(1L,
          (r.getLong(cs.size) + targetRowsPerFile - 1) / targetRowsPerFile)
          .toInt
        val e = (cs.indices.map(r.get), base, k); base += k; e
      }
      val total = base
      require(total <= MaxSplitFiles,
        s"OPTIMIZE SPLIT BY ${cs.mkString(",")} would write $total files " +
          s"(cap $MaxSplitFiles) — raise targetRowsPerFile")
      val pre = graft.ops.Layout.hashPreimages(total)
      val schema = DataType.fromJson(snapshot.schemaJson)
        .asInstanceOf[StructType]
      val vFields = cs.zipWithIndex.map { case (c, i) =>
        StructField(s"__split_v_$i", schema(c).dataType) }
      val dict = s.createDataFrame(
        routes.map { case (vs, b, k) => Row(vs ++ Seq(b, k): _*) }
          .toSeq.asJava,
        StructType(vFields ++ Seq(
          StructField("__split_base", IntegerType, nullable = false),
          StructField("__split_k", IntegerType, nullable = false))))
      val preDict = s.createDataFrame(
        pre.zipWithIndex.map { case (p, i) => Row(i, p) }.toSeq.asJava,
        StructType(Seq(
          StructField("__split_route", IntegerType, nullable = false),
          StructField("__split_pre", LongType, nullable = false))))
      // value tuple → its partition range (null-safe: a NULL is a value),
      // sub-file by key hash (keys are non-null by the cluster contract),
      // route → preimage, ONE exchange, per-partition cluster-key sort
      val joinCond = cs.zipWithIndex.map { case (c, i) =>
        pinned(c) <=> dict(s"__split_v_$i") }.reduce(_ && _)
      val staged = pinned
        .join(broadcast(dict), joinCond)
        .withColumn("__split_route", col("__split_base") +
          pmod(hash(snapshot.keys.map(col): _*), col("__split_k")))
        .join(broadcast(preDict), "__split_route")
        .repartition(total, col("__split_pre"))
        .sortWithinPartitions(snapshot.clusterBy.map(col): _*)
        .drop(vFields.map(_.name) ++ Seq("__split_base", "__split_k",
          "__split_route", "__split_pre"): _*)
      writeStaged(table, staged, snapshot.clusterBy, snapshot.columnMap,
        snapshot.constraints, snapshot.properties)
    } finally org.apache.spark.sql.graftbridge.Bridge
      .unpersistLocalCheckpoint(pinned)
  }

  private def writeStaged(
      table: String, toStage: DataFrame,
      logicalClusterBy: Seq[String],
      columnMap: Map[String, String] = Map.empty,
      // NO defaults here, mirroring commitVersion's rule: a new write
      // path that forgot these would compile and silently skip the
      // CHECK gate / the declared bloom contract
      constraints: Map[String, String],
      properties: Map[String, String]): (String, Seq[DataFileEntry]) = {
    // files are written — and their stats keyed — under PHYSICAL names,
    // so a later metadata-only rename never invalidates a single byte of
    // data or statistics (the incoming frame is logical-named)
    val stagedLogical = toStage.localCheckpoint()
    val staged = stagedLogical.select(stagedLogical.schema.fields.map(f =>
      col(f.name).as(physOf(columnMap, f.name))).toSeq: _*)
    val clusterBy = logicalClusterBy.map(c => physOf(columnMap, c))
    try {
      // CHECK-constraint enforcement — the ONE rule every data-file
      // write obeys: no file is ever published whose rows violate a
      // declared constraint. ONE aggregate pass over the already-pinned
      // frame (all constraints in one job, reading the checkpoint
      // blocks), BEFORE any parquet is written — a violating batch
      // aborts with nothing staged and the commit loop untouched
      // (atomic rejection); ANY failure here (violation, executor loss,
      // an ANSI runtime error inside a predicate) unwinds through the
      // enclosing finally, so the checkpoint blocks never leak.
      // Violation = predicate FALSE; NULL passes (the SQL standard).
      // Rewrite paths (OPTIMIZE, split) re-check rows that already
      // passed — redundant by construction (addConstraint validated the
      // whole table) and cheap next to the rewrite itself, but it keeps
      // the rule unconditional.
      if (constraints.nonEmpty) {
        val ordered = constraints.toSeq.sortBy(_._1)
        val checks = ordered.map { case (n, e) =>
          sum(when(not(expr(e)), 1L).otherwise(0L)).as(n)
        }
        val row = stagedLogical.select(checks: _*).collect()(0)
        ordered.zipWithIndex.foreach { case ((n, e), i) =>
          val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
          if (bad > 0) throw new IllegalStateException(
            s"CHECK constraint '$n' (CHECK ($e)) violated by $bad staged " +
              s"row(s) on $table — commit aborted, nothing published")
        }
      }
      val commitId = java.util.UUID.randomUUID().toString.take(12)
      val rel = s"data/$commitId"
      staged.write.mode("overwrite").parquet(s"$table/$rel")
      // per-partition stats keyed by partition id; partition i wrote the
      // file whose name parses to part index i (empty partitions write
      // no file and emit no stats group — both sides skip them).
      // GENERALIZED skipping stats: min/max + null count for EVERY
      // stats-indexed column (cluster columns first, then supported-type
      // columns up to [[StatsColumnCap]]) in ONE aggregate pass over the
      // already-pinned staged frame — a predicate on any indexed column
      // prunes files, not just cluster-key predicates. Soundness edges:
      //  - all-null column in a file → NO min/max entry (its null count
      //    says all-null; value predicates prune, IsNull keeps);
      //  - a float/double column containing NaN in a file → NO min/max
      //    entry for that file (Spark orders NaN largest, so [min,max]
      //    over non-NaN values would wrongly prune `c > huge`); cluster
      //    columns can't hit either edge (requireClusterable).
      val idxCols = statsIndexedColumns(staged.schema, clusterBy)
      val dts = idxCols.map(c => staged.schema(c).dataType)
      val floaty = dts.map {
        case FloatType | DoubleType => true
        case _ => false
      }
      // exact-summable domains ([[sumWideType]]): try_sum (never plain
      // sum) so a decimal-input overflow yields NULL — the entry is
      // simply omitted and SUM pushdown refuses — instead of an ANSI
      // runtime error failing the WRITE over a statistic.
      val sumType: Seq[Option[DecimalType]] = dts.map(sumWideType)
      // OPT-IN min/max ledgers: k smallest / largest values per column
      // per file (see [[DataFileEntry.bottomK]]). Bounded top-k
      // accumulators (Spark's own BoundedPriorityQueue collect) keep the
      // agg buffer at O(k) per (file, column) REGARDLESS of file size —
      // an externally-written million-row file costs the same buffer as
      // a 4096-row one. The flag defaults OFF so the write path pays
      // nothing unless a table opts in.
      val ledgerK = staged.sparkSession.conf
        .getOption("spark.graft.stats.ledgerK").map(_.trim.toInt)
        .getOrElse(0)
      val aggsB = Seq.newBuilder[Column]
      val off = new Array[Int](idxCols.size)
      val ledOff = new Array[Int](idxCols.size)
      var pos = 0 // positions within the agg output, AFTER the pid key
      idxCols.indices.foreach { i =>
        off(i) = pos
        val c = col(idxCols(i))
        aggsB += min(c).as(s"mn_$i") += max(c).as(s"mx_$i") +=
          count(c).as(s"nn_$i")
        pos += 3
        // floaty and summable are disjoint, so position base+3 is
        // unambiguous per column (NaN flag OR sum, never both)
        if (floaty(i)) { aggsB += max(isnan(c)).as(s"nan_$i"); pos += 1 }
        sumType(i).foreach { wide =>
          aggsB += try_sum(c.cast(wide)).as(s"sm_$i"); pos += 1
        }
        if (ledgerK > 0) {
          ledOff(i) = pos
          aggsB += array_sort(org.apache.spark.sql.graftbridge.Bridge.boundedTopK(c, ledgerK,
            reverse = true)).as(s"lo_$i")
          aggsB += reverse(array_sort(org.apache.spark.sql.graftbridge.Bridge.boundedTopK(c, ledgerK,
            reverse = false))).as(s"hi_$i")
          pos += 2
        }
      }
      aggsB += count(lit(1)).as("cnt")
      val cntPos = pos
      val aggs = aggsB.result()
      val stats = staged
        .select(spark_partition_id().as("pid") +: idxCols.map(col): _*)
        .groupBy(col("pid"))
        .agg(aggs.head, aggs.tail: _*)
        .collect().map { r =>
          val cnt = r.getLong(1 + cntPos)
          val statsB = Map.newBuilder[String, ColStat]
          val nullsB = Map.newBuilder[String, Long]
          val sumsB = Map.newBuilder[String, String]
          val botB = Map.newBuilder[String, Seq[String]]
          val topB = Map.newBuilder[String, Seq[String]]
          idxCols.indices.foreach { i =>
            val base = 1 + off(i)
            val nonNull = r.getLong(base + 2)
            nullsB += idxCols(i) -> (cnt - nonNull)
            val hasNaN = floaty(i) && !r.isNullAt(base + 3) &&
              r.getBoolean(base + 3)
            if (nonNull > 0 && !hasNaN)
              statsB += idxCols(i) -> ColStat(statTag(dts(i)),
                renderStat(dts(i), r.get(base)),
                renderStat(dts(i), r.get(base + 1)))
            if (sumType(i).nonEmpty && nonNull > 0 && !r.isNullAt(base + 3))
              sumsB += idxCols(i) ->
                r.getDecimal(base + 3).toPlainString
            // ledgers share the stats gates (non-empty, NaN-free)
            if (ledgerK > 0 && nonNull > 0 && !hasNaN) {
              val lb = 1 + ledOff(i)
              botB += idxCols(i) ->
                r.getSeq[Any](lb).map(v => renderStat(dts(i), v))
              topB += idxCols(i) ->
                r.getSeq[Any](lb + 1).map(v => renderStat(dts(i), v))
            }
          }
          r.getInt(0) -> ((statsB.result(), nullsB.result(), cnt,
            sumsB.result(), botB.result(), topB.result()))
        }.toMap
      val newFiles = {
        val stream = Files.list(Paths.get(table, "data", commitId))
        try stream.iterator().asScala
          .map(_.getFileName.toString)
          .filter(f => f.startsWith("part-") && f.endsWith(".parquet"))
          .toSeq.sorted
        finally stream.close()
      }.flatMap { f =>
        val idx = f.stripPrefix("part-").takeWhile(_.isDigit).toInt
        stats.get(idx).map { case (m, nulls, cnt, sums, bot, top) =>
          DataFileEntry(s"$rel/$f", cnt, m, nullCounts = nulls,
            bytes = Files.size(Paths.get(table, "data", commitId, f)),
            sums = sums, bottomK = bot, topK = top)
        }
      }
      // OPT-IN per-file bloom point indexes: one extra map-side pass
      // over the SAME pinned frame (no shuffle — the partition that
      // wrote part-<pid> builds its blooms), one side dataset per
      // commit, every entry stamped with the ref. Opt-in = the table's
      // declared `graft.stats.bloomCols` property (beats the session
      // conf) or the session conf. Neither set → zero cost.
      val bloomCols = BloomIndex.indexedColumns(
        staged.sparkSession, staged.schema, columnMap, properties)
      val withBloom =
        if (bloomCols.isEmpty || newFiles.isEmpty) newFiles
        else {
          val (expected, fpp) =
            BloomIndex.sizing(staged.sparkSession, properties)
          val pathOfPid = newFiles.map { e =>
            val name = e.path.split('/').last
            name.stripPrefix("part-").takeWhile(_.isDigit).toInt -> e.path
          }.toMap
          val relOfPath = BloomIndex.writeBlooms(staged, bloomCols,
            expected, fpp, table, commitId, pathOfPid)
          if (relOfPath.isEmpty) newFiles
          else newFiles.map(e => e.copy(bloom = relOfPath.get(e.path)))
        }
      (commitId, withBloom)
    } finally org.apache.spark.sql.graftbridge.Bridge
      .unpersistLocalCheckpoint(stagedLogical)
  }

  /** Keyed DELETE — the right-to-be-forgotten sweep: remove every row
    * whose merge key appears in `delKeys`, touching ONLY the files whose
    * cluster-key box overlaps the delete set (same pruning as MERGE).
    * Returns the number of rows deleted; replay-safe via the same txn
    * watermark.
    *
    * Two physical strategies:
    *
    *  - `deletionVectors = false` (copy-on-write): touched files are
    *    REWRITTEN without the deleted rows — O(touched files + list).
    *    Right when the purge clusters into few files.
    *  - `deletionVectors = true` (merge-on-read): touched files keep
    *    their bytes; the commit records each file's deleted POSITIONS in
    *    a parquet (path, pos) dataset applied at read time. Commit cost
    *    is O(list) — the positions themselves — no data-file rewrite at
    *    all. Right for the realistic GDPR shape: a purge list scattered
    *    across the key space touches MOST files, and copy-on-write would
    *    degenerate to a near-full table rewrite. [[optimize]] later
    *    rewrites DV-heavy files and retires their vectors.
    */
  def mergeDelete(
      s: SparkSession,
      table: String,
      delKeys: DataFrame,
      targetRowsPerFile: Long = 4096,
      txn: Option[(String, Long)] = None,
      maxAttempts: Int = 20,
      deletionVectors: Boolean = false,
      requireVersion: Option[Long] = None): Long = {
    var boxMemo: Option[Option[Map[String, ColStat]]] = None
    // the purge-list pipeline executes ONCE: the pinned frame feeds the
    // row-level precondition, the touched probe, the box prune and the
    // delete joins (same single-pass discipline — and the same
    // unconditional pin; see keyFrame's note on the measured-and-
    // rejected size gate — as mergeUpsert's keyFrame)
    var pinnedKeysMemo: Option[DataFrame] = None
    def pinnedKeys: DataFrame = pinnedKeysMemo.getOrElse {
      val p = delKeys.localCheckpoint(); pinnedKeysMemo = Some(p); p
    }
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snapshot = latestManifest(table)
        .getOrElse(sys.error(s"no committed version under $table"))
      val replayed = txn.exists { case (w, v) => snapshot.txns.get(w).exists(_ >= v) }
      if (replayed) return 0L
      // lost-update guard (SQL DELETE derives its key set from one
      // pinned snapshot's WHERE scan — see merge's requireVersion)
      requireVersion.foreach { rv =>
        if (snapshot.version != rv) throw new ConcurrentMergeException(
          s"$table is at v${snapshot.version}, delete keys were derived " +
            s"from v$rv — a concurrent commit landed; re-run the find phase")
      }

      val keys = snapshot.keys
      val clusterBy = snapshot.clusterBy
      val headMap = snapshot.columnMap
      val retired = snapshot.retiredPhysical
      if (attempt == 1)
        requireClusterable(pinnedKeys, clusterBy, "DELETE key set")
      val (touched, keysOutsideBoxes) = touchedPathsWithCoverage(
        s, snapshot.files, pinnedKeys, clusterBy, headMap)
      // SOURCE-SIDE pushdown (delete form): a key outside every touched
      // box deletes nothing — drop it before the semi/anti join, so a
      // scattered purge list joins O(keys within the touched range).
      // Gated on coverage: a list whose every key sits inside a touched
      // box has an empty complement, and the prune join is pure overhead
      // (no size gate — the pinned list re-reads checkpoint-cheap).
      val canPrune = touched.nonEmpty && keysOutsideBoxes
      recordSourcePrune(table,
        if (canPrune) "applied"
        else if (touched.isEmpty) "no-touched-files"
        else "skipped-coverage")
      val effDelKeys =
        if (!canPrune) pinnedKeys
        else pruneSourceToBoxes(s, pinnedKeys,
          snapshot.files.filter(f => touched.contains(f.path)), clusterBy,
          headMap)

      /** Metadata-only commit: same files, bumped version, watermark
        * advanced — the txn watermark must be recorded even when nothing
        * matched, or a crash-replay of this batch after a concurrent
        * writer lands the keys would re-run the delete against data the
        * original run never saw (the exactly-once contract). Returns
        * true when the caller can return 0. */
      def commitNoop(): Boolean = txn match {
        case None => true // untracked caller: a true zero-cost no-op
        case Some((w, v)) =>
          commitVersion(table, snapshot.version + 1, snapshot.schemaJson,
            keys, clusterBy, Seq.empty, Seq.empty,
            snapshot.txns + (w -> v), snapshot.files, headMap, retired,
            snapshot.constraints, snapshot.properties)
      }

      def delKeyBox(): Option[Map[String, ColStat]] = {
        if (boxMemo.isEmpty) boxMemo = Some(batchBox(
          pinnedKeys.select(clusterBy.map(col): _*), clusterBy))
        boxMemo.get
      }

      /** Conflict-scoped CAS retry shared by both strategies: our delta
        * stays valid against the winner's head iff every file we changed
        * is byte- AND entry-identical at the head (same path is NOT
        * enough — a winner's DV commit keeps the path but changes the
        * entry, and re-committing ours would drop the winner's
        * positions), and no intervening ADD's box overlaps the delete-key
        * box (a freshly inserted matching key must be deleted by a
        * REPLAYED delete, not silently survive). Returns Some(true) =
        * committed, Some(false) = replayed-elsewhere (caller returns 0),
        * None = real conflict or budget exhausted. */
      def fastRetry(changed: Seq[DataFileEntry], adds: Seq[DataFileEntry],
          removes: Seq[String]): Option[Boolean] = {
        val baseByPath = snapshot.files.map(f => f.path -> f).toMap
        val basePaths = baseByPath.keySet
        var fastViable = true
        // bounded like the outer loop — see mergeUpsert's fast path
        while (fastViable && attempt < maxAttempts) {
          attempt += 1
          val head = latestManifest(table).getOrElse(
            sys.error(s"commit race on $table with no committed head"))
          val headReplayed = txn.exists { case (w, v) =>
            head.txns.get(w).exists(_ >= v) }
          if (headReplayed) return Some(false)
          val headByPath = head.files.map(f => f.path -> f).toMap
          val addedSinceBase = head.files.filterNot(f => basePaths.contains(f.path))
          fastViable = head.schemaJson == snapshot.schemaJson &&
            head.keys == keys && head.clusterBy == clusterBy &&
            head.columnMap == headMap && head.retiredPhysical == retired &&
            changed.forall(e => headByPath.get(e.path).contains(e)) &&
            !addedSinceBase.exists(f =>
              delKeyBox().exists(b => boxesOverlap(clusterBy, b, f, headMap)))
          if (fastViable) {
            val rm = removes.toSet
            val resolved = head.files.filterNot(f => rm.contains(f.path)) ++ adds
            if (commitVersion(table, head.version + 1, head.schemaJson,
              keys, clusterBy, adds, removes,
              head.txns ++ txn.map { case (w, v) => w -> v }, resolved,
              headMap, retired, head.constraints, head.properties))
              return Some(true)
          }
        }
        None
      }

      if (touched.isEmpty) {
        if (commitNoop()) return 0L
      } else if (deletionVectors) {
        // ---- merge-on-read: record positions, rewrite nothing ------------
        val schema = DataType.fromJson(snapshot.schemaJson).asInstanceOf[StructType]
        val touchedEntries = snapshot.files.filter(f => touched.contains(f.path))
        // the masked rows' per-column DELTA stats ride the same pinned
        // frame as the (path, pos) dataset: null counts for every
        // stats-indexed column, exact sums for the summable ones — what
        // keeps COUNT/SUM/AVG pushdown exact under merge-on-read deletes
        val idxCols = statsIndexedColumns(schema, clusterBy)
        val idxTypes = idxCols.map(c => schema(c).dataType)
        val marked = readFilesWithPosition(s, table, schema, touchedEntries,
          headMap)
          .join(effDelKeys.select(keys.map(col): _*).distinct(), keys, "left_semi")
          .select(Seq(col("__dv_path").as("path"),
            col("__dv_pos").as("pos")) ++ idxCols.map(col): _*)
        // pin before the stats pass — the per-file counts and the dataset
        // write must see the same rows (the writeClusteredFiles discipline)
        val pinned = marked.localCheckpoint()
        try {
          // opt-in min/max ledgers: when a touched entry carries one,
          // also record the masked rows' extreme-value PREFIXES (the ≤k
          // smallest / largest masked non-null values per column,
          // bounded by the largest ledger on any touched file) — what
          // lets min/max pushdown subtract exactly
          // ([[DataFileEntry.bottomK]] design note)
          val ledgerCap: Int = touchedEntries.flatMap(e =>
            e.bottomK.values.map(_.size) ++ e.topK.values.map(_.size))
            .maxOption.getOrElse(0)
          val ledgered: Set[String] = touchedEntries.flatMap(e =>
            e.bottomK.keySet ++ e.topK.keySet)
            .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
          def hasLedger(c: String): Boolean = ledgerCap > 0 &&
            ledgered.contains(
              physOf(headMap, c).toLowerCase(java.util.Locale.ROOT))
          val deltaAggsB = Seq.newBuilder[Column]
          deltaAggsB += count(lit(1)).as("cnt")
          idxCols.zipWithIndex.foreach { case (c, i) =>
            deltaAggsB += count(col(c)).as(s"nn_$i")
            sumWideType(idxTypes(i)).foreach(w =>
              deltaAggsB += try_sum(col(c).cast(w)).as(s"sm_$i"))
            if (hasLedger(c)) {
              deltaAggsB += array_sort(org.apache.spark.sql.graftbridge.Bridge.boundedTopK(col(c),
                ledgerCap, reverse = true)).as(s"lo_$i")
              deltaAggsB += reverse(array_sort(org.apache.spark.sql.graftbridge.Bridge.boundedTopK(col(c),
                ledgerCap, reverse = false))).as(s"hi_$i")
            }
          }
          val deltaAggs = deltaAggsB.result()
          // per file: deleted-row count, per-column deleted-null counts
          // (cnt − non-null), exact deleted sums, and (ledgered columns)
          // the masked extreme-value prefixes — keyed PHYSICAL like
          // every other per-file stat
          case class DvDelta(cnt: Long, nulls: Map[String, Long],
              sums: Option[Map[String, String]],
              bot: Map[String, Seq[String]], top: Map[String, Seq[String]])
          val deltas: Map[String, DvDelta] = pinned.groupBy(col("path"))
            .agg(deltaAggs.head, deltaAggs.tail: _*)
            .collect().map { r =>
              val cnt = r.getLong(1)
              var pos = 2
              val nullsB = Map.newBuilder[String, Long]
              val sumsB = Map.newBuilder[String, String]
              val botB = Map.newBuilder[String, Seq[String]]
              val topB = Map.newBuilder[String, Seq[String]]
              var sumsExact = true
              idxCols.zipWithIndex.foreach { case (c, i) =>
                val phys = physOf(headMap, c)
                nullsB += phys -> (cnt - r.getLong(pos)); pos += 1
                if (sumWideType(idxTypes(i)).nonEmpty) {
                  // null here = every deleted row null in c (record the
                  // explicit zero — presence signals exactness) OR a
                  // decimal overflow in the delta fold (refuse: without
                  // the exact delta the visible sum is unknowable)
                  val nonNull = r.getLong(pos - 1)
                  if (r.isNullAt(pos)) {
                    if (nonNull == 0L) sumsB += phys -> "0"
                    else sumsExact = false
                  } else sumsB += phys -> r.getDecimal(pos).toPlainString
                  pos += 1
                }
                if (hasLedger(c)) {
                  botB += phys -> r.getSeq[Any](pos)
                    .map(v => renderStat(idxTypes(i), v)); pos += 1
                  topB += phys -> r.getSeq[Any](pos)
                    .map(v => renderStat(idxTypes(i), v)); pos += 1
                }
              }
              r.getString(0) -> DvDelta(cnt, nullsB.result(),
                if (sumsExact) Some(sumsB.result()) else None,
                botB.result(), topB.result())
            }.toMap
          val perFile = deltas.map { case (p, d) => p -> d.cnt }
          if (perFile.isEmpty) {
            if (commitNoop()) return 0L
          } else {
            val changed = touchedEntries.filter(f => perFile.contains(f.path))
            // fold each changed file's PREVIOUS positions into the new
            // dataset, so one pointer per file always holds ALL of its
            // deletions (the invariant the union-apply read rests on).
            // Each prior dir contributes ONLY the paths whose CURRENT
            // pointer is that dir: a path's older dirs hold strict
            // subsets of its current one, and folding them too would
            // duplicate pairs superlinearly under repeated scattered
            // deletes — the exact workload this mode exists for
            val prior = changed.filter(_.dv.nonEmpty)
            val priorSides = prior.groupBy(_.dv.get).toSeq.map { case (d, es) =>
              s.read.schema(DvSchema).parquet(s"$table/$d")
                .where(col("path").isin(es.map(_.path): _*))
            }
            val allPairs = priorSides
              .foldLeft(pinned.select(col("path"), col("pos")))(_ unionByName _)
            val dvId = java.util.UUID.randomUUID().toString.take(12)
            val dvRel = s"dv/$dvId"
            // bounded file count; the dataset is O(accumulated deletions)
            allPairs.coalesce(8).write.mode("overwrite")
              .parquet(s"$table/$dvRel")
            // accumulate the masked-row delta maps — exactness carries
            // only when the PREVIOUS state was exact too: a fresh DV
            // starts from zero; maps covering the expected column set
            // accumulate; a legacy DV'd entry (maps absent) stays
            // unknown, and the aggregate answer keeps refusing for it
            val expectNulls = idxCols.map(c =>
              physOf(headMap, c).toLowerCase(java.util.Locale.ROOT)).toSet
            val expectSums = idxCols.zipWithIndex.collect {
              case (c, i) if sumWideType(idxTypes(i)).nonEmpty =>
                physOf(headMap, c).toLowerCase(java.util.Locale.ROOT)
            }.toSet
            def lowerKeys[A](m: Map[String, A]): Set[String] =
              m.keySet.map(_.toLowerCase(java.util.Locale.ROOT))
            def baseExact(f: DataFileEntry): Boolean = f.dv.isEmpty ||
              (expectNulls.subsetOf(lowerKeys(f.dvNulls)) &&
                expectSums.subsetOf(lowerKeys(f.dvSums)))
            // prior masked-prefix soundness per column: a fresh DV
            // starts empty; an existing recorded prefix accumulates; an
            // ABSENT prefix under an existing DV is sound ONLY when the
            // prior masked rows provably held no value in the column
            // (dvRows − dvNulls = 0) — otherwise the column's history is
            // unknown, the entry stays absent, and min/max keep refusing
            def priorLed(f: DataFileEntry, led: Map[String, Seq[String]],
                physC: String): Option[Seq[String]] =
              if (f.dv.isEmpty) Some(Seq.empty)
              else led.collectFirst {
                case (k, v) if k.equalsIgnoreCase(physC) => v
              }.orElse {
                f.dvNulls.collectFirst {
                  case (k, v) if k.equalsIgnoreCase(physC) => v
                }.collect { case n if f.dvRows - n == 0L => Seq.empty[String] }
              }
            // merge two sorted masked prefixes, keep the k most extreme
            def mergeLed(tag: String, a: Seq[String], b: Seq[String],
                k: Int, asc: Boolean): Seq[String] = {
              def lt(x: String, y: String): Boolean = {
                val le = statLeq(tag, x, y); val ge = statLeq(tag, y, x)
                if (asc) le && !ge else ge && !le
              }
              (a ++ b).sortWith(lt).take(k)
            }
            def accLed(f: DataFileEntry,
                own: Map[String, Seq[String]], prior: Map[String, Seq[String]],
                delta: Map[String, Seq[String]], asc: Boolean)
                : Map[String, Seq[String]] =
              own.flatMap { case (pc, lv) =>
                for {
                  tag <- f.stats.collectFirst {
                    case (k, v) if k.equalsIgnoreCase(pc) => v.t }
                  p <- priorLed(f, prior, pc)
                  dl <- delta.collectFirst {
                    case (k, v) if k.equalsIgnoreCase(pc) => v }
                } yield pc -> mergeLed(tag, p, dl, lv.size, asc)
              }
            val adds = changed.map { f =>
              val d = deltas(f.path)
              val (nulls2, sums2, bot2, top2) =
                if (!baseExact(f)) (Map.empty[String, Long],
                  Map.empty[String, String], Map.empty[String, Seq[String]],
                  Map.empty[String, Seq[String]])
                else {
                  val n2 = d.nulls.map { case (k, v) =>
                    k -> (v + f.dvNulls.collectFirst {
                      case (bk, bv) if bk.equalsIgnoreCase(k) => bv
                    }.getOrElse(0L))
                  }
                  val s2 = d.sums match {
                    case None => Map.empty[String, String] // delta overflow
                    case Some(ds) => ds.map { case (k, v) =>
                      val base = f.dvSums.collectFirst {
                        case (bk, bv) if bk.equalsIgnoreCase(k) => bv
                      }.getOrElse("0")
                      k -> new java.math.BigDecimal(v)
                        .add(new java.math.BigDecimal(base)).toPlainString
                    }
                  }
                  (n2, s2,
                    accLed(f, f.bottomK, f.dvBottom, d.bot, asc = true),
                    accLed(f, f.topK, f.dvTop, d.top, asc = false))
                }
              f.copy(dv = Some(dvRel), dvRows = f.dvRows + perFile(f.path),
                dvNulls = nulls2, dvSums = sums2,
                dvBottom = bot2, dvTop = top2)
            }
            val removes = changed.map(_.path).sorted
            val deletedCount = perFile.values.sum
            val untouched = snapshot.files.filterNot(f => perFile.contains(f.path))
            testPrecommitHook()
            if (commitVersion(table, snapshot.version + 1, snapshot.schemaJson,
              keys, clusterBy, adds, removes,
              snapshot.txns ++ txn.map { case (w, v) => w -> v },
              untouched ++ adds, headMap, retired,
              snapshot.constraints,
          snapshot.properties)) return deletedCount
            fastRetry(changed, adds, removes) match {
              case Some(true) => return deletedCount
              case Some(false) =>
                deleteDir(Paths.get(table, dvRel)); return 0L
              case None => deleteDir(Paths.get(table, dvRel))
            }
          }
        } finally org.apache.spark.sql.graftbridge.Bridge
          .unpersistLocalCheckpoint(pinned)
      } else {
        // ---- copy-on-write: rewrite the touched files --------------------
        val schema = DataType.fromJson(snapshot.schemaJson).asInstanceOf[StructType]
        val touchedEntries = snapshot.files.filter(f => touched.contains(f.path))
        // DV-aware: already-deleted rows must not resurrect as survivors
        val old = readFiles(s, table, schema, touchedEntries, headMap)
        val survivors = old.join(
          effDelKeys.select(keys.map(col): _*).distinct(), keys, "left_anti")
        val oldCount = touchedEntries.map(_.visibleRows).sum

        val (commitId, newFiles) =
          writeClusteredFiles(table, survivors, clusterBy, targetRowsPerFile,
            headMap, snapshot.constraints, snapshot.properties)
        val untouched = snapshot.files.filterNot(f => touched.contains(f.path))
        val deletedCount = oldCount - newFiles.map(_.numRows).sum
        testPrecommitHook()
        if (commitVersion(table, snapshot.version + 1, snapshot.schemaJson,
          keys, clusterBy, newFiles, touched.toSeq.sorted,
          snapshot.txns ++ txn.map { case (w, v) => w -> v },
          untouched ++ newFiles, headMap, retired,
          snapshot.constraints,
          snapshot.properties)) return deletedCount
        fastRetry(touchedEntries, newFiles, touched.toSeq.sorted) match {
          case Some(true) => return deletedCount
          case Some(false) =>
            deleteDir(Paths.get(table, "data", commitId)); return 0L
          case None => deleteDir(Paths.get(table, "data", commitId))
        }
      }
    }
    sys.error(s"delete from $table lost the commit race $maxAttempts times")
  }

  /** OPTIMIZE: rewrite under-sized data files (fragmentation from many
    * small merges) AND deletion-vector-bearing files (merge-on-read debt)
    * into full clustered files — same semantics as a lakehouse
    * `OPTIMIZE`, committed as a normal version so readers never block and
    * time travel still sees the pre-compaction layout. Files below half
    * the target by VISIBLE rows participate, as does every file carrying
    * a DV (the rewrite physically drops its deleted rows and retires the
    * vector — vacuum then collects the unreferenced dataset); well-sized
    * vector-free files are carried by reference untouched. Returns the
    * number of files compacted (0 = nothing to do, no commit).
    *
    * `zorderBy = Seq(x, y)` switches the rewrite to MULTI-DIMENSIONAL
    * clustering (`OPTIMIZE ZORDER BY`): ALL live files re-cluster on the
    * Morton interleave of the two integral columns ([[Layout.zvalue]] —
    * pure codegen'd long arithmetic), so each rewritten file gets a tight
    * bounding BOX in (x, y) space instead of a stripe. The generalized
    * per-file statistics collect both columns' boxes automatically, so a
    * two-column predicate prunes through [[StatsPruning]]/the DSv2 scan
    * with no further wiring — linear key clustering gives one tight
    * dimension and full-range stripes on every other; the z layout
    * trades a little tightness on the first for tight boxes on both.
    * Merge-key pruning stays sound (boxes are per-file facts regardless
    * of layout; they merely get wider on the cluster key, which is the
    * documented Z-order trade).
    *
    * `splitBy = Seq(c, ...)` switches the rewrite to the IDENTITY-SPLIT
    * layout (`OPTIMIZE SPLIT BY` — the per-partition-value file layout
    * of partitioned lakehouse tables, without directories): every
    * written file holds exactly ONE value TUPLE of the split columns (a
    * POINT stats box per column, zero straddlers), large tuples
    * splitting across ceil(rows/targetRowsPerFile) files. This is the
    * state the manifest's aggregate pushdown answers `GROUP BY` over the
    * split columns (or any subset) from with zero files opened, and it
    * makes single-value predicates on them prune to exactly the matching
    * files. Routing is EXACT, not sampled: each
    * row computes its target partition, joins the partition's hash
    * PREIMAGE ([[Layout.hashPreimages]] — probed with Spark's own
    * partition-id arithmetic), and one hash exchange lands it — fully
    * codegen'd, no RDD partitioner, no range-sampler boundary
    * straddling. Low-cardinality columns only (dates, tenants, shards;
    * capped loudly) — higher cardinality wants ZORDER.
    *
    * SPLIT BY is INCREMENTAL: only files that are not already a clean
    * point for EVERY split column (box wider than one value, any nulls,
    * missing stats, or a deletion vector) rewrite — point files carry by reference
    * untouched, so steady-state maintenance after a few interleaved
    * merges costs O(drifted files), not O(table), and a re-run on an
    * already-split table is a commit-free no-op.
    */
  /** `OPTIMIZE graft.`p` BLOOMS` — IN-PLACE bloom point-index backfill
    * for files written before the table declared (or the session set) a
    * bloom contract. Unlike `LEDGERS` (which rides the rewrite path
    * because ledgers feed the DV min/max machinery on rewritten bytes),
    * blooms are a pure side index: backfill is ONE read-only column-
    * pruned scan over the un-indexed files, one `bloom/backfill-<id>`
    * side dataset, and a METADATA-ONLY commit re-stamping the entries —
    * zero data bytes rewritten, which at 100 TB is the difference
    * between an afternoon rewrite and a single pass. Per-partition
    * blooms for the same file are merged (same sizing ⇒ mergeable), so
    * a file split across read partitions still yields ONE bloom.
    * DV-masked rows stay IN the bloom — identical to the write side
    * (DVs never touch blooms); they can only cost false-positive file
    * opens, never wrong rows. Returns the number of entries stamped. */
  def bloomBackfill(s: SparkSession, table: String,
      maxAttempts: Int = 20): Int = {
    val head0 = latestManifest(table).getOrElse(
      sys.error(s"no committed version under $table"))
    val logical = DataType.fromJson(head0.schemaJson).asInstanceOf[StructType]
    val physSchema = StructType(logical.fields.map(f =>
      f.copy(name = physOf(head0.columnMap, f.name))))
    val cols = BloomIndex.indexedColumns(s, physSchema, head0.columnMap,
      head0.properties)
    require(cols.nonEmpty, "bloom backfill needs a declared bloom " +
      "contract — set the graft.stats.bloomCols table property (or the " +
      "spark.graft.stats.bloomCols session conf) first")
    // targets: never-indexed files AND files whose existing dataset does
    // not cover every DECLARED column — a widened contract ('a' →
    // 'a,b') re-indexes stamped files instead of silently no-opping
    // (their new dataset carries ALL declared columns, so the restamp
    // loses nothing); an unreadable/over-cap dataset reads as covered
    // (a maintenance heuristic must not re-scan the table on a consult
    // failure it cannot interpret)
    val declaredLc = cols.map(_._1.toLowerCase(java.util.Locale.ROOT))
    val targets = head0.files.filter { f =>
      f.bloom match {
        case None => true
        case Some(r0) =>
          BloomIndex.covers(s, table, r0, f.path, declaredLc).contains(false)
      }
    }
    if (targets.isEmpty) return 0
    val (expected, fpp) = BloomIndex.sizing(s, head0.properties)
    // SHARD the side datasets so every one stays consultable: the read
    // path skips any dataset over spark.graft.bloom.driverMaxBytes, so
    // one monolithic whole-table dataset would make the backfill a
    // silent no-op at exactly the scale it exists for. Chunk size is
    // derived from the REAL serialized bloom size at this sizing,
    // targeting half the cap per dataset.
    val perFileBytes = BloomIndex.serializedBytes(expected, fpp) *
      cols.size + 256L
    val cap = s.conf.getOption("spark.graft.bloom.driverMaxBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
    val chunkFiles = math.max(1L, (cap / 2) / perFileBytes).toInt
    val runId = java.util.UUID.randomUUID().toString.take(12)
    val relOfPath = scala.collection.mutable.HashMap.empty[String, String]
    targets.map(_.path).grouped(chunkFiles).zipWithIndex.foreach {
      case (chunk, k) =>
        val rel = s"bloom/backfill-$runId-$k"
        if (BloomIndex.buildBackfill(s, table, chunk, cols, expected, fpp,
          rel)) chunk.foreach(p => relOfPath(p) = rel)
    }
    if (relOfPath.isEmpty) return 0
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = latestManifest(table).getOrElse(
        sys.error(s"no committed version under $table"))
      // the datasets are per-file content: still valid for every scanned
      // file that is LIVE at this head; files a racing writer rewrote
      // simply drop out (their replacements get write-side blooms or the
      // next backfill)
      val stamp = head.files.filter(f => relOfPath.contains(f.path))
      if (stamp.isEmpty) {
        relOfPath.values.toSet[String]
          .foreach(r => deleteDir(Paths.get(table, r)))
        return 0
      }
      val stamped = stamp.map(f => f.copy(bloom = Some(relOfPath(f.path))))
      val untouchedFiles = head.files.filterNot(f => relOfPath.contains(f.path))
      if (commitVersion(table, head.version + 1, head.schemaJson,
        head.keys, head.clusterBy, stamped, stamp.map(_.path).sorted,
        head.txns, untouchedFiles ++ stamped, head.columnMap,
        head.retiredPhysical, head.constraints, head.properties))
        return stamped.size
    }
    sys.error(s"bloomBackfill on $table lost the commit race " +
      s"$maxAttempts times")
  }

  def optimize(
      s: SparkSession,
      table: String,
      targetRowsPerFile: Long = 4096,
      maxAttempts: Int = 20,
      zorderBy: Seq[String] = Seq.empty,
      splitBy: Seq[String] = Seq.empty,
      ledgerBackfill: Boolean = false): Int = {
    require(zorderBy.isEmpty || splitBy.isEmpty,
      "OPTIMIZE takes zorderBy OR splitBy, not both — one layout per rewrite")
    // LEDGER BACKFILL: min/max ledgers only exist on files written while
    // `spark.graft.stats.ledgerK` was set, so a table written before the
    // flag loses metadata-only min/max forever under any DV — this
    // policy additionally rewrites every ledger-less file (a rewrite
    // refreshes stats AND ledgers for free), completing the purge story
    // for pre-ledger tables: backfill once, then every later DV delete
    // subtracts exactly. Composes with plain compaction's own
    // candidates (fragments + DV debt); requires the flag ON so the
    // rewrite actually produces ledgers.
    if (ledgerBackfill) {
      require(zorderBy.isEmpty && splitBy.isEmpty,
        "ledgerBackfill composes with plain compaction only")
      require(s.conf.getOption("spark.graft.stats.ledgerK")
        .exists(_.trim.toInt > 0),
        "ledgerBackfill needs spark.graft.stats.ledgerK > 0 — without " +
          "the flag the rewritten files would still carry no ledgers")
    }
    require(splitBy.size <= 4,
      s"splitBy takes at most 4 columns, got ${splitBy.size}")
    require(splitBy.distinct.size == splitBy.size,
      s"splitBy lists a column twice: ${splitBy.mkString(",")}")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snapshot = latestManifest(table)
        .getOrElse(sys.error(s"no committed version under $table"))
      val schemaForZ = DataType.fromJson(snapshot.schemaJson).asInstanceOf[StructType]
      zorderBy.foreach { c =>
        require(schemaForZ.fieldNames.contains(c),
          s"zorderBy column '$c' is not a table column")
        require(Layout.zorderable(schemaForZ(c).dataType),
          s"zorderBy column '$c' must be integral, timestamp, date, or " +
            s"string (got ${schemaForZ(c).dataType}) — other types need an " +
            "explicit monotone derived column")
      }
      require(zorderBy.isEmpty || (zorderBy.size >= 2 && zorderBy.size <= 4),
        s"zorderBy takes 2–4 columns, got ${zorderBy.size}")
      splitBy.foreach { c =>
        require(schemaForZ.fieldNames.contains(c),
          s"splitBy column '$c' is not a table column")
        require(statTagOpt(schemaForZ(c).dataType).nonEmpty,
          s"splitBy column '$c' must be a stats-indexable type " +
            s"(got ${schemaForZ(c).dataType}) — the split layout exists " +
            "for the per-file stats box")
      }
      val relayout = zorderBy.nonEmpty || splitBy.nonEmpty
      val small = snapshot.files.filter(_.visibleRows < targetRowsPerFile / 2)
      val dvBearing = snapshot.files.filter(_.dv.nonEmpty)
      // ledger-less files (backfill policy only): no bottom-k/top-k
      // recorded at write time — any future DV on them refuses min/max
      val unledgered =
        if (!ledgerBackfill) Seq.empty
        else snapshot.files.filter(f => f.bottomK.isEmpty && f.topK.isEmpty)
      // a z re-layout rewrites EVERYTHING (the point is the global
      // order); SPLIT BY rewrites only the files that are not already a
      // clean point (incremental maintenance); plain compaction touches
      // only fragmentation and DV debt (+ ledger debt under backfill)
      val candidates =
        if (splitBy.nonEmpty)
          snapshot.files.filterNot(e => splitBy.forall(c =>
            isPointFor(e, physOf(snapshot.columnMap, c),
              statTag(schemaForZ(c).dataType))))
        else if (zorderBy.nonEmpty) snapshot.files
        else (small ++ dvBearing ++ unledgered).distinct
      // a lone small vector-free file gains nothing from a rewrite; any
      // DV-bearing (or backfill-target) file does
      if (!relayout && small.size < 2 && dvBearing.isEmpty &&
        unledgered.isEmpty) return 0
      if (candidates.isEmpty) return 0

      val schema = schemaForZ
      val frag = readFiles(s, table, schema, candidates, snapshot.columnMap) // DV-aware
      val (commitId, newFiles) =
        if (splitBy.nonEmpty)
          stageSplitBy(s, table, frag, splitBy, snapshot, targetRowsPerFile)
        else if (zorderBy.isEmpty)
          writeClusteredFiles(table, frag, snapshot.clusterBy, targetRowsPerFile,
            snapshot.columnMap, snapshot.constraints, snapshot.properties)
        else {
          // stage the z layout with the same pin-count-stage discipline
          // as writeClusteredFiles; _z never reaches disk or stats
          val pinned = frag.localCheckpoint()
          try {
            val n = pinned.count()
            val nFiles = math.max(1L,
              (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
            val bits = Layout.zBitsFor(zorderBy.size)
            // domain normalization: each non-string dimension maps to a
            // monotone long (epoch micros/days, identity) and is
            // min/max-scaled onto the full bit budget — one bounded
            // aggregate over the pinned frame (2 longs per dimension)
            // anchors the scale. Raw values wider than `bits` bits would
            // otherwise interleave only their LOW bits — noise.
            // STRING dimensions take an EXACT-RANK dictionary instead
            // ([[Layout.rankDictionary]] — bounded TeraSort-prefix pass
            // over the distinct set): value codes can clump (digit
            // strings bunch into decades), ranks are uniform by
            // construction, so string boxes get integer-grade tightness.
            // One distinct + dictionary join per string dimension —
            // priced against a rewrite that reads every file anyway.
            val stringDims = zorderBy.filter(c =>
              schemaForZ(c).dataType == StringType)
            val dicts = stringDims.map { c =>
              val (dict, n) = Layout.rankDictionary(
                pinned.select(col(c)).where(col(c).isNotNull).distinct(), c)
              c -> ((dict, n))
            }.toMap
            val joined = dicts.foldLeft(pinned) {
              case (df, (c, (dict, _))) =>
                df.join(dict.withColumnRenamed("__dict_rank", s"__rank_$c"),
                  df(c) === dict("__dict_value"), "left")
                  .drop("__dict_value")
            }
            try {
              val nonString = zorderBy.filterNot(stringDims.contains)
              val mapped = nonString.map(c =>
                c -> Layout.monotoneLong(col(c), schemaForZ(c).dataType)).toMap
              val b =
                if (nonString.isEmpty) null
                else {
                  val aggs = nonString.zipWithIndex.flatMap { case (c, j) =>
                    Seq(min(mapped(c)).as(s"mn_$j"), max(mapped(c)).as(s"mx_$j")) }
                  pinned.agg(aggs.head, aggs.tail: _*).collect()(0)
                }
              val scaled = zorderBy.map { c =>
                if (stringDims.contains(c)) {
                  val n = dicts(c)._2
                  if (n == 0L) lit(0L) // all-null dimension
                  else coalesce(Layout.scaleToBits(col(s"__rank_$c"),
                    0L, math.max(0L, n - 1), bits), lit(0L))
                } else {
                  val j = nonString.indexOf(c)
                  if (b.isNullAt(2 * j)) lit(0L) // all-null dimension
                  else coalesce(Layout.scaleToBits(mapped(c),
                    b.getLong(2 * j), b.getLong(2 * j + 1), bits), lit(0L))
                }
              }
              writeStaged(table,
                joined.withColumn("__graft_z", Layout.zvalueN(scaled, bits))
                  .repartitionByRange(nFiles, col("__graft_z"))
                  .sortWithinPartitions("__graft_z")
                  .drop("__graft_z")
                  .drop(stringDims.map(c => s"__rank_$c"): _*),
                snapshot.clusterBy, snapshot.columnMap,
                snapshot.constraints, snapshot.properties)
            } finally dicts.values.foreach { case (dict, _) =>
              org.apache.spark.sql.graftbridge.Bridge
                .unpersistLocalCheckpoint(dict)
            }
          } finally org.apache.spark.sql.graftbridge.Bridge
            .unpersistLocalCheckpoint(pinned)
        }
      val candPaths = candidates.map(_.path).toSet
      testPrecommitHook()
      if (commitVersion(table, snapshot.version + 1, snapshot.schemaJson,
        snapshot.keys, snapshot.clusterBy, newFiles,
        candPaths.toSeq.sorted, snapshot.txns,
        snapshot.files.filterNot(f => candPaths.contains(f.path)) ++ newFiles,
        snapshot.columnMap, snapshot.retiredPhysical, snapshot.constraints,
        snapshot.properties))
        return candidates.size

      // conflict-scoped retry: a compaction rewrites rows unchanged, so
      // it stays valid against any head where every folded file is still
      // the SAME ENTRY (a winner's DV commit on one would make our
      // rewrite resurrect its deleted rows — path equality is not
      // enough). No added-box check needed: OPTIMIZE introduces no new
      // keys, so a winner's insert cannot collide with it.
      var fastViable = true
      var fastDone = false
      // bounded like the outer loop — see mergeUpsert's fast path
      while (fastViable && !fastDone && attempt < maxAttempts) {
        attempt += 1
        val head = latestManifest(table).getOrElse(
          sys.error(s"commit race on $table with no committed head"))
        val headByPath = head.files.map(f => f.path -> f).toMap
        fastViable =
          candidates.forall(e => headByPath.get(e.path).contains(e)) &&
          head.keys == snapshot.keys && head.clusterBy == snapshot.clusterBy &&
          head.columnMap == snapshot.columnMap &&
          head.retiredPhysical == snapshot.retiredPhysical
        if (fastViable) {
          val resolved = head.files.filterNot(f => candPaths.contains(f.path)) ++ newFiles
          fastDone = commitVersion(table, head.version + 1, head.schemaJson,
            head.keys, head.clusterBy, newFiles, candPaths.toSeq.sorted,
            head.txns, resolved, snapshot.columnMap,
            snapshot.retiredPhysical, snapshot.constraints,
            snapshot.properties)
          if (fastDone) return candidates.size
        }
      }
      deleteDir(Paths.get(table, "data", commitId))
    }
    sys.error(s"optimize of $table lost the commit race $maxAttempts times")
  }

  /** Default vacuum policy — ONE definition shared by the API door and
    * the SQL door (`VACUUM graft.`p``), so a future tuning can't
    * silently diverge the two. */
  val DefaultVacuumGraceMs: Long = 30L * 60 * 1000
  val DefaultVacuumRetainVersions: Int = 2

  /** VACUUM: delete data files referenced by no RETAINED version, and the
    * retired log records themselves. Retention is by VERSION COUNT first,
    * then age: the newest `retainVersions` versions are always kept, and
    * the live set is the union of THEIR resolved file lists — so a reader
    * pinned to latest−1 survives collection no matter how old the
    * underlying files' write times are (an age-only gate measures from
    * WRITE time, not from when a file became unreferenced: a 2-hour-old
    * file dropped by a commit one minute ago would collect instantly —
    * the GenStore retain-2 lesson applied here). The age gate then still
    * applies to everything outside the retained set, covering in-flight
    * writers of abandoned commits.
    *
    * Log retention keeps everything down to the CHECKPOINT FLOOR — the
    * newest checkpoint at or below the retained range's base — because
    * retained delta records resolve by walking back to it; only records
    * strictly below the floor retire. Callers whose readers time-travel
    * (registered queries, reproducibility audits) must size
    * `retainVersions` to cover the OLDEST version those readers pin —
    * see the retention contract spec in MergeTableSpec.
    * Returns the deleted file count. `dryRun = true` walks the same
    * sweep with the same age gates and returns the count it WOULD
    * collect without touching a single file — the operator preflight
    * (`VACUUM … DRY RUN` in SQL).
    */
  def vacuum(table: String, graceMs: Long = DefaultVacuumGraceMs,
      retainVersions: Int = DefaultVacuumRetainVersions,
      dryRun: Boolean = false): Int = {
    val m = latestManifest(table).getOrElse(return 0)
    val keepFloor = math.max(0L, m.version - math.max(1, retainVersions) + 1)
    // retained delta records resolve by walking back to a checkpoint at or
    // below keepFloor; everything ≥ cpFloor must therefore survive. The
    // floor is the newest VERIFIED-readable base ≤ keepFloor — a cp file
    // is only trusted after a full streamed read (an existence check would
    // let a torn copy strand every retained version), a v1 inline
    // checkpoint record counts too; none found → floor 0 (v0's delta is
    // the initial listing, so the full prefix must stay).
    val cpFloor: Long = {
      var cand = keepFloor - Math.floorMod(keepFloor, CheckpointInterval.toLong)
      var found = 0L
      var done = false
      while (!done && cand > 0) {
        val readable = readCheckpointFile(table, cand).nonEmpty ||
          readRecord(table, cand).exists(_.kind == "checkpoint")
        if (readable) { found = cand; done = true }
        else cand -= CheckpointInterval
      }
      found
    }
    // union of the retained versions' resolved file lists — a version
    // whose HEAD record is gone (already vacuumed) contributes nothing
    // (manifestAt returns None). A version whose head record EXISTS but
    // whose resolution walk is gapped below it throws the typed
    // missing-version signal and DELIBERATELY fails the vacuum: the
    // table still advertises that version, and treating it as
    // collectable would delete its unique files — destroying the data a
    // record-restore could otherwise recover. A wedged vacuum is
    // operator-recoverable (align divergent retention settings, restore
    // the record); a silent collect is not. Fail-stop over truncation,
    // as everywhere else in this file.
    val retained = (keepFloor to m.version).flatMap(v => manifestAt(table, v))
    val live = retained.flatMap(_.files.map(_.path)).toSet
    // deletion-vector datasets referenced by any retained version stay;
    // unreferenced ones (their files were rewritten by OPTIMIZE, or the
    // referencing versions aged out) collect age-gated like data commits
    val liveDv = retained.flatMap(_.files.flatMap(_.dv)).toSet
    // bloom index datasets follow the same rule as DVs: referenced by
    // any retained version → stay; orphaned (files rewritten, versions
    // aged out) → collect age-gated
    val liveBloom = retained.flatMap(_.files.flatMap(_.bloom)).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    // `_temporary` (an in-flight Spark job's staging) gets a DAY of
    // grace, not the sweep's: a live writer is protected, while a
    // crashed writer's staging still reclaims eventually (deleting it
    // under a still-live >24h job would fail that job's COMMIT loudly —
    // fail-stop, never a silent corrupt publish). ONE definition shared
    // by the data-commit and dv-dataset sweeps so the staging-protection
    // policy cannot silently diverge between them.
    val tempCutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    def allAgedOut(children: Seq[java.nio.file.Path]): Boolean =
      children.forall { f =>
        val limit =
          if (f.getFileName.toString == "_temporary") tempCutoff else cutoff
        try Files.getLastModifiedTime(f).toMillis < limit
        catch { case _: Exception => false }
      }
    var deleted = 0
    // DRY RUN: count every file the sweep WOULD collect, touch nothing —
    // the operator-facing preflight (`VACUUM … DRY RUN` in SQL). The
    // walk, the age gates and the counting are the real ones.
    def reap(p: java.nio.file.Path): Unit =
      if (!dryRun) { Files.deleteIfExists(p); () }
    val dataRoot = Paths.get(table, "data")
    if (Files.isDirectory(dataRoot)) {
      val commits = { val s0 = Files.list(dataRoot)
        try s0.iterator().asScala.toSeq finally s0.close() }
      commits.foreach { c =>
        val fs0 = { val s1 = Files.list(c)
          try s1.iterator().asScala.toSeq finally s1.close() }
        val anyLive = fs0.exists(f =>
          live.contains(s"data/${c.getFileName}/${f.getFileName}"))
        fs0.foreach { f =>
          val rel = s"data/${c.getFileName}/${f.getFileName}"
          val old = try Files.getLastModifiedTime(f).toMillis < cutoff
            catch { case _: Exception => false }
          if (!live.contains(rel) && old &&
            f.getFileName.toString.endsWith(".parquet")) {
            reap(f); deleted += 1
          }
        }
        // a commit dir with no live reference left also sheds its
        // _SUCCESS/.crc markers — otherwise retired-commit husks
        // accumulate forever (the markers alone keep the dir non-empty).
        // The shed is age-gated like every other deletion and NEVER
        // touches a dir holding `_temporary` (a concurrent writer's
        // in-flight Spark job staging — nothing references it in any
        // manifest YET, which is exactly why anyLive can't protect it)
        val remaining = { val s2 = Files.list(c)
          try s2.iterator().asScala.toSeq finally s2.close() }
        if (!anyLive && remaining.nonEmpty &&
          !remaining.exists(_.getFileName.toString.endsWith(".parquet")) &&
          allAgedOut(remaining)) {
          if (!dryRun) { remaining.foreach(f => deleteDir(f)); () }
          reap(c)
        } else if (remaining.isEmpty) reap(c)
      }
    }
    // deletion-vector datasets: a whole dv/<id> dir retires once no
    // retained version references it — age-gated via the same shared
    // policy as data commits (allAgedOut, incl. the _temporary grace)
    val dvRoot = Paths.get(table, "dv")
    if (Files.isDirectory(dvRoot)) {
      val sets = { val s4 = Files.list(dvRoot)
        try s4.iterator().asScala.toSeq finally s4.close() }
      sets.foreach { c =>
        if (!liveDv.contains(s"dv/${c.getFileName}")) {
          val fs0 = { val s5 = Files.list(c)
            try s5.iterator().asScala.toSeq finally s5.close() }
          if (fs0.isEmpty) reap(c)
          else if (allAgedOut(fs0)) {
            deleted += fs0.count(_.getFileName.toString.endsWith(".parquet"))
            if (!dryRun) deleteDir(c)
          }
        }
      }
    }
    // bloom index datasets: same sweep shape as DVs (whole bloom/<id>
    // dir retires once unreferenced and aged out)
    val bloomRoot = Paths.get(table, "bloom")
    if (Files.isDirectory(bloomRoot)) {
      val sets = { val s6 = Files.list(bloomRoot)
        try s6.iterator().asScala.toSeq finally s6.close() }
      sets.foreach { c =>
        if (!liveBloom.contains(s"bloom/${c.getFileName}")) {
          val fs0 = { val s7 = Files.list(c)
            try s7.iterator().asScala.toSeq finally s7.close() }
          if (fs0.isEmpty) reap(c)
          else if (allAgedOut(fs0)) {
            deleted += fs0.count(_.getFileName.toString.endsWith(".parquet"))
            if (!dryRun) deleteDir(c)
          }
        }
      }
    }
    val ld = logDir(table)
    if (Files.isDirectory(ld)) {
      val logs = { val s3 = Files.list(ld)
        try s3.iterator().asScala.toSeq finally s3.close() }
      logs.foreach { p =>
        def old = try Files.getLastModifiedTime(p).toMillis < cutoff
          catch { case _: Exception => false }
        versionOf(p.getFileName.toString) match {
          case Some(v) =>
            if (v < cpFloor && old) { reap(p); deleted += 1 }
          case None => cpVersionOf(p.getFileName.toString)
            .orElse(addsVersionOf(p.getFileName.toString)) match {
            case Some(v) =>
              // a checkpoint file strictly below the floor is superseded
              // by the floor checkpoint for every retained resolution; an
              // externalized-adds side file retires exactly with its
              // record (a crashed loser's above-floor orphan waits for
              // the floor to pass it — bounded, crash-rare garbage)
              if (v < cpFloor && old) { reap(p); deleted += 1 }
            case None =>
              // crash-orphaned staging records (writer died between the
              // tmp write and the link/move) age out here too
              if (p.getFileName.toString.startsWith(".tmp-") && old) {
                reap(p); deleted += 1
              }
          }
        }
      }
    }
    deleted
  }

  /** Test hook: drop `table`'s cached manifest so a spec can prove COLD
    * resolution (fresh-process behavior) instead of a cache hit. */
  private[graft] def evictCachedManifest(table: String): Unit = {
    manifestCache.remove(cacheKey(table)); ()
  }

  /** Remove a table tree entirely (fixture builders start clean) and
    * evict its cached manifest — a recreated table at the same path must
    * never forward-fold over the dead incarnation's listing. */
  private[graft] def dropTable(table: String): Unit = {
    manifestCache.remove(cacheKey(table))
    deleteDir(Paths.get(table))
  }

  private val scratchTables = IndexMemo.cache[(String, SparkSession, String), String]()

  /** The fixture table `tag` over the input `sfDir` for this session:
    * built once per (tag, session, input) by `build`, which receives the
    * table path `$tmpdir/graft-merge/<scopedName(tag, sfDir)>-<appId>`.
    *
    *  - The path carries the INPUT DIR (scopedName: basename + path
    *    hash), not just the tag and appId: two sf dirs in one JVM/app (the
    *    standard two-dir spec pattern) must be two tables, or the second
    *    build deletes and rebuilds over the first memo key's live table.
    *  - Each build starts from [[dropTable]], not a raw [[deleteDir]]: a
    *    second session in the same JVM re-enters at the SAME path (the
    *    memo keys on session), and the rebuild must not inherit the dead
    *    incarnation's cached manifest.
    *  - Each build first runs [[sweepScratch]] on the shared root, so
    *    dead prior-app tables age out. Every call, the memoized ones
    *    included, runs the [[touchTable]] heartbeat: the root mtime is
    *    otherwise set at build time only, and a session that keeps
    *    reading its table past the sweep's grace would lose it to a newer
    *    JVM's sweep.
    */
  private[graft] def scratchTable(s: SparkSession, sfDir: String, tag: String)(
      build: String => Unit): String = {
    val t = IndexMemo(scratchTables, (tag, s, sfDir)) {
      IndexStore.recordFixtureBuild(tag)
      val root = Paths.get(System.getProperty("java.io.tmpdir", "/tmp"), "graft-merge")
      sweepScratch(root)
      val appTag = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "")
      val t = root.resolve(s"${IndexStore.scopedName(tag, sfDir)}-$appTag").toString
      dropTable(t)
      build(t)
      t
    }
    touchTable(t)
    t
  }

  /** Refresh a live table's root mtime — the heartbeat [[sweepScratch]]'s
    * age gate keys on. */
  private def touchTable(table: String): Unit =
    try Files.setLastModifiedTime(Paths.get(table),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: Exception => () }

  /** Age-gated sweep of the per-process scratch-table root: every bench
    * JVM builds its own appId-tagged fixture tables, and without a
    * reaper they accumulate across processes. Only entries older than
    * the grace collect — a concurrently-running app's table is younger
    * by construction: its build touched it, and every [[scratchTable]]
    * access refreshes the heartbeat.
    */
  private[ops] def sweepScratch(root: java.nio.file.Path,
      graceMs: Long = 6L * 3600 * 1000): Unit =
    if (Files.isDirectory(root)) {
      val cutoff = System.currentTimeMillis() - graceMs
      val entries = { val s0 = Files.list(root)
        try s0.iterator().asScala.toSeq finally s0.close() }
      entries.foreach { p =>
        val old = try Files.getLastModifiedTime(p).toMillis < cutoff
          catch { case _: Exception => false }
        if (old) deleteDir(p)
      }
    }

  private[graft] def deleteDir(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      try {
        val it = stream.iterator()
        while (it.hasNext) {
          try Files.delete(it.next()) catch { case _: Exception => () }
        }
      } finally stream.close()
    }

  // ---- change data feed ---------------------------------------------------

  /** Row-level changes between two committed versions of any merge table.
    *
    * FILE-SCOPED: both manifests list exactly which files each version
    * holds, so the diff reads ONLY the file-set delta — the older side
    * restricted to files `from` holds that `to` dropped, the newer side
    * to files `to` holds that `from` lacked. Files shared by both
    * versions are immutable and key-unique per version, so every row in
    * them is byte-identical on both sides and contributes no change —
    * skipping them is exact, not approximate. Cost is O(changed files +
    * changes), never O(table) — the thing a lakehouse CDF log buys,
    * recovered here from manifests alone (the round-9 O(table)-per-commit
    * scale defect, closed).
    *
    * Composite keys are supported (the diff joins on ALL key columns);
    * `cols` defaults to every non-key column of the newer version.
    * Schema evolution: the older snapshot may predate columns the newer
    * one carries — it widens with typed nulls so a widening boundary
    * reports UPDATEs (null → value) instead of failing to resolve.
    */
  def changesBetween(
      s: SparkSession, table: String, fromVersion: Long, toVersion: Long,
      cols: Seq[String] = Seq.empty, preimages: Boolean = false): DataFrame = {
    val mTo = manifestAt(table, toVersion)
      .getOrElse(missingVersion(s"version $toVersion not found under $table"))
    val mFrom = manifestAt(table, fromVersion)
      .getOrElse(missingVersion(s"version $fromVersion not found under $table"))
    changesBetweenManifests(s, table, mFrom, mTo, cols, preimages)
  }

  /** [[changesBetween]] against ALREADY-RESOLVED manifests — the
    * streaming feed resolves each version exactly once per delivery and
    * must not pay the (single-slot-cached, hence cold-for-v−1)
    * resolution a second time here. */
  private[graft] def changesBetweenManifests(
      s: SparkSession, table: String, mFrom: TableManifest, mTo: TableManifest,
      cols: Seq[String] = Seq.empty, preimages: Boolean = false): DataFrame = {
    val keys = mTo.keys
    val newSchema = DataType.fromJson(mTo.schemaJson).asInstanceOf[StructType]
    val payload =
      if (cols.nonEmpty) cols
      else newSchema.fieldNames.filterNot(keys.contains).toSeq
    // identity = (path, deletion vector): a DV commit keeps a file's path
    // but changes WHICH rows it contributes, so the file must appear on
    // both diff sides (old side with the old vector, new side with the
    // new one) for its newly-deleted rows to emit as DELETEs. Entries
    // equal on (path, dv) contribute byte-identical visible rows — the
    // exact-skip argument unchanged.
    def ident(f: DataFileEntry) = (f.path, f.dv)
    val fromIds = mFrom.files.map(ident).toSet
    val toIds = mTo.files.map(ident).toSet
    val removedEntries = mFrom.files.filterNot(f => toIds.contains(ident(f)))
    val addedEntries = mTo.files.filterNot(f => fromIds.contains(ident(f)))
    val target = StructType((keys ++ payload).map(c => newSchema(c)))
    // logical name of a physical column AT mTo — the feed speaks the
    // NEWER version's names, so a column renamed between the two
    // versions diffs value-against-value through its stable physical
    // identity instead of null-against-value through its old name
    val logicalAtTo: Map[String, String] =
      newSchema.fieldNames.map(c => physOf(mTo.columnMap, c) -> c).toMap
    def side(m: TableManifest, entries: Seq[DataFileEntry]) = {
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val df = readFiles(s, table, schema, entries, m.columnMap)
      // align m's logical names to mTo's through shared physicals; a
      // physical with no logical at mTo (a dropped column) is projected
      // away — feeding its bytes to a same-named LATER column would be
      // resurrection through the feed
      val aligned = df.select(schema.fields.flatMap { f =>
        logicalAtTo.get(physOf(m.columnMap, f.name))
          .map(toName => col(f.name).as(toName))
      }.toSeq: _*)
      withAllColumns(aligned, target)
    }
    ChangeCapture.snapshotDiffKeys(
      side(mFrom, removedEntries), side(mTo, addedEntries), keys, payload,
      preimages = preimages)
  }
}
