package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability, TableCatalog, TableChange, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.{MergeTable, StatsPruning}
import graft.ops.MergeTable.TableManifest

/** DataSource V2 surface over the transactional [[graft.ops.MergeTable]]:
  *
  * {{{
  *   spark.read.format("graft").load(path)                    // latest snapshot
  *   spark.read.format("graft").option("versionAsOf", 3).load(path)
  *   spark.read.format("graft").option("timestampAsOf", ms).load(path)
  *   // change data feed (per-version rows; instants accept epoch millis
  *   // or timestamp strings; coalesceDiffs = ONE net endpoint diff,
  *   // the stream door's deep-drain opt-in, same fold semantics):
  *   spark.read.format("graft").option("readChangeFeed", "true")
  *     .option("startingTimestamp", "2026-08-16 12:00:00")
  *     .option("coalesceDiffs", "true").load(path)
  *   // with spark.sql.catalog.graft=graft.sources.GraftCatalog:
  *   spark.sql("SELECT * FROM graft.`/abs/path` VERSION AS OF 3")
  * }}}
  *
  * The scan implements the full V2 pushdown surface —
  * [[SupportsPushDownRequiredColumns]] (column pruning) and
  * [[SupportsPushDownFilters]] backed by the manifest's per-file
  * statistics ([[graft.ops.StatsPruning]]): a pushed predicate on any
  * stats-indexed column shrinks the FILE LIST before any parquet footer
  * is opened — at 10⁶ files this is driver-side metadata work, the same
  * bounds-first shape the reference's range-lookup endpoints take
  * (`redis_store.py:21-35`), applied one tier up.
  *
  * Execution is the engine's own snapshot read, planned inline: the
  * optimized plan keeps the V2 scan relation (its description, statistics
  * and pushdown results), and [[graft.plans.GraftScanStrategy]] — installed
  * by [[graft.functions.GraftExtensions]], which every graft session needs
  * for batch reads — plans it as [[MergeTable.snapshotPlan]] over the
  * PRUNED file set. Deletion-vector masking, vectorized parquet reading
  * with the filters pushed, and whole-stage codegen all come from Spark's
  * own file-source planning instead of a hand-rolled reader, no nested
  * query is built, and planning runs no job. Every filter is still
  * re-evaluated row-wise above the scan (file skipping must be sound,
  * never load-bearing for correctness). The manifest version is pinned
  * when the table object is created — a concurrent commit cannot shift a
  * running query's snapshot.
  *
  * Writes stay on the transactional Scala/SQL command surface
  * ([[MergeTable.mergeUpsert]], `MERGE INTO` via
  * [[graft.functions.GraftExtensions]]) — a plain appendable V2 write
  * would bypass the CAS commit protocol.
  */
class GraftTableProvider extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft"

  private def path(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).getOrElse(
      sys.error("graft reads need a path: spark.read.format(\"graft\").load(path)"))
    p
  }

  /** One resolution per option tuple: Spark calls `inferSchema` and
    * `getTable` as two steps of one lookup, and a commit landing between
    * two INDEPENDENT resolutions would pin the scan to a different
    * snapshot than the one the query was analyzed against (after a
    * concurrent rename/drop, an analysis/runtime column mismatch instead
    * of a consistent pinned read). The memo makes both steps see the
    * SAME resolved manifest. Spark instantiates a fresh provider per
    * `spark.read....load(...)` call, so the memo's lifetime is one
    * lookup — a later read of the same path re-resolves and sees new
    * commits. */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[(String, Option[String],
      Option[String], Option[String], Option[String], Option[String],
      Option[String], Option[String], Option[String], Option[String]),
      Table]()

  private def resolveOnce(options: CaseInsensitiveStringMap): Table = {
    val key = (path(options), Option(options.get("versionasof")),
      Option(options.get("timestampasof")),
      Option(options.get("readchangefeed")),
      Option(options.get("startingversion")),
      Option(options.get("endingversion")),
      Option(options.get("maxversionsperread")),
      Option(options.get("startingtimestamp")),
      Option(options.get("endingtimestamp")),
      Option(options.get("coalescediffs")))
    resolved.computeIfAbsent(key, { k =>
      val cdf = k._4.exists(_.trim.equalsIgnoreCase("true"))
      if (!cdf) GraftTable.resolve(k._1, k._2, k._3)
      else {
        // batch CHANGE DATA FEED: option("readChangeFeed", "true") with
        // a start — startingVersion, or startingTimestamp (epoch
        // millis, the earliest version committed at or after it: the
        // changes-since-T reading) — and an optional end
        // (endingVersion / endingTimestamp = at-or-before; default the
        // head at resolve time) — the same per-version framing as the
        // streaming source, pinned at lookup
        require(k._2.isEmpty && k._3.isEmpty,
          "readChangeFeed composes with startingVersion/endingVersion, " +
            "not versionAsOf/timestampAsOf")
        require(k._5.isEmpty || k._8.isEmpty,
          "use startingVersion OR startingTimestamp, not both")
        require(k._6.isEmpty || k._9.isEmpty,
          "use endingVersion OR endingTimestamp, not both")
        val head = MergeTable.latestManifest(k._1).getOrElse(
          throw new NoSuchTableException(
            Identifier.of(Array.empty, k._1)))
        val from = k._5.map(_.trim.toLong)
          .orElse(k._8.map { ts =>
            val millis =
              graft.ops.GraftInstants.parseMillis(
                ts, "startingTimestamp", ceil = true)
            MergeTable.versionSinceTimestamp(k._1, millis).getOrElse(
              // a batch read has no future-subscription reading — say
              // so (the graft_changes_since TVF's tailored error)
              // instead of the generic empty-range require below
              throw new IllegalArgumentException(
                s"readChangeFeed: no commit of ${k._1} at or after " +
                  s"startingTimestamp $millis — the head " +
                  s"v${head.version} is older; stream with " +
                  "startingTimestamp to subscribe to future commits"))
          })
          .getOrElse(sys.error(
            "readChangeFeed needs .option(\"startingVersion\", n) or " +
              ".option(\"startingTimestamp\", epochMillis)"))
        val to = k._6.map(_.trim.toLong)
          .orElse(k._9.map(ts =>
            MergeTable.versionAsOf(k._1,
              graft.ops.GraftInstants.parseMillis(
                ts, "endingTimestamp", ceil = false))))
          .getOrElse(head.version)
        require(from >= 0 && from <= to,
          s"readChangeFeed range [$from, $to] is empty or negative")
        require(to <= head.version,
          s"endingVersion $to is beyond the head v${head.version}")
        // ranges wider than one plan can hold are read as a union of
        // bounded sub-plans (each chunk is its own ≤N-version Catalyst
        // plan, optimized alone); the option tunes the chunk width
        val bar = GraftChangeFeed.maxBatchVersions(SparkSession.active)
        val chunk = k._7.map(_.trim.toLong).getOrElse(bar)
        require(chunk >= 1 && chunk <= bar,
          s"maxVersionsPerRead must be in [1, $bar], got $chunk")
        new GraftCdfTable(k._1,
          GraftChangeFeed.shapeFor(k._1, head, "batch change feed"),
          from, to, chunk,
          k._10.exists(_.trim.equalsIgnoreCase("true")))
      }
    })
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolveOnce(options).schema()

  /** True so the WRITE path hands us the frame's schema instead of
    * calling inferSchema — a first write targets a table that does not
    * exist yet, and inferSchema would (rightly, for reads) throw. */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // through the memo: a read already resolved the table in inferSchema,
    // and this step must pin the SAME snapshot without listing the log
    // again (a drop in between must not turn the read into a placeholder)
    try resolveOnce(opts)
    catch {
      case _: NoSuchTableException =>
        // the writer resolves the provider's table BEFORE deciding V2 vs
        // V1 write; a not-yet-created table is not an error here — the
        // placeholder carries no capabilities, so the write falls back to
        // the V1 CreatableRelationProvider door (which creates the table).
        // Plain reads of a missing table still throw in inferSchema above.
        new GraftPreCreationTable(path(opts), schema)
    }
  }

  // ---- streaming read: spark.readStream.format("graft").load(path) --------
  // The table's capabilities are BATCH_READ only, so the stream reader
  // falls back to this V1 StreamSourceProvider — deliberately: the V1
  // Source's getBatch hands Spark the engine's own diff plan (see
  // [[GraftStreamSource]]). `sourceSchema` and `createSource` are two
  // steps of one stream start — memoized so both see the SAME pinned
  // snapshot schema (the batch-side inferSchema/getTable discipline).

  private val streamSources = new java.util.concurrent.ConcurrentHashMap[
    Map[String, String], GraftStreamSource]()

  private def streamSource(ctx: SQLContext,
      parameters: Map[String, String]): GraftStreamSource =
    streamSources.computeIfAbsent(parameters, { params =>
      val ci = params.map { case (k, v) =>
        k.toLowerCase(java.util.Locale.ROOT) -> v }
      val p = ci.getOrElse("path", sys.error(
        "graft stream reads need a path: " +
          "spark.readStream.format(\"graft\").load(path)"))
      require(!(ci.contains("startingversion") &&
          ci.contains("startingtimestamp")),
        "use startingVersion OR startingTimestamp, not both")
      mkStreamSource(ctx, ci,
        // schema-door instance: a timestamp start resolves tentatively
        // (the schema doesn't depend on it); createSource PINS the real
        // one under the checkpoint's metadata path
        ci.get("startingtimestamp").map(ts =>
          resolveSinceTimestamp(p, graft.ops.GraftInstants.parseMillis(
            ts, "startingTimestamp", ceil = true))))
    })

  private def mkStreamSource(ctx: SQLContext, ci: Map[String, String],
      tsStart: Option[Long]): GraftStreamSource = {
    val p = ci.getOrElse("path", sys.error(
      "graft stream reads need a path: " +
        "spark.readStream.format(\"graft\").load(path)"))
    new GraftStreamSource(ctx, p,
      ci.get("startingversion").map(_.trim.toLong).orElse(tsStart),
      ci.get("maxversionspertrigger").map(_.trim.toLong).getOrElse(100L),
      ci.get("maxbytespertrigger").map(_.trim.toLong),
      ci.get("maxfilespertrigger").map(_.trim.toLong),
      ci.get("coalescediffs").exists(_.trim.equalsIgnoreCase("true")))
  }

  /** `startingTimestamp` (epoch millis) → the earliest version committed
    * at or after it — the changes-since-T subscription; a FUTURE instant
    * resolves past the head, so only commits landing after subscription
    * flow. */
  private def resolveSinceTimestamp(p: String, tsMillis: Long): Long =
    MergeTable.versionSinceTimestamp(p, tsMillis).getOrElse(
      MergeTable.latestManifest(p).map(_.version + 1).getOrElse(0L))

  /** Timestamp-started streams PIN their resolved starting version under
    * the query's checkpoint metadata path on FIRST start (atomic
    * write-once file), exactly the discipline Spark's own file sources
    * use: a restart — even in a fresh session, even after the resolved
    * version's commit time relation to the instant has been overtaken by
    * new commits — resumes from the SAME subscription point instead of
    * silently re-resolving and skipping commits. */
  private val pinnedStreamSources = new java.util.concurrent.ConcurrentHashMap[
    (Map[String, String], String), GraftStreamSource]()

  private def pinnedStreamSource(ctx: SQLContext, metadataPath: String,
      parameters: Map[String, String]): GraftStreamSource =
    pinnedStreamSources.computeIfAbsent((parameters, metadataPath), { _ =>
      val ci = parameters.map { case (k, v) =>
        k.toLowerCase(java.util.Locale.ROOT) -> v }
      val p = ci("path")
      val ts = graft.ops.GraftInstants.parseMillis(
        ci("startingtimestamp"), "startingTimestamp", ceil = true)
      // metadataPath arrives as a URI string (file:/…) from the engine's
      // checkpoint resolution — map it back to a filesystem path
      val metaDir =
        if (metadataPath.startsWith("file:"))
          java.nio.file.Paths.get(java.net.URI.create(metadataPath))
        else java.nio.file.Paths.get(metadataPath)
      val pin = metaDir.resolve("graft-starting-version")
      val startV =
        if (java.nio.file.Files.isRegularFile(pin))
          new String(java.nio.file.Files.readAllBytes(pin), "UTF-8").trim.toLong
        else {
          val v = resolveSinceTimestamp(p, ts)
          java.nio.file.Files.createDirectories(pin.getParent)
          // write-once collision detection must NOT ride ATOMIC_MOVE:
          // POSIX rename silently REPLACES an existing target, so a
          // cross-process concurrent starter would overwrite the first
          // pin. Publish via hard-link from a PER-ATTEMPT tmp (UUID
          // suffix — a shared tmp name would let starter B truncate the
          // inode starter A is linking, or race A's cleanup into a
          // NoSuchFileException; same discipline as the commit CAS) —
          // atomic full content + throws on an existing target; fall
          // back to CREATE_NEW where links are unsupported. Either way
          // a loser ADOPTS the winner's pin.
          val tmp = pin.resolveSibling(pin.getFileName.toString + ".tmp-" +
            java.util.UUID.randomUUID().toString.take(8))
          try {
            java.nio.file.Files.write(tmp, v.toString.getBytes("UTF-8"))
            try java.nio.file.Files.createLink(pin, tmp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException => // adopt
              case _: UnsupportedOperationException =>
                try java.nio.file.Files.write(pin,
                  v.toString.getBytes("UTF-8"),
                  java.nio.file.StandardOpenOption.CREATE_NEW)
                catch {
                  case _: java.nio.file.FileAlreadyExistsException => // adopt
                }
            }
          } finally // unique-named orphans would otherwise accrete forever
            java.nio.file.Files.deleteIfExists(tmp)
          new String(java.nio.file.Files.readAllBytes(pin), "UTF-8").trim.toLong
        }
      mkStreamSource(ctx, ci, Some(startV))
    })

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), streamSource(sqlContext, parameters).schema)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    if (parameters.keySet.exists(
        _.equalsIgnoreCase("startingtimestamp")))
      pinnedStreamSource(sqlContext, metadataPath, parameters)
    else streamSource(sqlContext, parameters)

  // ---- write doors: df.write / df.writeStream .format("graft") ------------
  // Same fallback shape as the reads: the table's capabilities carry no
  // V2 write, so batch writes land on CreatableRelationProvider and
  // streaming writes on StreamSinkProvider — both route into the
  // engine's transactional merge ([[GraftWriteDoor]]'s contract doc).

  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    GraftWriteDoor.writeBatch(sqlContext.sparkSession, mode, parameters, data)
    val p = GraftWriteDoor.ci(parameters)
    GraftTable.resolve(GraftWriteDoor.pathOf(p), None, None)
      .toWrittenRelation(sqlContext)
  }

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft tables cluster by their merge keys; partitionBy is not the door")
    val p = GraftWriteDoor.ci(parameters)
    val path = GraftWriteDoor.pathOf(p)
    // writerId anchors the exactly-once txn watermark; the checkpoint
    // location is stable across restarts of the same query. There is NO
    // table-path fallback: two queries sharing one derived writerId would
    // share a watermark, and the younger query's batchIds (restarting at
    // 0) would be silently dropped as replays — data loss, not safety.
    val writerId = p.getOrElse("writerid",
      p.get("checkpointlocation").map(c => s"graft-sink:$c").getOrElse(
        throw new IllegalArgumentException(
          s"graft streaming sink into $path: pass either a 'writerId' " +
            "option or an explicit .option(\"checkpointLocation\", ...) — " +
            "the exactly-once txn watermark is PER WRITER, and a " +
            "checkpoint set only via spark.sql.streaming.checkpointLocation " +
            "(or an implicit temp checkpoint) is invisible here; deriving " +
            "the id from the table path would make distinct queries share " +
            "a watermark and silently drop each other's batches")))
    val complete =
      outputMode == org.apache.spark.sql.streaming.OutputMode.Complete()
    new GraftStreamSink(sqlContext.sparkSession, path, writerId, complete, p)
  }
}

/** Placeholder for a table the WRITE path is about to create: no
  * capabilities, so every plan against it falls to the V1 doors. */
class GraftPreCreationTable(path: String, s: StructType) extends Table {
  override def name(): String = s"graft.`$path` (not yet created)"
  override def schema(): StructType = if (s == null) new StructType() else s
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.noneOf(classOf[TableCapability])
}

object GraftTable {
  /** Pin a snapshot: explicit version, timestamp (epoch millis), or the
    * latest committed manifest. */
  def resolve(path: String, versionAsOf: Option[String],
      timestampAsOf: Option[String]): GraftTable = {
    val m = versionAsOf match {
      case Some(v) => MergeTable.manifestAt(path, v.trim.toLong)
        .getOrElse(throw new NoSuchTableException(
          Identifier.of(Array.empty, s"$path@v$v")))
      case None => timestampAsOf match {
        case Some(ts) =>
          val v = MergeTable.versionAsOf(path,
            graft.ops.GraftInstants.parseMillis(
              ts, "timestampAsOf", ceil = false))
          MergeTable.manifestAt(path, v).getOrElse(
            throw new NoSuchTableException(
              Identifier.of(Array.empty, s"$path@ts$ts")))
        case None => MergeTable.latestManifest(path)
          .getOrElse(throw new NoSuchTableException(
            Identifier.of(Array.empty, path)))
      }
    }
    new GraftTable(path, m)
  }
}

/** One pinned snapshot of a merge table as a V2 [[Table]]. */
class GraftTable(val tablePath: String, val manifest: TableManifest)
    extends Table with SupportsRead {
  val schemaStruct: StructType =
    DataType.fromJson(manifest.schemaJson).asInstanceOf[StructType]

  override def name(): String = s"graft.`$tablePath`@v${manifest.version}"
  override def schema(): StructType = schemaStruct

  /** `SHOW TBLPROPERTIES graft.`/p`` / `DESCRIBE TABLE EXTENDED` — the
    * pinned snapshot's manifest facts as read-only table properties
    * (observability only; nothing here is consulted by the read path). */
  override def properties(): util.Map[String, String] = {
    val p = new util.HashMap[String, String]()
    // user/engine table properties first; the built-in manifest facts
    // below stay authoritative on any key collision
    manifest.properties.foreach { case (k, v) => p.put(k, v) }
    p.put("format", "graft")
    p.put("version", manifest.version.toString)
    p.put("keys", manifest.keys.mkString(","))
    p.put("clusterBy", manifest.clusterBy.mkString(","))
    p.put("numFiles", manifest.files.size.toString)
    p.put("numRows", manifest.files.map(_.visibleRows).sum.toString)
    p.put("sizeBytes", manifest.files.map(_.bytes).sum.toString)
    p.put("deletionVectors",
      manifest.files.count(_.dv.nonEmpty).toString)
    if (manifest.columnMap.nonEmpty)
      p.put("columnMapping", manifest.columnMap
        .map { case (l, ph) => s"$l->$ph" }.mkString(","))
    p
  }

  /** The snapshot's CHECK constraints as DSv2 [[Constraint]]s — what
    * `DESCRIBE` surfaces and Spark's own constraint-aware plans consult.
    * ENFORCED + VALID: the engine validated the whole table at ADD time
    * and every staged write since ([[MergeTable.addConstraint]]). */
  override def constraints():
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    manifest.constraints.toSeq.sortBy(_._1).map { case (n, e) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(e)
        .enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.VALID)
        .build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** The BaseRelation a `df.write.format("graft")` call returns — schema
    * of the just-committed head; reads still go through the V2 scan. */
  private[sources] def toWrittenRelation(ctx: SQLContext): BaseRelation =
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = schemaStruct
    }
  /** DECISION RECORD — why this table does NOT advertise
    * `MICRO_BATCH_READ` (kept deliberately; revisit trigger below).
    *
    * The V2 contract: `MICRO_BATCH_READ` requires
    * `Scan.toMicroBatchStream(checkpointLocation)` returning a
    * `MicroBatchStream` whose `planInputPartitions(start, end)` yields
    * serializable `InputPartition`s, each read on executors by a
    * `PartitionReaderFactory` producing `InternalRow`s. The unit of the
    * API is a ROW SPLIT.
    *
    * The engine's micro-batch is a QUERY, not a row split: a file-scoped
    * version diff (two manifest file-set deltas), stacked deletion-vector
    * (path, pos) anti-joins, the column-mapping projection, and the
    * preimage join — one Catalyst plan shared verbatim with the batch CDF
    * door through [[GraftChangeFeed]], which is what PINS streamed ==
    * batch row-for-row (spec-enforced). Re-expressing that as
    * PartitionReaders means re-implementing DV masking, column mapping
    * and the preimage join imperatively per partition — losing
    * whole-stage codegen and AQE over the diff, and forking the one
    * framing into two implementations that can drift.
    *
    * The known workaround — materialize the diff DataFrame at
    * planInputPartitions time and wrap its RDD partitions as
    * InputPartitions carrying (rdd, splitIndex) — was evaluated and
    * rejected: the InputPartition must serialize the full lineage to
    * executors, task retry then recomputes from a driver-built plan
    * whose validity across micro-batch re-planning is unspecified, and
    * offset/commit recovery no longer goes through the one documented V1
    * replay path this source's exactly-once reasoning (and the paced
    * snapshot/reset offsets of [[GraftStreamSource]]) is built on.
    *
    * What V2 would buy: `TableCapability` introspection showing a
    * streaming face, and `readStream.table()` resolution without the V1
    * fallback. What it costs: the engine's own plan as the batch. The
    * fallback to [[GraftDataSource]]'s `StreamSourceProvider` is
    * automatic and user-invisible (`readStream.format("graft")` just
    * works), so the introspection gap is the entire user-facing cost.
    *
    * REVISIT WHEN: Spark offers a plan-returning micro-batch API (a
    * DataFrame-valued `getBatch` analog in DSv2), or this engine drops
    * preimages/DV masking from the feed (removing the inner-plan
    * advantage). Until one of those happens, V1 stays. */
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tablePath, manifest, schemaStruct)
}

class GraftScanBuilder(table: String, m: TableManifest, full: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var received: Array[Filter] = Array.empty
  private var claimed: Array[Filter] = Array.empty
  private var aggAnswer: Option[(StructType, Seq[Seq[Any]])] = None

  /** Is this column POINT-filed across the snapshot — one non-null value
    * per file, no DV (the identity-split / per-group-ingested state,
    * where file-level stats pruning is ROW-exact for single-column
    * predicate shapes)? Probed LAZILY per referenced column and memoized:
    * each probe walks every manifest entry, so precomputing all schema
    * columns up front (the pre-round-15 shape) costs O(files × cols)
    * driver work on the first pushFilters of EVERY scan build — real
    * planning latency at 10⁵–10⁶ files × 32 columns — when the received
    * filters typically name one or two columns. */
  private val pointColMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def isPointCol(lc: String): Boolean =
    pointColMemo.computeIfAbsent(lc, { _ =>
      full.fields.find(
        _.name.toLowerCase(java.util.Locale.ROOT) == lc).exists { fld =>
        MergeTable.statTagOpt(fld.dataType).exists { tag =>
          m.files.forall(e => MergeTable.isPointFor(e,
            MergeTable.physOf(m.columnMap, fld.name), tag))
        }
      }
    })
  /** Spec hook: which columns the point probe actually walked the
    * manifest for (must stay bounded by the filters' references). */
  private[sources] def probedPointCols: Set[String] = {
    import scala.jdk.CollectionConverters._
    pointColMemo.keySet.asScala.toSet
  }
  private def tagOf(a: String): Option[String] =
    full.fields.find(_.name.equalsIgnoreCase(a))
      .flatMap(f => MergeTable.statTagOpt(f.dataType))

  /** Keep the stats-consultable shapes for file skipping; return as
    * residual every filter EXCEPT the provably ROW-exact ones — min/max
    * skipping is file-granular in general, so the engine re-checks each
    * predicate row-wise (the standard skipping contract: pushed =
    * "consulted", residual = "re-checked"). On POINT-FILED columns,
    * though, file-level pruning IS row-level evaluation
    * ([[StatsPruning.rowExactOnPoints]]): those filters are CLAIMED
    * (fully handled), which both drops the redundant outer re-check and
    * lets a filtered aggregate stay metadata-only. ALL received filters
    * — claimed included — are additionally re-applied inside the inner
    * plan so the parquet reader sees them (row-group skipping; for
    * claimed ones it is a second, independent guarantee). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    received = filters
    pushed = filters.filter(StatsPruning.prunable)
    claimed = filters.filter(f => StatsPruning.rowExactOnPoints(f,
      a => isPointCol(a.toLowerCase(java.util.Locale.ROOT)), tagOf))
    filters.filterNot(claimed.contains)
  }
  override def pushedFilters(): Array[Filter] = pushed

  // ---- aggregate pushdown: answer from the manifest, or not at all ------
  // COMPLETE pushdown only — a partial answer (per-partition rows Spark
  // re-aggregates) has no cheaper representation here than the full scan,
  // so anything [[ManifestAgg]] cannot answer EXACTLY from driver-side
  // metadata falls back to the normal scan. Both hooks share one
  // computed answer. Filters are compatible ONLY when every one was
  // CLAIMED (row-exact on point files): the answer then folds over the
  // exactly-matching file subset.
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    if (received.forall(claimed.contains)) {
      val eff =
        if (claimed.isEmpty) m
        else m.copy(files = StatsPruning.prune(m.files, claimed.toSeq,
          c => MergeTable.physOf(m.columnMap, c)))
      aggAnswer = ManifestAgg.answer(eff, full, agg)
    }
    aggAnswer.nonEmpty
  }
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = aggAnswer.nonEmpty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = aggAnswer match {
    case Some((out, row)) => new GraftAggScan(table, m, out, row)
    case None => new GraftScan(table, m, full, required, pushed, received)
  }
}

/** A graft batch scan: [[graft.plans.GraftScanStrategy]] plans its
  * relation as the logical plan [[inlinePlan]] returns, so the scan has
  * no batch reader of its own and nothing runs a job while it is planned. */
trait GraftInlineScan extends Scan {

  /** The scan's rows as a logical plan producing `output` (the scan
    * relation's attributes). */
  protected def build(s: SparkSession, output: Seq[Attribute]): LogicalPlan

  final def inlinePlan(s: SparkSession, output: Seq[Attribute]): LogicalPlan =
    planned.computeIfAbsent(output.map(_.exprId), _ => build(s, output))
  // AQE re-plans the scan relation each time a stage completes: one plan
  // per relation output keeps the rebuild out of that loop
  private val planned =
    new java.util.concurrent.ConcurrentHashMap[Seq[ExprId], LogicalPlan]()

  override def toBatch(): Batch =
    throw new UnsupportedOperationException(
      s"graft batch reads are planned by graft.plans.GraftScanStrategy: " +
        "start the session with spark.sql.extensions=" +
        "graft.functions.GraftExtensions (graft.GraftSession does)")
}

class GraftScan(table: String, m: TableManifest, full: StructType,
    required: StructType, pruneFilters: Array[Filter],
    allFilters: Array[Filter]) extends GraftInlineScan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  // two skipping tiers stack: min/max boxes refute ranges, then the
  // opt-in per-file blooms refute equality/IN probes on columns the
  // boxes can't (high-cardinality, uncorrelated with clustering) —
  // both refute-only, residual filters still re-check every row. The
  // file list is fixed here, so this is where the audit records it.
  private lazy val pruned = {
    val boxed = StatsPruning.prune(m.files, pruneFilters.toSeq,
      c => MergeTable.physOf(m.columnMap, c))
    val kept = graft.ops.BloomIndex.prune(SparkSession.active, table, boxed,
      pruneFilters.toSeq, c => MergeTable.physOf(m.columnMap, c))
    GraftScanAudit.record(GraftScanAudit.ScanAudit(
      table, m.version, m.files.size, kept.size, kept.map(_.path)))
    kept
  }

  /** Manifest-derived size estimate AFTER file skipping — what lets
    * Catalyst broadcast a small (or small-after-pruning) merge-table
    * side of a join instead of shuffling both. Row count is exact
    * (visible rows of the kept files); bytes are rows × the required
    * schema's default widths — the standard in-memory estimate, erring
    * large enough not to broadcast surprises. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val rows = pruned.map(_.visibleRows).sum
      private val width =
        math.max(8, required.fields.map(_.dataType.defaultSize).sum)
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * width)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }

  override def readSchema(): StructType = required
  override def description(): String =
    s"GraftScan $table v${m.version} " +
      s"files=${pruned.size}/${m.files.size} " +
      s"pushed=[${pruneFilters.mkString(", ")}] columns=[${required.fieldNames.mkString(", ")}]"

  /** The engine's snapshot read of the pruned files, producing `output`
    * (the scan relation's attributes), with every received filter
    * re-applied inside it so the parquet reader sees them: file skipping
    * (the manifest stats), row-group skipping (parquet footers) and
    * row-level filtering stack the way a lakehouse reader's should. The
    * residual filter above the scan still re-checks every row it
    * returned — double evaluation of a cheap predicate, never a
    * correctness dependence. */
  override protected def build(s: SparkSession,
      output: Seq[Attribute]): LogicalPlan =
    MergeTable.snapshotPlan(s, table, full, pruned, m.columnMap,
      allFilters.toSeq, output)
}

/** Batch CHANGE DATA FEED table:
  * `spark.read.format("graft").option("readChangeFeed", "true")
  * .option("startingVersion", a)[.option("endingVersion", b)].load(path)`
  * — the union of per-version file-scoped diffs over `[a, b]`, with
  * preimages, `feed_type`, and `_commit_version`, under exactly the
  * framing and beyond-retention semantics of the STREAMING source (one
  * consumer contract, two delivery modes). Pinned at lookup; filters
  * evaluate above the diff (the diff is itself a join — there is no
  * per-file box to consult). */
class GraftCdfTable(tablePath: String,
    shape: GraftChangeFeed.FeedShape, from: Long, to: Long, chunk: Long,
    coalesce: Boolean = false)
    extends Table with SupportsRead {
  override def name(): String = s"graft.`$tablePath` changes v$from..v$to"
  override def schema(): StructType = shape.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
        with SupportsPushDownRequiredColumns {
      private var required: StructType = shape.schema
      private var verLo: Long = from
      private var verHi: Long = to
      private var recognized: Array[Filter] = Array.empty

      /** `_commit_version` predicates NARROW THE VERSION RANGE before a
        * single per-version plan is built — `WHERE _commit_version = N`
        * over a 1000-commit feed plans ONE version's diff, not 1000.
        * Every filter stays residual (the return value): Spark
        * re-applies them above, so the narrowing is a pruning
        * optimization the way the snapshot scan's file skipping is,
        * never a correctness dependence (an `In` with gaps narrows to
        * its envelope and the residual drops the gap versions).
        *
        * coalesceDiffs DISABLES narrowing entirely: a net endpoint diff
        * stamps every row with the RANGE END version, so narrowing the
        * range would redefine the diff window AND restamp the rows —
        * then whether Spark managed to push the predicate (vs. a
        * non-translatable form like `_commit_version + 0 <= 2`, or a
        * filter above a cached frame) would change the result. Under
        * coalesce the net window is bound ONLY by the reader's
        * startingVersion/endingVersion options; version predicates are
        * ordinary residual filters over the stamped rows. */
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        import org.apache.spark.sql.sources._
        if (coalesce) return filters // all residual, no narrowing
        // INTEGRAL values only: a fractional comparand truncated via
        // longValue would narrow unsoundly (LessThan 3.5 must keep v3)
        def ver(v: Any): Option[Long] = v match {
          case n: java.lang.Long => Some(n.longValue)
          case n: java.lang.Integer => Some(n.longValue)
          case n: java.lang.Short => Some(n.longValue)
          case n: java.lang.Byte => Some(n.longValue)
          case _ => None
        }
        val rec = Array.newBuilder[Filter]
        filters.foreach {
          case f @ EqualTo("_commit_version", v) => ver(v).foreach { n =>
            verLo = math.max(verLo, n); verHi = math.min(verHi, n)
            rec += f
          }
          case f @ GreaterThan("_commit_version", v) => ver(v).foreach { n =>
            verLo = math.max(verLo, n + 1); rec += f
          }
          case f @ GreaterThanOrEqual("_commit_version", v) =>
            ver(v).foreach { n => verLo = math.max(verLo, n); rec += f }
          case f @ LessThan("_commit_version", v) => ver(v).foreach { n =>
            verHi = math.min(verHi, n - 1); rec += f
          }
          case f @ LessThanOrEqual("_commit_version", v) =>
            ver(v).foreach { n => verHi = math.min(verHi, n); rec += f }
          case f @ In("_commit_version", vs) if vs != null && vs.nonEmpty =>
            val ns = vs.flatMap(ver)
            if (ns.length == vs.length) {
              verLo = math.max(verLo, ns.min)
              verHi = math.min(verHi, ns.max)
              rec += f
            }
          case _ => ()
        }
        recognized = rec.result()
        filters // ALL residual — re-applied above, narrowing is bonus
      }
      override def pushedFilters(): Array[Filter] = recognized

      /** Column pruning INTO the per-version plans: each one projects
        * to the outer query's required columns, so a 4-column digest
        * over a wide feed reads no other payload or preimage column. */
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): Scan =
        new GraftCdfScan(tablePath, shape, verLo, verHi, chunk, required,
          coalesce)
    }
}

/** The batch change-feed scan over [from, to]. A range wider than
  * `chunk` versions is read as a union of BOUNDED sub-plans: each chunk
  * is its own ≤chunk-version union, optimized on its own, so no
  * optimizer pass ever sees a thousand-way tree; no version is dropped
  * and each is delivered exactly once. */
class GraftCdfScan(tablePath: String, shape: GraftChangeFeed.FeedShape,
    from: Long, to: Long, chunk: Long, required: StructType,
    coalesce: Boolean = false) extends GraftInlineScan {
  override def readSchema(): StructType = required
  override def description(): String =
    s"GraftCdfScan $tablePath v$from..v$to " +
      (if (coalesce) "net " else "") +
      s"columns=[${required.fieldNames.mkString(", ")}]"

  override protected def build(s: SparkSession,
      output: Seq[Attribute]): LogicalPlan = {
    // project INSIDE each sub-plan, so the per-version reads are pruned
    // to the outer query's columns; optimizing it plans and runs nothing
    def pruned(frame: org.apache.spark.sql.DataFrame): LogicalPlan =
      frame.select(required.fieldNames.map(col).toSeq: _*)
        .queryExecution.optimizedPlan
    // coalesceDiffs (same opt-in as the stream door): ONE net diff of
    // the RANGE ENDPOINT snapshots — transient intermediate changes
    // fold away, every row carries _commit_version = `to`. The chunk
    // loop is BYPASSED: rangeChanges is a single bounded two-snapshot
    // plan regardless of range width, and chunking it would deliver
    // cross-chunk transients with per-chunk stamps, contradicting the
    // one-net-diff contract. from = 0 (no from-side snapshot) or a
    // vacuumed endpoint falls back to the (chunked) per-version walk.
    val net =
      if (coalesce && from > 0) GraftChangeFeed.rangeChanges(s, shape, from - 1, to)
      else None
    val parts = net.map(f => Seq(pruned(f))).getOrElse(
      (from to to by chunk).map(lo => pruned(
        GraftChangeFeed.framesFor(s, shape, lo, math.min(lo + chunk - 1, to)))))
    def aliased(p: LogicalPlan) = Project(p.output.zip(output).map {
      case (o, w) => Alias(o, w.name)(w.exprId) }, p)
    parts match {
      case Seq() => LocalRelation(output) // a filter-narrowed empty range
      case Seq(p) => aliased(p)
      case ps => aliased(Union(ps))
    }
  }
}

/** Metadata-only aggregate answers: `count(*)`, `count(col)`,
  * `min(col)`/`max(col)` over a graft snapshot, computed ENTIRELY from
  * the manifest's per-file statistics — zero parquet files opened. The
  * contract is exactness or refusal:
  *
  *  - `count(*)`: Σ visibleRows — exact even under deletion vectors
  *    (each entry tracks its masked-position count).
  *  - `count(col)`: Σ visible non-null — the physical null count minus
  *    the masked rows' recorded null delta (`dvNulls`); a DV'd entry
  *    whose commits predate the delta recording refuses.
  *  - `sum/avg(col)` (integral + decimal only — float/double sums are
  *    evaluation-order-dependent): fold of the per-file EXACT sums,
  *    minus the masked rows' recorded sum deltas (`dvSums`) under DVs;
  *    the FOLD is overflow-checked (a Long-overflowing total refuses
  *    rather than wraps) and avg refuses beyond 2⁵³ (the double
  *    quotient would round its operands).
  *  - `min/max(col)`: fold of the per-file bounds — needs NO deletion
  *    vectors (a DV may have masked the extreme row; no delta can
  *    repair a bound) and a stats entry for every file that can hold a
  *    non-null value (an all-null file contributes nothing and may lack
  *    the entry). Float/double columns whose file contains NaN carry no
  *    entry by design, so NaN-bearing snapshots refuse automatically
  *    (Spark's max would return NaN).
  *
  * `GROUP BY <col(s)>` answers exactly when every file's box for every
  * group column is a POINT with zero nulls and no DVs (the identity-
  * partitioned / per-group-ingested state): each file then belongs to
  * exactly one group, the groups partition the file set, and each
  * group's aggregates fold over its own files under the same rules.
  *
  * Anything else — wide group boxes, filters above the scan, distinct,
  * other functions, beyond-cap columns — returns None and the normal
  * scan runs. Refusal is always safe; an answer is always exact.
  */
private[sources] object ManifestAgg {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.types._

  def answer(m: TableManifest, schema: StructType,
      agg: Aggregation): Option[(StructType, Seq[Seq[Any]])] = {
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        schema.fields.find(_.name.equalsIgnoreCase(nr.fieldNames.head))
      case _ => None
    }
    def phys(c: String): String = MergeTable.physOf(m.columnMap, c)
    def nullsOf(f: MergeTable.DataFileEntry, c: String): Option[Long] = {
      val p = phys(c).toLowerCase(java.util.Locale.ROOT)
      f.nullCounts.collectFirst {
        case (k, v) if k.toLowerCase(java.util.Locale.ROOT) == p => v }
    }
    def statOf(f: MergeTable.DataFileEntry, c: String)
        : Option[MergeTable.ColStat] = {
      val p = phys(c).toLowerCase(java.util.Locale.ROOT)
      f.stats.collectFirst {
        case (k, v) if k.toLowerCase(java.util.Locale.ROOT) == p => v }
    }
    def sumOf(f: MergeTable.DataFileEntry, c: String): Option[String] = {
      val p = phys(c).toLowerCase(java.util.Locale.ROOT)
      f.sums.collectFirst {
        case (k, v) if k.toLowerCase(java.util.Locale.ROOT) == p => v }
    }
    def dvNullsOf(f: MergeTable.DataFileEntry, c: String): Option[Long] = {
      val p = phys(c).toLowerCase(java.util.Locale.ROOT)
      f.dvNulls.collectFirst {
        case (k, v) if k.toLowerCase(java.util.Locale.ROOT) == p => v }
    }
    def dvSumOf(f: MergeTable.DataFileEntry, c: String): Option[String] = {
      val p = phys(c).toLowerCase(java.util.Locale.ROOT)
      f.dvSums.collectFirst {
        case (k, v) if k.toLowerCase(java.util.Locale.ROOT) == p => v }
    }
    /** One file's VISIBLE (non-null count, exact sum) for column c —
      * the building block COUNT/SUM/AVG share, exact-or-refuse:
      *
      *  - DV-free file: physical null count (required) gives the count;
      *    the sum is the recorded entry, a PROVABLY all-null file
      *    contributes zero rows, anything else (overflow-omitted,
      *    legacy) refuses.
      *  - DV'd file: the masked rows' recorded deltas subtract — needs
      *    the per-column dvNulls entry (and, when rows remain, both the
      *    physical sum and the dvSums delta); entries from legacy DV
      *    commits carry no deltas and refuse.
      *
      * Returns None = refuse; Some((n, sum)) with sum None iff n == 0. */
    def visibleSumOf(e: MergeTable.DataFileEntry, c: String,
        needSum: Boolean): Option[(Long, Option[java.math.BigDecimal])] = {
      val physNulls = nullsOf(e, c).getOrElse(return None)
      val dvN = if (e.dv.isEmpty) 0L
        else dvNullsOf(e, c).getOrElse(return None)
      val visNonNull = (e.numRows - e.dvRows) - (physNulls - dvN)
      if (visNonNull == 0L) Some((0L, None))
      else if (!needSum) Some((visNonNull, None))
      else {
        val full = sumOf(e, c).getOrElse(return None) // overflow/legacy
        val masked =
          if (e.dv.isEmpty) java.math.BigDecimal.ZERO
          else new java.math.BigDecimal(
            dvSumOf(e, c).getOrElse(return None))
        Some((visNonNull,
          Some(new java.math.BigDecimal(full).subtract(masked))))
      }
    }
    /** SUM/AVG over one file subset from the per-file exact sums
      * ([[visibleSumOf]] — DV'd files subtract their recorded masked-row
      * deltas). Answerable domains are the ones the writer records —
      * integral (result: Spark's LongType sum / DoubleType avg) and
      * decimal (widened decimal sum / HALF_UP avg); anything
      * unrecoverable (legacy manifest, overflow-omitted entry, legacy
      * DV, float/double column) refuses. The FOLD is overflow-checked
      * too: an integral total outside Long range refuses rather than
      * reproducing Spark's overflow behavior from metadata. */
    def summed(files: Seq[MergeTable.DataFileEntry], f: StructField,
        isAvg: Boolean): Option[(StructField, Any)] = {
      import java.math.{BigDecimal => JBig, RoundingMode}
      val decimalIn = f.dataType match {
        case d: DecimalType => Some(d)
        case ByteType | ShortType | IntegerType | LongType => None
        case _ => return None // float/double/other: never answered
      }
      val perFile = files.map(e => visibleSumOf(e, f.name, needSum = true))
      if (perFile.exists(_.isEmpty)) return None
      val present = perFile.flatten
      val cnt = present.map(_._1).sum
      val total = present.flatMap(_._2)
        .foldLeft(JBig.ZERO)(_.add(_))
      val (outType, value): (DataType, Any) = (decimalIn, isAvg) match {
        case (None, false) => // sum(integral) → LongType, refuse overflow
          if (cnt == 0L) (LongType, null)
          else {
            val l = try total.longValueExact()
            catch { case _: ArithmeticException => return None }
            (LongType, l)
          }
        case (None, true) => // avg(integral) → DoubleType
          if (cnt == 0L) (DoubleType, null)
          else {
            // exact operands only: a |sum| beyond 2⁵³ would make the
            // double quotient depend on the rounding of the operand
            // itself — refuse instead of answering inexactly
            val l = try total.longValueExact()
            catch { case _: ArithmeticException => return None }
            if (math.abs(l) > (1L << 53) || cnt > (1L << 53)) return None
            (DoubleType, l.toDouble / cnt.toDouble)
          }
        case (Some(d), false) => // sum(decimal(p,s)) → decimal(min(38,p+10),s)
          val rt = DecimalType(math.min(38, d.precision + 10), d.scale)
          if (cnt == 0L) (rt, null)
          else {
            val v = total.setScale(d.scale)
            if (v.precision > rt.precision) return None
            (rt, v)
          }
        case (Some(d), true) => // avg(decimal(p,s)) → Spark's bounded p+4/s+4
          val rt = DecimalType(math.min(38, d.precision + 4),
            math.min(38, d.scale + 4))
          if (cnt == 0L) (rt, null)
          else {
            val v = total.divide(new JBig(cnt), rt.scale,
              RoundingMode.HALF_UP)
            if (v.precision > rt.precision) return None
            (rt, v)
          }
      }
      val name = s"${if (isAvg) "avg" else "sum"}(${f.name})"
      Some((StructField(name, outType, nullable = true), value))
    }
    def seqOf(m2: Map[String, Seq[String]], c: String): Option[Seq[String]] = {
      val p = phys(c).toLowerCase(java.util.Locale.ROOT)
      m2.collectFirst {
        case (k, v) if k.toLowerCase(java.util.Locale.ROOT) == p => v }
    }
    /** One DV'd file's visible min/max through the OPT-IN ledgers
      * ([[MergeTable.DataFileEntry.bottomK]] design note): subtract the
      * recorded masked prefix from the k-extreme ledger (saturating
      * multiset); the first survivor is the exact visible bound. Refuses
      * (None) without a ledger, without the masked prefix, when the
      * recorded prefix cannot prove in-range completeness, or when the
      * ledger exhausts; Some(None) = provably contributes nothing. */
    def dvBound(e: MergeTable.DataFileEntry, f: StructField, tag: String,
        isMin: Boolean): Option[Option[String]] = {
      val stat = statOf(e, f.name)
      if (stat.isEmpty)
        return nullsOf(e, f.name) match {
          case Some(n) if n == e.numRows => Some(None) // all-null file
          case _ => None // unknown (NaN-bearing or legacy) — refuse
        }
      if (stat.get.t != tag) return None // stale tag (retype?) — refuse
      val L = seqOf(if (isMin) e.bottomK else e.topK, f.name)
        .getOrElse(Seq.empty)
      if (L.isEmpty) return None // no ledger: the pre-ledger refusal
      val physNulls = nullsOf(e, f.name).getOrElse(return None)
      val dvN = dvNullsOf(e, f.name).getOrElse(return None)
      val maskedNonNull = e.dvRows - dvN
      // the recorded masked prefix; an ABSENT entry is unknown history
      // (a ledger-less DV commit happened) — refuse unless no masked
      // row holds a value at all
      val D = seqOf(if (isMin) e.dvBottom else e.dvTop, f.name) match {
        case Some(d) => d
        case None if maskedNonNull == 0L => Seq.empty[String]
        case None => return None
      }
      // "ahead" = at least as close to the extremum (≤ for min, ≥ max)
      def ahead(a: String, b: String): Boolean =
        if (isMin) StatsPruning.leq(tag, a, b)
        else StatsPruning.leq(tag, b, a)
      // in-range completeness: every masked value recorded, or the last
      // recorded one already beyond the ledger's boundary (any
      // unrecorded masked value is further out by construction — the
      // prefix holds the k most extreme masked values)
      val complete = D.size.toLong == maskedNonNull ||
        (D.nonEmpty && !ahead(D.last, L.last))
      if (!complete) return None
      val survivors = scala.collection.mutable.ArrayBuffer(L: _*)
      D.foreach { v =>
        val i = survivors.indexOf(v)
        if (i >= 0) survivors.remove(i)
      }
      if (survivors.nonEmpty) Some(Some(survivors.head))
      // ledger exhausted: decidable only when it held the COLUMN WHOLE
      // (every non-null value) — then nothing visible remains
      else if (L.size.toLong == e.numRows - physNulls) Some(None)
      else None
    }
    /** min/max over a file subset — the DV-free fold, with the ledger
      * repair for DV'd entries (exactness or refusal per file). */
    def boundOf(files: Seq[MergeTable.DataFileEntry],
        field: Option[StructField], isMin: Boolean)
        : Option[(StructField, Any)] =
      field.flatMap { f =>
        MergeTable.statTagOpt(f.dataType).flatMap { tag =>
          // every file must carry a matching stats entry, be PROVABLY
          // all-null (contributes nothing), or repair through its ledger
          val perFile: Seq[Option[Option[String]]] = files.map { e =>
            if (e.dv.nonEmpty) dvBound(e, f, tag, isMin)
            else statOf(e, f.name) match {
              case Some(cs) if cs.t == tag =>
                Some(Some(if (isMin) cs.min else cs.max))
              case Some(_) => None // stale tag (retype?) — refuse
              case None => nullsOf(e, f.name) match {
                case Some(n) if n == e.numRows => Some(None) // all-null
                case _ => None // unknown — refuse
              }
            }
          }
          if (perFile.exists(_.isEmpty)) None
          else {
            val vals = perFile.flatten.flatten
            val winner = vals.reduceOption { (a, b) =>
              val aLeqB = StatsPruning.leq(tag, a, b)
              if (isMin) (if (aLeqB) a else b) else (if (aLeqB) b else a)
            }
            val name = s"${if (isMin) "min" else "max"}(${f.name})"
            Some((StructField(name, f.dataType, nullable = true),
              winner.map(statToExternal(tag, _, f.dataType)).orNull))
          }
        }
      }
    /** Every aggregate expression evaluated over ONE file subset (the
      * whole table for a global aggregate, one group's files for a
      * grouped one) — exactness or refusal per expression. */
    def evalAggs(files: Seq[MergeTable.DataFileEntry])
        : Option[Seq[(StructField, Any)]] = {
      val results = agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some((StructField("count(*)", LongType, nullable = false),
            files.map(_.visibleRows).sum: Any))
        case c: Count if !c.isDistinct =>
          // exact under DVs too: the masked rows' null deltas recover
          // each file's VISIBLE non-null count (legacy DV'd entries
          // without deltas refuse)
          colOf(c.column).flatMap { f =>
            val perFile =
              files.map(e => visibleSumOf(e, f.name, needSum = false))
            if (perFile.forall(_.nonEmpty))
              Some((StructField(s"count(${f.name})", LongType,
                nullable = false), perFile.flatten.map(_._1).sum: Any))
            else None
          }
        // min/max under a DV'd subset repair per file through the opt-in
        // ledgers ([[dvBound]]); a file without one refuses (a masked
        // row may hold the extremum; no scalar delta repairs a bound)
        case mn: Min => boundOf(files, colOf(mn.column), isMin = true)
        case mx: Max => boundOf(files, colOf(mx.column), isMin = false)
        case s: Sum if !s.isDistinct =>
          colOf(s.column).flatMap(f => summed(files, f, isAvg = false))
        case a: Avg if !a.isDistinct =>
          colOf(a.column).flatMap(f => summed(files, f, isAvg = true))
        case _ => None
      }
      if (results.exists(_.isEmpty)) None else Some(results.flatten)
    }

    if (agg.groupByExpressions.isEmpty)
      evalAggs(m.files).map(rs =>
        (StructType(rs.map(_._1)), Seq(rs.map(_._2))))
    else {
      // GROUP BY <cluster col(s)>: answerable exactly from the manifest
      // when every VISIBLE-row-bearing file's box for every group column
      // is a POINT with zero VISIBLE nulls (the post-OPTIMIZE clustered
      // state) — then each file belongs to exactly one group, the groups
      // partition the file set, and every per-group aggregate reuses the
      // global machinery over the group's files. A deletion vector does
      // NOT widen membership: the masked rows shared the file's point
      // value, so a DV'd point file whose physical nulls are all masked
      // (the recorded delta proves it) still belongs to exactly its
      // group, and a fully-masked file contributes to no group at all —
      // exactly Spark's GROUP BY, which emits no row for an empty group.
      // Any wider box, visible null, unrecorded delta, or missing stats
      // entry refuses (a file spanning two groups cannot be split by
      // metadata).
      val groupFields = agg.groupByExpressions.toSeq.map(colOf)
      if (groupFields.exists(_.isEmpty)) return None
      val gfs = groupFields.flatten
      val tags = gfs.map(f => MergeTable.statTagOpt(f.dataType))
      if (tags.exists(_.isEmpty)) return None
      val gts = gfs.zip(tags.flatten)
      // group keys come from the RENDERED stat strings, and doubles render
      // signed zeros distinctly ("-0.0" vs "0.0") while Spark's GROUP BY
      // normalizes them into ONE group — canonicalize before keying, or
      // two point files holding -0.0 and 0.0 would answer two groups
      // (a wrong answer, not a refusal)
      def keyNorm(tag: String, s: String): String =
        if (tag == "double" && s.toDouble == 0.0) "0.0" else s
      /** Point membership for grouping: the strict shared definition for
        * DV-free files ([[MergeTable.isPointFor]] — also OPTIMIZE SPLIT
        * BY's candidate filter, which rightly still treats a DV'd file
        * as rewrite debt); for a DV'd file, a point box with zero
        * VISIBLE nulls, provable only through the recorded null delta. */
      def visiblePoint(e: MergeTable.DataFileEntry, c: String,
          tag: String): Boolean =
        if (e.dv.isEmpty) MergeTable.isPointFor(e, phys(c), tag)
        else statOf(e, c).exists(cs => cs.t == tag && cs.min == cs.max) &&
          (for { pn <- nullsOf(e, c); dn <- dvNullsOf(e, c) }
            yield pn - dn == 0L).getOrElse(false)
      val keyed = m.files.filter(_.visibleRows > 0L).map { e =>
        val key = gts.map { case (f, tag) =>
          if (visiblePoint(e, f.name, tag))
            statOf(e, f.name).map(cs => keyNorm(tag, cs.min))
          else None // wide box / visible nulls / unknown: not point-filed
        }
        if (key.exists(_.isEmpty)) None else Some((key.flatten, e))
      }
      if (keyed.exists(_.isEmpty)) return None
      // the agg FIELDS come from an empty-set evaluation so a zero-group
      // (empty-table) answer still carries the right schema
      val aggFields = evalAggs(Seq.empty).getOrElse(return None).map(_._1)
      val outSchema = StructType(
        gfs.map(_.copy(nullable = false)) ++ aggFields)
      val groups = keyed.flatten.groupBy(_._1).toSeq.sortBy(_._1.mkString("\u0000"))
      val rows = groups.map { case (k, fs) =>
        evalAggs(fs.map(_._2)).map { rs =>
          gts.zip(k).map { case ((f, tag), v) =>
            statToExternal(tag, v, f.dataType) } ++ rs.map(_._2)
        }
      }
      if (rows.exists(_.isEmpty)) None
      else Some((outSchema, rows.flatten))
    }
  }

  /** Canonical stat string → the column's EXTERNAL row value. */
  private def statToExternal(tag: String, s: String, dt: DataType): Any =
    (tag, dt) match {
      case ("long", ByteType) => s.toLong.toByte
      case ("long", ShortType) => s.toLong.toShort
      case ("long", IntegerType) => s.toLong.toInt
      case ("long", LongType) => s.toLong
      case ("double", FloatType) => s.toDouble.toFloat
      case ("double", DoubleType) => s.toDouble
      case ("string", StringType) => s
      case ("timestamp", TimestampType) =>
        val micros = s.toLong
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          Math.floorMod(micros, 1000000L) * 1000L))
      case ("date", DateType) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(s.toLong))
      case ("decimal", _: DecimalType) => new java.math.BigDecimal(s)
      case other => sys.error(s"stat/type mismatch: $other")
    }
}

/** The scan behind a COMPLETELY pushed-down aggregate: driver-computed
  * rows (one for a global aggregate, one per group for a point-filed
  * GROUP BY), zero data files opened (the audit records
  * scannedFiles = 0). */
class GraftAggScan(table: String, m: TableManifest, out: StructType,
    rows: Seq[Seq[Any]]) extends GraftInlineScan {
  override def readSchema(): StructType = out
  override def description(): String =
    s"GraftAggScan $table v${m.version} metadata-only rows=${rows.size} " +
      s"[${out.fieldNames.mkString(", ")}]"
  override protected def build(s: SparkSession,
      output: Seq[Attribute]): LogicalPlan = {
    GraftScanAudit.record(GraftScanAudit.ScanAudit(
      table, m.version, m.files.size, 0, Seq.empty))
    LocalRelation.fromExternalRows(output, rows.map(Row.fromSeq))
  }
}

/** Spec instrumentation: the last scan's file-pruning outcome, keyed by
  * table path so concurrent suites over different tables can't clobber
  * each other's observation. Execution metadata only — never consulted
  * by the read path. */
object GraftScanAudit {
  case class ScanAudit(table: String, version: Long, totalFiles: Int,
      scannedFiles: Int, scannedPaths: Seq[String])
  @volatile private var lastAudit: Option[ScanAudit] = None
  private val byTable =
    new java.util.concurrent.ConcurrentHashMap[String, ScanAudit]()
  private[sources] def record(a: ScanAudit): Unit = {
    lastAudit = Some(a)
    byTable.put(a.table, a)
  }
  def last: Option[ScanAudit] = lastAudit
  def lastFor(table: String): Option[ScanAudit] = Option(byTable.get(table))
  def reset(): Unit = { lastAudit = None; byTable.clear() }
}

/** Catalog plugin: `spark.sql.catalog.graft=graft.sources.GraftCatalog`
  * makes every merge table SQL-addressable by path —
  * `SELECT * FROM graft.`/abs/path``, including `VERSION AS OF` /
  * `TIMESTAMP AS OF` time travel via the [[TableCatalog]] loadTable
  * overloads. DDL (create/alter/drop/rename) is intentionally
  * unsupported: merge tables are created by their first transactional
  * commit, and their schema evolves through the merge surface, not DDL.
  */
class GraftCatalog extends TableCatalog {
  private var catalogName: String = "graft"

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = catalogName = name
  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString("/")

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-addressed: there is no enumerable namespace

  override def loadTable(ident: Identifier): Table =
    GraftTable.resolve(pathOf(ident), None, None)

  /** `VERSION AS OF <v>` */
  override def loadTable(ident: Identifier, version: String): Table =
    GraftTable.resolve(pathOf(ident), Some(version), None)

  /** `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    GraftTable.resolve(pathOf(ident), None,
      Some(Math.floorDiv(timestamp, 1000L).toString))

  override def tableExists(ident: Identifier): Boolean =
    MergeTable.latestManifest(pathOf(ident)).nonEmpty

  /** Advertise CHECK-constraint DDL — without this Spark rejects
    * `ALTER TABLE … ADD CONSTRAINT` before it ever reaches alterTable. */
  override def capabilities():
      util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** `CREATE TABLE graft.`/abs/path` (cols…) USING graft TBLPROPERTIES
    * ('keys' = 'col[,col]' [, 'clusterBy' = '…'])` — the DDL face of
    * "a graft table is created by its first transactional commit": the
    * create IS an empty first merge (v0 pins schema, keys, clustering;
    * zero data files), so every later write goes through the same
    * protocol and `VERSION AS OF 0` reads back the empty table. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables cluster by their merge keys; PARTITIONED BY is not " +
        "supported (use TBLPROPERTIES ('clusterBy' = …))")
    val path = pathOf(ident)
    def split(s: String) = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val props = properties.asScala
    val keys = props.get("keys").map(split).getOrElse(sys.error(
      "CREATE TABLE … USING graft needs TBLPROPERTIES " +
        "('keys' = 'col[,col]') — graft tables are key-unique merge tables"))
    keys.foreach(k => require(schema.fieldNames.exists(_.equalsIgnoreCase(k)),
      s"keys property names '$k', which is not a table column"))
    val clusterBy = props.get("clusterby").map(split).getOrElse(keys)
    require(MergeTable.latestManifest(path).isEmpty,
      s"graft table $path already exists")
    val spark = SparkSession.active
    // remaining TBLPROPERTIES persist as versioned table properties
    // (keys/clusterBy are first-class manifest facts; Spark's own
    // bookkeeping props are not table state). VALIDATED against the
    // declared schema BEFORE the first commit: a rejected property must
    // fail the whole CREATE, not leave a half-created table that blocks
    // the user's corrected retry with table-already-exists
    val sparkManaged = Set("keys", "clusterby", "provider", "location",
      "owner", "external", "option.paths", "transient_lastddltime")
    val user = props.filterNot { case (k, _) =>
      sparkManaged.contains(k.toLowerCase(java.util.Locale.ROOT))
    }.toMap
    MergeTable.validateProperties(schema, user)
    val empty = spark.createDataFrame(
      new java.util.ArrayList[Row](), schema)
    MergeTable.mergeUpsert(spark, path, empty, keys, clusterBy)
    if (user.nonEmpty) MergeTable.setProperties(spark, path, user)
    GraftTable.resolve(path, None, None)
  }
  /** `ALTER TABLE graft.`/p` RENAME COLUMN a TO b` / `DROP COLUMN a` —
    * Spark's own DDL resolution lands here as [[TableChange]]s, and each
    * maps onto the engine's METADATA-ONLY column-mapping commits
    * ([[MergeTable.renameColumn]] / [[MergeTable.dropColumn]]): no data
    * file is rewritten, old versions still read the old shape, and a
    * dropped physical name is tombstoned so a later re-add can never
    * resurrect its bytes. Everything else (retype, reorder, nested
    * fields) stays rejected — those are migrations, not relabels. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = pathOf(ident)
    // property changes batch into ONE metadata commit per statement:
    // Spark hands `SET TBLPROPERTIES ('a'='1','b'='2')` over as one
    // SetProperty per key, and committing them one-by-one would leave a
    // rejected statement half-applied (and cost N versions for N keys)
    val setProps = changes.collect {
      case sp: TableChange.SetProperty => sp.property() -> sp.value()
    }.toMap
    if (setProps.nonEmpty)
      MergeTable.setProperties(SparkSession.active, path, setProps)
    val unsetProps = changes.collect {
      case rp: TableChange.RemoveProperty => rp.property()
    }
    if (unsetProps.nonEmpty)
      // Spark's UNSET TBLPROPERTIES resolves IF EXISTS itself and
      // always hands the catalog plain removes; mirror that laxness
      MergeTable.unsetProperties(path, unsetProps, ifExists = true)
    changes.foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          s"graft ALTER supports top-level columns only, got " +
            s"${r.fieldNames.mkString(".")}")
        MergeTable.renameColumn(path, r.fieldNames.head, r.newName)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          s"graft ALTER supports top-level columns only, got " +
            s"${d.fieldNames.mkString(".")}")
        MergeTable.dropColumn(path, d.fieldNames.head)
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"graft ALTER supports top-level columns only, got " +
            s"${a.fieldNames.mkString(".")}")
        require(a.isNullable,
          s"graft ADD COLUMN ${a.fieldNames.head} must be nullable — " +
            "rows written before the widening read back as NULL")
        MergeTable.addColumn(path, a.fieldNames.head, a.dataType)
      // `ALTER TABLE graft.`p` ADD CONSTRAINT name CHECK (expr)` —
      // Spark's own constraint grammar lands here; the engine validates
      // the whole current table, then commits the constraint as
      // versioned metadata enforced on every later staged write
      case a: TableChange.AddConstraint => a.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          require(c.predicateSql() != null && c.predicateSql().nonEmpty,
            "graft CHECK constraints need a SQL predicate")
          MergeTable.addConstraint(SparkSession.active, path,
            c.name(), c.predicateSql())
        case other => throw new UnsupportedOperationException(
          s"graft supports CHECK constraints only; " +
            s"${other.getClass.getSimpleName} (PK/FK/UNIQUE) is " +
            "informational in Spark and a key-unique merge table " +
            "already enforces key uniqueness transactionally")
      }
      case d: TableChange.DropConstraint =>
        MergeTable.dropConstraint(path, d.name(), ifExists = d.ifExists())
      // property changes were batched above
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => ()
      case other => throw new UnsupportedOperationException(
        s"graft ALTER TABLE supports ADD / RENAME / DROP COLUMN " +
          s"(metadata-only column mapping) and ADD / DROP CONSTRAINT; " +
          s"${other.getClass.getSimpleName} " +
          "goes through the merge surface or an explicit migration")
    }
    GraftTable.resolve(path, None, None)
  }
  /** `DROP TABLE graft.`/abs/path`` — the engine's dropTable (removes the
    * data tree AND poisons the cached incarnation, so a same-path
    * recreate never inherits stale state). */
  override def dropTable(ident: Identifier): Boolean = {
    val path = pathOf(ident)
    if (MergeTable.latestManifest(path).isEmpty) false
    else { MergeTable.dropTable(path); true }
  }
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft tables are path-addressed; rename is a filesystem move")
}
