package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.MergeTable

/** The ONE change-feed framing shared by every CDF surface — the
  * streaming source ([[GraftStreamSource]]) and the batch
  * `option("readChangeFeed", "true")` read ([[GraftCdfTable]]): a pinned
  * column set (table columns + `<c>_pre` preimages + `change_type`,
  * `feed_type`, `_commit_version`), per-version FILE-SCOPED diffs, and
  * the beyond-retention snapshot-boot / skip-subsumption semantics of
  * the sink-side feed. One framing, three doors — a consumer written
  * against any of them reads the same rows. */
private[graft] object GraftChangeFeed {

  /** The feed's pinned shape, derived from one resolved manifest.
    * `metaCols` is the EXACT set of feed-metadata column names this shape
    * generates — [[aligned]] classifies by membership in it, never by a
    * name suffix, so a table is free to carry columns like `score_pre`. */
  case class FeedShape(tablePath: String, tableSchema: StructType,
      schema: StructType, surface: String, metaCols: Set[String])

  def shapeFor(tablePath: String, m: MergeTable.TableManifest,
      surface: String): FeedShape = {
    val tableSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val payload = tableSchema.fieldNames.filterNot(m.keys.contains).toSeq
    val metaCols = payload.map(c => s"${c}_pre").toSet ++
      Set("change_type", "feed_type", "_commit_version")
    // a table column named exactly like a generated feed column (either a
    // reserved name or another payload column's `<c>_pre` preimage) would
    // make the feed schema ambiguous — reject it here, at shape time, so
    // all three CDF doors fail identically and loudly
    val colliding = tableSchema.fieldNames.filter(metaCols.contains)
    require(colliding.isEmpty,
      s"graft $surface over $tablePath: table column(s) " +
        s"${colliding.mkString(", ")} collide with the change feed's " +
        "generated columns (change_type, feed_type, _commit_version, and " +
        "one `<col>_pre` preimage per payload column) — rename them " +
        "before reading this table as a change feed")
    val schema = StructType(
      tableSchema.fields.map(f => f.copy(nullable = true)) ++
        payload.map(c =>
          StructField(s"${c}_pre", tableSchema(c).dataType, nullable = true)) ++
        Seq(StructField("change_type", StringType, nullable = false),
          StructField("feed_type", StringType, nullable = false),
          StructField("_commit_version", LongType, nullable = false)))
    FeedShape(tablePath, tableSchema, schema, surface, metaCols)
  }

  /** Project one per-version frame onto the pinned feed schema; fail
    * LOUDLY on a column-set drift (rename/drop/widen mid-feed). */
  def aligned(shape: FeedShape, df: DataFrame, feedType: String,
      v: Long): DataFrame = {
    val have = df.columns.toSet
    val dataCols = df.columns.filterNot(shape.metaCols.contains).toSet
    val pinned = shape.tableSchema.fieldNames.toSet
    require(dataCols == pinned,
      s"graft ${shape.surface} over ${shape.tablePath}: version $v's " +
        s"column set ${dataCols.toSeq.sorted.mkString(",")} differs from " +
        s"the pinned schema ${pinned.toSeq.sorted.mkString(",")} — the " +
        "table's schema changed mid-feed; restart the " +
        s"${shape.surface} to adopt it")
    df.select(shape.schema.fields.map { f =>
      f.name match {
        case "feed_type" => lit(feedType).as("feed_type")
        case "_commit_version" => lit(v).as("_commit_version")
        case n if have.contains(n) => col(n).cast(f.dataType).as(n)
        case n => lit(null).cast(f.dataType).as(n) // snapshot rows: _pre
      }
    }.toSeq: _*)
  }

  /** The full snapshot of `m` as INSERT rows. */
  def snapshotFrame(spark: SparkSession, shape: FeedShape,
      m: MergeTable.TableManifest, feedType: String): DataFrame =
    aligned(shape, MergeTable.readManifest(spark, shape.tablePath, m)
      .withColumn("change_type", lit("INSERT")), feedType, m.version)

  /** The one-row `RESET_END` marker closing a paged mid-stream reset
    * epoch (`_commit_version = v`): data and preimage columns null,
    * `change_type = "RESET_END"`, `feed_type = "reset"`. A consumer
    * staging epoch v's `feed_type = "reset"` rows commits the staging
    * as its new state at the end of the batch carrying this row
    * ([[GraftStreamSource]]'s consumer contract). */
  def resetEndMarker(spark: SparkSession, shape: FeedShape,
      v: Long): DataFrame = {
    val row = org.apache.spark.sql.Row.fromSeq(shape.schema.fields.map {
      f => f.name match {
        case "change_type" => "RESET_END"
        case "feed_type" => "reset"
        case "_commit_version" => java.lang.Long.valueOf(v)
        case _ => null
      }
    }.toSeq)
    spark.createDataFrame(java.util.List.of(row), shape.schema)
  }

  private def tryManifest(tablePath: String, v: Long)
      : Option[MergeTable.TableManifest] =
    try MergeTable.manifestAt(tablePath, v)
    catch { case _: MergeTable.MissingVersionException => None }

  /** Spec/probe observability: [[versionChanges]] INVOCATIONS since JVM
    * start (a vacuumed-away version counts even though it builds no
    * frame) — what lets a test assert that a `_commit_version`-filtered
    * batch read walked ONE version, not the whole range. Never
    * consulted by any read path. */
  private[graft] val planBuildCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** One version's changes: the file-scoped diff against v−1, the
    * snapshot boot when v−1 is beyond retention (manifest OR the data
    * files underneath it — a retained log record is no proof the files
    * it references survived), None when v itself is gone (subsumed by
    * the next readable version's boot). Only PROVABLY-missing-data
    * conditions downgrade ([[graft.streaming.StreamingChangeFeed
    * .isMissingData]], typed) — anything else fails loudly. */
  def versionChanges(spark: SparkSession, shape: FeedShape,
      v: Long): Option[DataFrame] = {
    planBuildCount.incrementAndGet()
    import graft.streaming.StreamingChangeFeed.isMissingData
    // resolve v−1 FIRST (a cache hit from the previous version's
    // delivery), then v as a one-delta forward fold — the same
    // resolution-order discipline as the sink-side feed
    val prevOpt = if (v == 0L) None else tryManifest(shape.tablePath, v - 1)
    try tryManifest(shape.tablePath, v).map { mv =>
      def boot(feed: String) = snapshotFrame(spark, shape, mv, feed)
      prevOpt match {
        case None => boot(if (v == 0L) "diff" else "snapshot")
        case Some(mp) =>
          try aligned(shape, MergeTable.changesBetweenManifests(
            spark, shape.tablePath, mp, mv, preimages = true), "diff", v)
          catch {
            case e: Throwable if isMissingData(e) => boot("snapshot")
          }
      }
    } catch {
      // v's own data is gone too: skip — the next readable version's
      // snapshot boot subsumes it
      case e: Throwable if isMissingData(e) => None
    }
  }

  /** NET changes over (fromV, toV] as ONE plan: the file-scoped diff of
    * the two ENDPOINT snapshots — semantically the last-writer-wins fold
    * of the per-version changes. Intermediate versions' transient states
    * are NOT delivered (a key inserted then deleted inside the range
    * emits nothing; a key updated twice emits once, with the final
    * payload) and every change row carries `_commit_version = toV` —
    * the deep-drain reading behind the stream door's `coalesceDiffs`
    * opt-in: a 10,000-version lag reads as one diff of the changed-file
    * sets instead of 10,000 unioned sub-plans. None when either
    * endpoint's manifest or data is gone — the caller falls back to the
    * per-version walk, whose boot/skip/reset classification owns those
    * cases. */
  def rangeChanges(spark: SparkSession, shape: FeedShape,
      fromV: Long, toV: Long): Option[DataFrame] = {
    import graft.streaming.StreamingChangeFeed.isMissingData
    if (fromV < 0) return None // v0 boots per-version (no from-side)
    if (toV == fromV + 1) return versionChanges(spark, shape, toV)
    (tryManifest(shape.tablePath, fromV),
      tryManifest(shape.tablePath, toV)) match {
      case (Some(mp), Some(mv)) =>
        try Some(aligned(shape, MergeTable.changesBetweenManifests(
          spark, shape.tablePath, mp, mv, preimages = true), "diff", toV))
        catch { case e: Throwable if isMissingData(e) => None }
      case _ => None
    }
  }

  /** A batch CDF read is ONE plan unioning one diff per version — a
    * range of tens of thousands of commits would build a planner-hostile
    * tree. The guard is LOUD, never a silent truncation. The batch
    * `format("graft")` door never hits it: [[GraftCdfScan]] reads a
    * wide range as a union of ≤MaxBatchVersions sub-plans, each optimized
    * on its own (tunable via `maxVersionsPerRead`). The `graft_changes` TVF
    * builds its relation at ANALYSIS time, where only a logical plan can
    * exist — a wide range there redirects to the batch reader or the
    * stream. */
  val MaxBatchVersions = 1000L

  /** The effective plan-width bar: `spark.graft.cdf.maxBatchVersions`
    * (session conf) overrides the default — hosts differ in how wide a
    * union their planner comfortably holds, and specs scale it down to
    * exercise the chunked path without thousand-commit fixtures. */
  def maxBatchVersions(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.cdf.maxBatchVersions")
      .map(_.toLong).getOrElse(MaxBatchVersions)

  /** The union of per-version frames over [from, to] — the batch CDF
    * door (once per chunk) and the `graft_changes` TVF share this one
    * range walk. */
  def framesFor(spark: SparkSession, shape: FeedShape,
      from: Long, to: Long): DataFrame = {
    val bar = maxBatchVersions(spark)
    require(to - from < bar,
      s"graft ${shape.surface} over ${shape.tablePath}: range [$from, $to] " +
        s"spans ${to - from + 1} versions (> $bar) in ONE " +
        "plan — read it through spark.read.format(\"graft\")" +
        ".option(\"readChangeFeed\", \"true\") (which chunks wide ranges; " +
        "tune with maxVersionsPerRead), or stream it " +
        "(readStream pages by maxVersionsPerTrigger)")
    val frames = (from to to).flatMap(v => versionChanges(spark, shape, v))
    if (frames.isEmpty) emptyFrame(spark, shape)
    else frames.reduce(_ unionByName _)
  }

  def emptyFrame(spark: SparkSession, shape: FeedShape): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), shape.schema)
}
