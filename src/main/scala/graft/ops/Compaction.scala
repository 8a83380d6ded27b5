package graft.ops

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Small-file compaction — the table-maintenance job every 100 TB ingest
  * needs: a streaming or many-executor write leaves each day partition as
  * hundreds of small files (one per task per micro-batch); scans then pay
  * per-file open/footer/listing costs that dwarf the IO, and the NameNode/
  * object-store listing itself becomes the bottleneck.
  *
  * The compactor is one REBALANCE-hinted shuffle per maintenance run:
  * `hint("rebalance", partitionCol)` hashes rows to their partition and
  * lets AQE size the reduce side — small days COALESCE into one task
  * (merging their files), hot days SPLIT across tasks (capped file size)
  * because `optimizeSkewsInRebalancePartitions` slices oversized
  * partitions at map-block granularity. That beats the two naive forms:
  * `coalesce(n)` (no per-partition control, skew-blind) and
  * `repartition(partitionCol)` (exactly one task — and one giant file —
  * per hot day). Target file size is the scoped
  * `advisoryPartitionSizeInBytes`, the same knob a real maintenance job
  * exposes. CompactionSpec pins the file counts before/after and that hot
  * days still produce >1 bounded file.
  */
object Compaction {

  /** Per-day fragment count the synthetic pre-state writes — stands in for
    * "hundreds of micro-batch files per partition". */
  val FragmentFactor = 24

  private def base(tag: String) = Paths.get(
    System.getProperty("java.io.tmpdir", "/tmp"), "graft-compact", tag)

  /** Deliberately fragmented date-partitioned copy of `events`:
    * round-robin into [[FragmentFactor]] tasks BEFORE `partitionBy`, so
    * every day directory lands as ~FragmentFactor files — the post-ingest
    * state a compactor faces. Keyed by (input dir, app id) like
    * [[graft.sources.Partitioned.ensure]] so concurrent JVMs never race. */
  def ensureFragmented(s: SparkSession, sfDir: String): String =
    // durable per corpus version via identity-keyed atomic-rename publish
    // — the fragmented PRE-state is deterministic in the input, so later
    // processes load it instead of re-fragmenting
    Compaction.synchronized {
      IndexStore.loadOrBuildDir(
        IndexStore.scopedName("fragmented-events", sfDir),
        Tables.fileIdent(s, sfDir, "events")) { tmp =>
        Tables.read(s, sfDir, "events")
          .withColumn("event_date", to_date(col("ts")))
          .repartition(FragmentFactor)
          .write.partitionBy("event_date").mode("overwrite")
          .parquet(tmp.toString)
      }
    }

  /** Compact `inPath` (date-partitioned parquet) into `outPath` with
    * target file size `targetBytes`. One shuffle; AQE owns the output
    * file count per day. */
  def compact(s: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      targetBytes.toString)
    scoped.conf.set(
      "spark.sql.adaptive.optimizeSkewsInRebalancePartitions.enabled", "true")
    scoped.read.parquet(inPath)
      .hint("rebalance", col("event_date"))
      .write.partitionBy("event_date").mode("overwrite")
      .parquet(outPath)
  }

  /** Incremental compaction — the form a nightly maintenance job actually
    * runs: list the partition directories (bounded driver-side metadata,
    * one entry per day), pick ONLY the days whose file count exceeds
    * `minFiles`, and rewrite just those via dynamic partition overwrite.
    * Healthy partitions are never read, never rewritten — their files stay
    * byte-identical — so the job's cost is ∝ fragmented data, not table
    * size. Returns the day values it compacted.
    *
    * This is `OPTIMIZE ... WHERE` semantics on plain parquet: the same
    * file-count trigger Delta/Iceberg maintenance uses, with the touched-
    * partition pruning of [[graft.ops.Sinks.upsertPartitioned]]. */
  def compactIncremental(s: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024, minFiles: Int = 4): Seq[String] = {
    val fragmented = filesPerDay(path).collect {
      case (day, n) if n > minFiles => day.stripPrefix("event_date=")
    }.toSeq.sorted
    if (fragmented.nonEmpty) {
      val scoped = s.newSession()
      scoped.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        targetBytes.toString)
      scoped.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      val staged = scoped.read.parquet(path)
        // resolves against the PARTITION column: only fragmented day
        // directories are listed/read; the write then replaces only the
        // day partitions present in the frame (dynamic overwrite)
        .where(col("event_date").isin(fragmented: _*))
        .hint("rebalance", col("event_date"))
        // materialize before overwriting the directories being read
        .localCheckpoint()
      try staged.write.partitionBy("event_date").mode("overwrite").parquet(path)
      finally org.apache.spark.sql.graftbridge.Bridge
        .unpersistLocalCheckpoint(staged)
    }
    fragmented
  }

  /** Files per day directory of a partitioned parquet table — the metric
    * compaction exists to shrink. Driver-side listing of PARTITION
    * DIRECTORIES only (bounded: one entry per day), never of data rows. */
  def filesPerDay(path: String): Map[String, Int] = {
    def withListing[A](p: java.nio.file.Path)(
        body: Iterator[java.nio.file.Path] => A): A = {
      val stream = Files.list(p)
      try body(stream.iterator().asScala) finally stream.close()
    }
    withListing(Paths.get(path)) { entries =>
      entries
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("event_date="))
        .map { d =>
          d.getFileName.toString -> withListing(d)(
            _.count(_.getFileName.toString.endsWith(".parquet")))
        }.toMap
    }
  }

  private val compactedCache =
    IndexMemo.cache[(SparkSession, String), String]()

  /** Oracled round-trip: fragment → compact → read back → per-day digest
    * against the RAW events table. Any row lost, duplicated, or moved to
    * the wrong day partition by the compactor breaks the hash; the file
    * counts themselves are spec territory (CompactionSpec), not oracle
    * territory. The tiny targetBytes makes AQE's sizing decisions visible
    * even at test scale. */
  def compactDigest(s: SparkSession, sfDir: String): DataFrame = {
    val out = IndexMemo(compactedCache, (s, sfDir)) {
      val in = ensureFragmented(s, sfDir)
      // compaction OUTPUT is per-process scratch (the compact run itself
      // is what the query measures) — never a sibling of the durable
      // fixture, and appId-tagged so concurrent JVMs cannot race it
      val appTag = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "")
      // "scratch-" prefix: keeps the per-process output OUTSIDE the durable
      // fixture's stale-generation namespace (a name that startsWith the
      // fixture prefix would be swept by a rebuild while this app is still
      // mid-measurement)
      val outPath = base(
        s"scratch-${java.nio.file.Paths.get(in).getFileName}-compacted-$appTag").toString
      compact(s, in, outPath, targetBytes = 4L * 1024 * 1024)
      outPath
    }
    s.read.parquet(out)
      .groupBy(col("event_date"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(pmod(TextOps.hash60(concat_ws(":", col("event_id"), col("user_id"))),
          lit(1L << 40))).as("row_digest"),
        round(sum(col("value")), 2).as("value_sum"))
      .orderBy("event_date")
  }

  val compactDigestSql: String = {
    val h = TextOps.hash60Sql("concat(event_id, ':', user_id)")
    s"""SELECT date_trunc('day', ts)::DATE AS event_date,
       |  count(*) AS n_events,
       |  sum(($h) % ${1L << 40})::BIGINT AS row_digest,
       |  round(sum(value), 2) AS value_sum
       |FROM events GROUP BY event_date ORDER BY event_date""".stripMargin
  }
}
