package trailbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.MergeTable
import graft.streaming.StreamingPipeline

/** `store_rw`: one writer in a closed loop, like the reference's
  * ingestion worker, which acks a delivery only after its upsert. One
  * operation is a cycle: land one micro-batch file into the directory
  * `StreamingPipeline.startMergeSink` consumes, wait until its commit is
  * visible, then read city windows back through
  * `spark.read.format("graft")`. The store is preloaded at set-up, merge
  * keys (user_id, event_id), clustered by user_id.
  *
  * Traffic follows the reference's ingestion (see [[Gen.StoreKeys]]):
  *  - a batch is one consumer read of 100 fetch tasks (the ingestion
  *    worker's BATCH_SIZE), i.e. 100 consecutive cities of the city table,
  *    paged in order as the scheduler enumerates them; per city one daily
  *    row and 48 hourly forecast rows, 4900 rows;
  *  - every city is fetched once a day (the one-delivery-per-24 h
  *    freshness target), so a fetch's 48 h forecast window overlaps the
  *    previous one by 24 hours: 24 of its 49 keys re-deliver existing keys
  *    with revised values, 25 are new;
  *  - a crashed worker's batch is re-delivered whole by the stuck-task
  *    reclaim. The reference sets no rate for crashes; one cycle in eight
  *    (from the third) re-lands the previous batch file unchanged, so
  *    every run replays at least one, and it must change nothing;
  *  - after each batch the categorizer reads `readsPerCycle` of its cities
  *    back (the ingestion worker forwards categorization tasks in batches
  *    of 10), each a window of +-2 days around the classification anchor.
  */
final class StoreRw(spark: SparkSession, opts: Opts) extends Workload(opts) {
  private val (cities, pageCities, historyRounds, readsPerCycle) =
    if (opts.tiny) (60, 10, 4, 3) else (600, 100, 10, 10)
  private val pages = cities / pageCities
  /** The first measured fetch round happens at the anchor. */
  private val keys = Gen.StoreKeys(opts.seed, Gen.Anchor - (historyRounds + 1) * Gen.Day)
  private val table = s"${opts.work}/store"
  private val inbox = s"${opts.work}/inbox"
  private val staging = s"${opts.work}/staging"
  private val checkpoint = s"${opts.work}/checkpoint"
  /** The scheduler's first page is seeded. */
  private val firstPage = (Gen.mix(opts.seed, 7) % pages).toInt

  /** Expected state: the fetch round of every key, per city. */
  private val versions = Array.fill(cities)(mutable.LinkedHashMap.empty[Int, Int])
  private var cycle = 0
  private var lastBatch: Option[java.nio.file.Path] = None
  private var query: StreamingQuery = null

  /** The gated operation is one city-window read. A write's cost settles
    * per JVM at one of two levels (about 7 or 10 calibration units, from
    * run to run of the same code), too wide for any bound; writes and whole
    * cycles are printed, not gated.
    */
  val primary = "read"
  private val ReadLo = Gen.Anchor - 2 * Gen.Day
  private val ReadHi = Gen.Anchor + 2 * Gen.Day

  private def frame(pairs: Seq[(Long, Int)]): DataFrame = {
    import spark.implicits._
    keys.rows(pairs.toDF("event_id", "version"))
  }

  /** The keys one fetch of round `r` writes for a city: its daily row and
    * its 48 hourly forecast rows.
    */
  private def fetchKeys(r: Int): Seq[Int] = keys.daily(r) +: (24 * (r + 1) until 24 * (r + 3))

  /** Preload, one block of cities per repetition, as one merge commit of
    * the state after `historyRounds` daily fetches of each city: every
    * daily row, and every forecast hour at the last round that wrote it.
    */
  def prepare(rep: Int, rec: Recorder): Unit = {
    val lo = cities * rep / opts.reps
    val hi = cities * (rep + 1) / opts.reps
    val perCity = historyRounds + 24 * historyRounds + 24
    val idx = col("id") % perCity
    val hour = idx - historyRounds + 24
    val ids = spark.range((hi - lo).toLong * perCity).select(
      (shiftleft(col("id") / perCity + lo, 20) +
        when(idx < historyRounds, idx + keys.DailyBase).otherwise(hour)).as("event_id"),
      when(idx < historyRounds, idx)
        .otherwise(least(lit(historyRounds - 1L), hour / 24 - 1)).cast("int").as("version"))
    MergeTable.mergeUpsert(spark, table, keys.rows(ids),
      Seq("user_id", "event_id"), Seq("user_id"))
    for (u <- lo until hi; r <- 0 until historyRounds; j <- fetchKeys(r)) versions(u)(j) = r
  }

  /** The next batch's keys: the scheduler's next page of cities, each
    * fetched once in its next daily round.
    */
  private def nextBatch(): Seq[(Long, Int)] = {
    val page = firstPage + cycle - 1
    val r = historyRounds + page / pages
    val first = page % pages * pageCities
    (first until first + pageCities).flatMap { u =>
      fetchKeys(r).map { j => versions(u)(j) = r; (keys.eventId(u, j), r) }
    }
  }

  /** Lands the next batch file atomically into the inbox; returns its row
    * count and the cities it covers.
    */
  private def land(): (Long, Seq[Int]) = {
    cycle += 1
    val target = Paths.get(inbox, f"batch-$cycle%06d.parquet")
    Files.createDirectories(target.getParent)
    lastBatch match {
      case Some(prev) if cycle >= 3 && cycle % 8 == 0 =>
        // a whole batch delivered twice: identical rows under a new name
        val tmp = Paths.get(staging, s"redeliver-$cycle.parquet")
        Files.createDirectories(tmp.getParent)
        Files.copy(prev, tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        val df = spark.read.parquet(target.toString)
        (df.count(), df.select(col("user_id")).distinct().collect().map(_.getLong(0).toInt).toSeq)
      case _ =>
        val pairs = nextBatch()
        val dir = s"$staging/b$cycle"
        frame(pairs).coalesce(1).write.mode("overwrite").parquet(dir)
        val part = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        val kept = Paths.get(staging, s"b$cycle.parquet")
        Files.move(part, kept)
        Files.copy(kept, Paths.get(staging, s"land-$cycle.parquet"))
        Files.move(Paths.get(staging, s"land-$cycle.parquet"), target,
          StandardCopyOption.ATOMIC_MOVE)
        lastBatch.foreach(Files.deleteIfExists)
        lastBatch = Some(kept)
        (pairs.size.toLong, pairs.map(p => (p._1 >>> 20).toInt).distinct)
    }
  }

  private def startSink(): Unit =
    query = StreamingPipeline.startMergeSink(
      StreamingPipeline.readEvents(spark, inbox), table, checkpoint,
      keys = Seq("user_id", "event_id"), clusterBy = Seq("user_id"))

  /** Rows of city `u` whose timestamp falls in the read window. */
  private def expectedWindow(u: Int): Long =
    versions(u).keys.count { j =>
      val t = keys.tsOf(keys.eventId(u, j))
      t >= ReadLo && t < ReadHi
    }.toLong

  def op(i: Long, rec: Recorder): Unit = {
    val (rows, touched) = land()
    if (query == null) startSink() // the stream's schema probe needs a staged file
    val (_, ws) = rec.time("write") {
      Trace.span("streaming.write", "streaming") { query.processAllAvailable() }
    }
    rec.addSum("rows", rows.toDouble)
    rec.add("rows_per_s", rows / ws)
    rec.check(query.exception.isEmpty, s"cycle $cycle: sink failed ${query.exception}")
    var cycleS = ws
    touched.take(readsPerCycle).foreach { u =>
      val (n, rs) = rec.timeGated("read") {
        Trace.span("graft_source.read", "graft_source") {
          spark.read.format("graft").load(table)
            .where(col("user_id") === u &&
              col("ts") >= timestamp_seconds(lit(ReadLo)) &&
              col("ts") < timestamp_seconds(lit(ReadHi)))
            .collect().length.toLong
        }
      }
      cycleS += rs
      rec.addSum("read_rows", n.toDouble)
      rec.check(n == expectedWindow(u), s"cycle $cycle city $u window read $n rows, " +
        s"expected ${expectedWindow(u)}")
    }
    rec.add("cycle", cycleS)
  }

  /** Final state check: the visible rows equal the expected state, by
    * count and two exact sums (key-weighted value, city ids).
    */
  def finish(rec: Recorder): Unit = {
    val all = spark.read.format("graft").load(table)
    val shown = if (corruptNow(rec, anyPhase = true)) {
      val drop = all.select(min(col("event_id"))).head().getLong(0)
      all.where(col("event_id") =!= drop) // the self-check's dropped row
    } else all
    val got = shown.agg(count(lit(1)), sum(col("user_id")),
      sum((col("event_id") % 1000003) * ((col("value") * 4).cast("long") + 1))).head()
    var n = 0L; var users = 0L; var weighted = 0L
    for (u <- 0 until cities; (j, r) <- versions(u)) {
      val e = keys.eventId(u, j)
      n += 1; users += u
      weighted += (e % 1000003) * (keys.kOf(e, r) + 1)
    }
    val want = (n, users, weighted)
    val have = (got.getLong(0), got.getLong(1), got.getLong(2))
    rec.check(have == want, s"final store state $have != expected $want")
  }

  def close(): Unit = if (query != null) { query.stop(); query = null }

  def rowsPerS(rec: Recorder): Double = Stats.median(rec.get("rows_per_s"))

  def figures(rec: Recorder): Seq[Figure] = Seq(
    Report.pct("cycle_p50_s", rec.get("cycle"), 50),
    Figure("rows_per_s", rowsPerS(rec), "1/s",
      s"rows committed per write second; ${pageCities * 49} rows per batch"),
    Report.pct("write_p50_s", rec.get("write"), 50),
    Report.pct("write_p90_s", rec.get("write"), 90),
    Report.pct("read_p50_s", rec.get("read"), 50),
    Report.pct("read_p90_s", rec.get("read"), 90))

  def layers(rec: Recorder, facts: Seq[OpFacts]): Seq[(Figure, String)] = {
    val writes = facts.filter(_.root.layer == "streaming")
    val reads = facts.filter(_.root.layer == "graft_source")
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val progress = writes.flatMap(_.progress)
    def phase(k: String) = med(progress.map(_.getOrElse(k, 0L).toDouble))
    // commits made while tracing, from the table's own history
    val hist = MergeTable.history(table)
    val traced = hist.filter(c => writes.exists(w =>
      c.timestampMs >= w.root.startMs - 1 && c.timestampMs <= w.root.endMs + 1000))
    val addedRows = traced.flatMap { c =>
      for {
        now <- MergeTable.manifestAt(table, c.version)
        before <- MergeTable.manifestAt(table, c.version - 1)
      } yield {
        val old = before.files.map(_.path).toSet
        now.files.filterNot(f => old(f.path)).map(_.numRows).sum
      }
    }
    val upserted = rec.sum("rows")
    val live = MergeTable.latestManifest(table).map(_.files.size).getOrElse(0)
    val scans = reads.flatMap(_.scanFiles)
    val write = "write_p50_s, write_p90_s on store_rw"
    Seq(
      Figure("merge_table.commit_s", phase("addBatch") / 1000, "s") -> write,
      Figure("merge_table.jobs_per_commit",
        if (writes.isEmpty) 0.0 else writes.map(_.jobs).sum.toDouble / writes.size, "count") ->
        write,
      Figure("merge_table.files_added", med(traced.map(_.numAdds.toDouble)), "count") -> write,
      Figure("merge_table.files_removed", med(traced.map(_.numRemoves.toDouble)), "count") ->
        write,
      Figure("merge_table.rewrite_ratio",
        if (upserted == 0) 0.0 else addedRows.sum / upserted, "ratio") -> write,
      Figure("merge_table.live_files", live.toDouble, "count") ->
        s"$write; read_p50_s, read_p90_s on store_rw",
      Figure("streaming.latest_offset_ms", phase("latestOffset"), "ms") -> "write_p50_s",
      Figure("streaming.get_batch_ms", phase("getBatch"), "ms") -> "write_p50_s",
      Figure("streaming.query_planning_ms", phase("queryPlanning"), "ms") -> "write_p50_s",
      Figure("streaming.add_batch_ms", phase("addBatch"), "ms") -> "write_p50_s",
      Figure("streaming.wal_commit_ms", phase("walCommit"), "ms") -> "write_p50_s",
      Figure("streaming.commit_offsets_ms", phase("commitOffsets"), "ms") -> "write_p50_s",
      Figure("graft_source.read_s", med(reads.map(_.root.durMs / 1000)), "s") ->
        "read_p50_s, read_p90_s on store_rw",
      Figure("graft_source.files_read_ratio",
        if (scans.isEmpty) 0.0 else scans.map(_._1).sum.toDouble / scans.map(_._2).sum,
        "ratio") -> "read_p50_s, read_p90_s on store_rw",
      Figure("graft_source.rows_read_ratio",
        if (rec.sum("read_rows") == 0) 0.0
        else reads.map(_.inputRows).sum.toDouble / rec.sum("read_rows"), "ratio") ->
        "read_p50_s, read_p90_s on store_rw")
  }
}
