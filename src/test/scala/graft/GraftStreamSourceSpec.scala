package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MergeTable

/** `spark.readStream.format("graft")` — the streaming change-data-feed
  * source: commit versions as offsets, per-version file-scoped diffs
  * with preimages, initial-snapshot semantics, checkpointed restart
  * idempotence, the per-trigger version cap, and the beyond-retention
  * snapshot boot. Each delivered batch must equal the batch-side CDF
  * replay of the same version range.
  */
class GraftStreamSourceSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-stream-src-$tag")
    Files.delete(p)
    p.toString
  }

  private def seed(t: String): Unit =
    MergeTable.mergeUpsert(spark,
      t, (1L to 20L).map(i => (i, if (i % 4 == 0) "error" else "ok", i * 1.0))
        .toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("seed", 0L)))

  /** Collected rows as comparable tuples:
    * (version, change_type, feed_type, id, type, value, value_pre). */
  private def key(r: Row): (Long, String, String, Long, String, Double, Option[Double]) = (
    r.getAs[Long]("_commit_version"), r.getAs[String]("change_type"),
    r.getAs[String]("feed_type"), r.getAs[Long]("event_id"),
    r.getAs[String]("event_type"), r.getAs[Double]("value"),
    Option(r.getAs[java.lang.Double]("value_pre")).map(_.doubleValue))

  /** Run the stream via foreachBatch into a shared buffer; one list entry
    * per micro-batch. */
  private def runStream(path: String, checkpoint: String,
      collected: mutable.Buffer[Seq[Row]],
      options: Map[String, String] = Map.empty): Unit = {
    val reader = options.foldLeft(spark.readStream.format("graft")) {
      case (r, (k, v)) => r.option(k, v) }
    val q = reader.load(path).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect().toSeq
        collected.synchronized { if (rows.nonEmpty) collected += rows }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  test("readStream with startingVersion=0 equals the batch CDF replay, " +
    "and a checkpointed restart delivers only the new commits") {
    val t = fresh("replay")
    val ckpt = fresh("replay-ckpt")
    seed(t) // v0
    // v1: update wave; v2: delete wave
    MergeTable.mergeUpsert(spark, t,
      (1L to 5L).map(i => (i, "updated", i + 100.0))
        .toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L)))
    MergeTable.mergeDelete(spark, t, Seq(8L, 9L).toDF("event_id"),
      txn = Some(("w", 2L)))

    val got = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckpt, got, Map("startingVersion" -> "0"))
    val streamed = got.flatten.map(key).toSet

    // batch-side replay: v0 boots from its own delta, then per-version
    // diffs with preimages
    def expect(v: Long, df: DataFrame, feed: String): Set[(Long, String,
        String, Long, String, Double, Option[Double])] = {
      val withMeta = df
        .withColumn("feed_type", lit(feed))
        .withColumn("_commit_version", lit(v))
      val cols = withMeta.columns.toSet
      val full =
        if (cols.contains("value_pre")) withMeta
        else withMeta.withColumn("value_pre", lit(null).cast("double"))
          .withColumn("event_type_pre", lit(null).cast("string"))
      full.collect().toSeq.map(key).toSet
    }
    val v0 = expect(0L, MergeTable.readVersion(spark, t, 0L)
      .withColumn("change_type", lit("INSERT")), "diff")
    val v1 = expect(1L,
      MergeTable.changesBetween(spark, t, 0L, 1L, preimages = true), "diff")
    val v2 = expect(2L,
      MergeTable.changesBetween(spark, t, 1L, 2L, preimages = true), "diff")
    assert(streamed == (v0 ++ v1 ++ v2))
    assert(streamed.count(_._2 == "DELETE") == 2)
    assert(streamed.count(_._2 == "UPDATE") == 5)

    // restart from the checkpoint: only the NEW commit arrives, once
    MergeTable.mergeUpsert(spark, t,
      Seq((30L, "late", 30.0)).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 3L)))
    val got2 = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckpt, got2, Map("startingVersion" -> "0"))
    val replayed = got2.flatten.map(key)
    assert(replayed.toSet == expect(3L,
      MergeTable.changesBetween(spark, t, 2L, 3L, preimages = true), "diff"),
      s"restart must deliver exactly v3's diff: $replayed")
  }

  test("default start: the first batch is the CURRENT snapshot as " +
    "INSERTs, then diffs follow") {
    val t = fresh("snap")
    seed(t) // v0
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "upd", 500.0)).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L))) // v1
    val ckpt = fresh("snap-ckpt")
    val got = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckpt, got)
    val first = got.head.map(key)
    assert(first.size == 20 && first.forall(r =>
      r._2 == "INSERT" && r._3 == "snapshot" && r._1 == 1L),
      "initial batch must be the v1 snapshot as INSERTs")
    // a later commit streams as a plain diff
    MergeTable.mergeUpsert(spark, t,
      Seq((2L, "upd2", 600.0)).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 2L)))
    val got2 = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckpt, got2)
    val diff = got2.flatten.map(key)
    assert(diff == Seq((2L, "UPDATE", "diff", 2L, "upd2", 600.0, Some(2.0))),
      diff.toString)
  }

  test("maxVersionsPerTrigger=1 delivers one commit per micro-batch " +
    "after the initial batch") {
    val t = fresh("cap")
    seed(t) // v0
    val ckpt = fresh("cap-ckpt")
    val got = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckpt, got,
      Map("startingVersion" -> "0", "maxVersionsPerTrigger" -> "1"))
    assert(got.size == 1, "v0 alone first")
    (1L to 3L).foreach { i =>
      MergeTable.mergeUpsert(spark, t,
        Seq((i, "w", i * 10.0)).toDF("event_id", "event_type", "value"),
        Seq("event_id"), Seq("event_id"), txn = Some(("w", i)))
    }
    val got2 = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckpt, got2,
      Map("startingVersion" -> "0", "maxVersionsPerTrigger" -> "1"))
    // three pending commits → three single-version batches (the first
    // batch after restart is uncapped by design, but it starts from the
    // checkpointed v0 and the cap anchors from there)
    val versionsPerBatch = got2.map(_.map(key(_)._1).distinct.sorted)
    assert(got2.flatten.size == 3 && versionsPerBatch.flatten == Seq(1L, 2L, 3L),
      s"got $versionsPerBatch")
  }

  test("beyond-retention: a lagging startingVersion boots from the first " +
    "retained version's snapshot, marked feed_type=snapshot") {
    val t = fresh("vac")
    seed(t) // v0
    (1L to 3L).foreach { i =>
      MergeTable.mergeUpsert(spark, t,
        Seq((i, "w", i * 10.0)).toDF("event_id", "event_type", "value"),
        Seq("event_id"), Seq("event_id"), txn = Some(("w", i)))
    }
    assert(MergeTable.vacuum(t, graceMs = 0L, retainVersions = 2) > 0)
    val got = mutable.Buffer.empty[Seq[Row]]
    runStream(t, fresh("vac-ckpt"), got, Map("startingVersion" -> "0"))
    val rows = got.flatten.map(key)
    // v0, v1 are gone (skipped); v2 boots as a full snapshot; v3 diffs
    val (boot, diffs) = rows.partition(_._1 == 2L)
    assert(boot.size == 20 && boot.forall(r =>
      r._2 == "INSERT" && r._3 == "snapshot"),
      s"v2 must snapshot-boot: ${boot.take(3)}")
    assert(diffs.map(_._1).distinct == Seq(3L) && diffs.size == 1)
  }

  test("batch readChangeFeed equals the streamed feed row-for-row — one " +
    "consumer contract, two delivery modes") {
    val t = fresh("batchcdf")
    seed(t) // v0
    MergeTable.mergeUpsert(spark, t,
      (1L to 5L).map(i => (i, "updated", i + 100.0))
        .toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L))) // v1
    MergeTable.mergeDelete(spark, t, Seq(8L).toDF("event_id"),
      txn = Some(("w", 2L))) // v2

    val batch = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "0").load(t)
    val streamed = mutable.Buffer.empty[Seq[Row]]
    runStream(t, fresh("batchcdf-ckpt"), streamed,
      Map("startingVersion" -> "0"))
    assert(batch.collect().map(key).toSet == streamed.flatten.map(key).toSet)
    assert(batch.schema == spark.readStream.format("graft").load(t).schema)
    // a bounded range reads only those versions
    val v1only = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "1").load(t)
    assert(v1only.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(v1only.count() == 5L)
    // option validation
    intercept[Exception](spark.read.format("graft")
      .option("readChangeFeed", "true").load(t).collect())
    intercept[Exception](spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "0").option("endingVersion", "99")
      .load(t).collect())
  }

  test("graft_changes(path, from[, to]) SQL table function equals the " +
    "batch readChangeFeed option and composes with ordinary SQL") {
    val t = fresh("tvfcdf")
    seed(t) // v0
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "upd", 500.0)).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L))) // v1
    MergeTable.mergeDelete(spark, t, Seq(4L).toDF("event_id"),
      txn = Some(("w", 2L))) // v2
    val viaTvf = spark.sql(s"SELECT * FROM graft_changes('$t', 0)")
    val viaOption = spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "0").load(t)
    assert(viaTvf.collect().map(key).toSet ==
      viaOption.collect().map(key).toSet)
    // composable: aggregate over one version's changes
    val counts = spark.sql(
      s"""SELECT change_type, count(*) AS n
         |FROM graft_changes('$t', 1, 2)
         |GROUP BY change_type ORDER BY change_type""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("UPDATE" -> 1L, "DELETE" -> 1L), counts.toString)
    // validation: bad range / missing table fail loudly
    intercept[Exception](spark.sql(s"SELECT * FROM graft_changes('$t', 99)"))
    intercept[Exception](
      spark.sql("SELECT * FROM graft_changes('/nope/missing', 0)"))
  }

  test("end-to-end CDC replication: readStream from one graft table, " +
    "apply per-version into another — the replica converges") {
    val src = fresh("repl-src")
    val dst = fresh("repl-dst")
    seed(src) // v0
    def applyBatch(b: DataFrame): Unit = {
      import org.apache.spark.sql.functions.col
      val versions = b.select("_commit_version").distinct()
        .collect().map(_.getLong(0)).sorted // bounded: versions per batch
      versions.foreach { v =>
        val rows = b.where(col("_commit_version") === v)
        val dataCols = Seq("event_id", "event_type", "value")
        val ups = rows.where(col("change_type").isin("INSERT", "UPDATE"))
          .select(dataCols.map(col): _*)
        val dels = rows.where(col("change_type") === "DELETE")
          .select(col("event_id"))
        // replication is replay-safe by the same watermark the source's
        // offsets are: version v applies exactly once per writer
        MergeTable.mergeUpsert(spark, dst, ups, Seq("event_id"),
          Seq("event_id"), txn = Some(("repl-up", v)))
        MergeTable.mergeDelete(spark, dst, dels, txn = Some(("repl-del", v)))
      }
    }
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("startingVersion", "0").load(src)
        .writeStream
        .option("checkpointLocation", s"$dst-ckpt")
        .foreachBatch { (b: DataFrame, _: Long) => applyBatch(b) }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def snap(t: String) = MergeTable.read(spark, t)
      .select("event_id", "event_type", "value")
      .as[(Long, String, Double)].collect().toSet
    assert(snap(dst) == snap(src) && snap(dst).size == 20)
    // more commits on the source; the replica follows across a restart
    MergeTable.mergeUpsert(spark, src,
      Seq((1L, "upd", 999.0)).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L)))
    MergeTable.mergeDelete(spark, src, Seq(7L, 8L).toDF("event_id"),
      txn = Some(("w", 2L)))
    run()
    assert(snap(dst) == snap(src) && snap(dst).size == 18)
  }

  test("a mid-stream schema change fails the batch loudly with a restart " +
    "instruction, never silently nulls a renamed column") {
    val t = fresh("drift")
    seed(t) // v0
    val ckpt = fresh("drift-ckpt")
    val got = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckpt, got) // pin the schema at v0
    MergeTable.renameColumn(t, "value", "score") // metadata-only v1
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "r", 9.0)).toDF("event_id", "event_type", "score"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 9L))) // v2
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val got2 = mutable.Buffer.empty[Seq[Row]]
      runStream(t, ckpt, got2)
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("restart the stream"), msg)
  }

  test("maxBytesPerTrigger paces a lagging stream by DATA VOLUME: a huge " +
    "commit delivers alone, small commits coalesce into one batch, and " +
    "nothing is lost or duplicated") {
    val t = fresh("bytecap")
    seed(t) // v0
    val ckpt = fresh("bytecap-ckpt")
    val opts = Map("startingVersion" -> "0",
      "maxBytesPerTrigger" -> (10 * 1024).toString)
    val got = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckpt, got, opts) // v0 delivered, checkpoint anchored
    // lag builds while the stream is DOWN: two ~100 KB commits around two
    // ~1 KB commits (new key ranges, so each commit only ADDS files —
    // cost = its own file bytes; irregular doubles defeat the encoder)
    def big(base: Long, tag: String) = MergeTable.mergeUpsert(spark, t,
      (base until base + 8000L).map(i => (i, tag, i * 1.7182818))
        .toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"))
    def small(k: Long, tag: String) = MergeTable.mergeUpsert(spark, t,
      Seq((k, tag, 1.0)).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"))
    big(100000L, "big1")  // v1
    small(500001L, "s1")  // v2
    small(500002L, "s2")  // v3
    big(200000L, "big2")  // v4
    val post = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckpt, post, opts) // restart re-anchors at v0, then paces
    val verSets = post.map(_.map(_.getAs[Long]("_commit_version")).toSet)
    // v1 exceeds the budget alone (the first version always flows), the
    // two small commits coalesce, v4 opens a fresh batch
    assert(verSets == Seq(Set(1L), Set(2L, 3L), Set(4L)), verSets.toString)
    // exactly-once across the paced batches
    val all = post.flatten.map(key)
    assert(all.size == all.toSet.size)
    assert(all.count(_._1 == 1L) == 8000 && all.count(_._1 == 4L) == 8000)
  }

  test("paced initial snapshot: under maxBytesPerTrigger a default-start " +
    "stream delivers the snapshot in multiple file-sliced batches — " +
    "exactly-once across a MID-SNAPSHOT restart, final state equal to " +
    "the batch read") {
    val t = fresh("snap-pace")
    // one commit, many files: ~20 KB across 10 files of irregular doubles
    MergeTable.mergeUpsert(spark, t,
      (1L to 2000L).map(i => (i, s"t${i % 7}", i * 2.7182818))
        .toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 200,
      txn = Some(("seed", 0L)))
    val m0 = MergeTable.latestManifest(t).get
    assert(m0.files.size == 10)
    val budget = m0.files.map(_.bytes).sum / 4 // → ≥4 paced batches
    val opts = Map("maxBytesPerTrigger" -> budget.toString)

    // Trigger.Once = ONE micro-batch per start → every batch boundary is
    // a full stop/restart of the query, so each slice handoff exercises
    // the mid-snapshot checkpoint resume path
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = fresh("snap-pace-ckpt")
    val batches = mutable.Buffer.empty[Seq[Row]]
    def runOne(): Unit = {
      val reader = opts.foldLeft(spark.readStream.format("graft")) {
        case (r, (k, v)) => r.option(k, v) }
      val q = reader.load(t).writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.Once())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect().toSeq
          batches.synchronized { if (rows.nonEmpty) batches += rows }
          ()
        }.start()
      q.awaitTermination()
    }
    (1 to 12).foreach(_ => runOne()) // more restarts than slices: idempotent
    assert(batches.size >= 4,
      s"a quarter-budget must pace the snapshot into ≥4 batches, " +
        s"got ${batches.size}")
    val all = batches.flatten.map(key)
    assert(all.size == 2000 && all.toSet.size == 2000,
      s"exactly-once across mid-snapshot restarts: ${all.size} rows, " +
        s"${all.toSet.size} distinct")
    assert(all.forall(r => r._2 == "INSERT" && r._3 == "diff" && r._1 == 0L))
    // final state equals the batch read of the same snapshot
    val batchRead = MergeTable.read(spark, t)
      .select("event_id", "event_type", "value")
      .as[(Long, String, Double)].collect().toSet
    assert(all.map(r => (r._4, r._5, r._6)).toSet == batchRead)

    // a commit landing AFTER the snapshot streams as a plain diff, and a
    // continuously-running stream (processAllAvailable) finishes any lag
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "upd", 9.9)).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L)))
    val tail = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckpt, tail, opts)
    val diff = tail.flatten.map(key)
    assert(diff == Seq((1L, "UPDATE", "diff", 1L, "upd", 9.9,
      Some(1.0 * 2.7182818))), diff.toString)

    // without a byte budget the snapshot still arrives in ONE batch
    // (plain long offsets — the pre-pacing checkpoint format)
    val one = mutable.Buffer.empty[Seq[Row]]
    runStream(t, fresh("snap-unpaced-ckpt"), one)
    assert(one.size == 1 && one.head.size == 2000)
  }

  test("a commit landing MID-SNAPSHOT-PAGING queues behind the snapshot: " +
    "remaining slices keep coming from the PINNED v0 manifest, the diff " +
    "follows, and an upsert fold of the feed converges to the head") {
    val t = fresh("snap-race")
    MergeTable.mergeUpsert(spark, t,
      (1L to 1200L).map(i => (i, "a", i * 1.0))
        .toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 200,
      txn = Some(("seed", 0L))) // v0: 6 files
    val m0 = MergeTable.latestManifest(t).get
    val opts = Map(
      "maxBytesPerTrigger" -> (m0.files.map(_.bytes).sum / 3).toString)
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = fresh("snap-race-ckpt")
    val batches = mutable.Buffer.empty[Seq[Row]]
    // ONE paced slice, then stop — the snapshot is mid-paging
    val q1 = opts.foldLeft(spark.readStream.format("graft")) {
      case (r, (k, v)) => r.option(k, v) }.load(t)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.Once())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect().toSeq
        batches.synchronized { if (rows.nonEmpty) batches += rows }; ()
      }.start()
    q1.awaitTermination()
    assert(batches.size == 1 && batches.head.size < 1200,
      s"the first trigger must deliver a strict snapshot slice")
    // a commit lands while the snapshot is mid-paging: updates of rows
    // in BOTH already-delivered and not-yet-delivered slices + an insert
    MergeTable.mergeUpsert(spark, t,
      (Seq(1L, 600L, 1199L).map(i => (i, "upd", i + 0.5)) :+
        ((2000L, "new", 9.9))).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L))) // v1
    // drain: the rest of v0's snapshot (from the pinned manifest), THEN
    // the v1 diff
    runStream(t, ckpt, batches, opts)
    val all = batches.flatten.map(key)
    val snap = all.filter(_._1 == 0L)
    assert(snap.size == 1200 && snap.toSet.size == 1200,
      "v0's snapshot must deliver exactly once, from the pinned manifest")
    assert(snap.forall(r => r._5 == "a"),
      "snapshot slices must keep reading v0's content, never v1's")
    val diff = all.filter(_._1 == 1L)
    assert(diff.count(_._2 == "UPDATE") == 3 &&
      diff.count(_._2 == "INSERT") == 1, diff.toString)
    // the standard consumer fold (upsert by key, in delivered order)
    // converges to the head snapshot
    val folded = all.sortBy(_._1)
      .foldLeft(Map.empty[Long, (String, Double)]) { (acc, r) =>
        acc + (r._4 -> ((r._5, r._6))) }
    val head = MergeTable.read(spark, t)
      .select("event_id", "event_type", "value")
      .as[(Long, String, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(folded == head)
  }

  /** A 50-version table (v0: 20 rows, then 49 single-row commits), for
    * reads with the plan-width bar scaled DOWN to 20 so the >bar
    * auto-chunk path runs — the identical code path a 1500-version range
    * takes at the default bar of 1000, without a 12-minute fixture. */
  private lazy val fiftyVersions: String = {
    val t = fresh("chunked")
    seed(t) // v0: 20 rows
    // 49 more single-row commits → versions 1..49
    (1 to 49).foreach { i =>
      MergeTable.mergeUpsert(spark, t,
        Seq(((i % 20) + 1L, "upd", i * 100.0))
          .toDF("event_id", "event_type", "value"),
        Seq("event_id"), Seq("event_id"), txn = Some(("w", i.toLong)))
    }
    t
  }

  test("a range wider than the plan-width bar reads batch-wise in bounded " +
    "separately optimized chunks, equal to the streamed replay; the " +
    "analysis-time TVF redirects; chunk width is capped by the bar") {
    val t = fiftyVersions
    spark.conf.set("spark.graft.cdf.maxBatchVersions", "20")
    try {
      // 50 versions > bar 20 → a union of 3 sub-plans of ≤20 versions
      val batch = spark.read.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0").load(t).collect().map(key)
      assert(batch.map(_._1).distinct.sorted.toSeq == (0L to 49L))
      // equal to the streamed replay of the same range (paged)
      val streamed = mutable.Buffer.empty[Seq[Row]]
      runStream(t, fresh("chunked-ckpt"), streamed,
        Map("startingVersion" -> "0", "maxVersionsPerTrigger" -> "7"))
      assert(batch.toSet == streamed.flatten.map(key).toSet)
      // an explicit narrower chunk reads the same rows
      val narrow = spark.read.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("maxVersionsPerRead", "5").load(t).collect().map(key)
      assert(narrow.toSet == batch.toSet)
      // a chunk wider than the bar is rejected (it IS the plan bound)
      intercept[Exception](spark.read.format("graft")
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .option("maxVersionsPerRead", "25").load(t).collect())
      // the TVF builds its relation at analysis time — one plan only, so
      // a wide range fails LOUDLY pointing at the chunked batch reader
      val e = intercept[Exception](spark.sql(
        s"SELECT * FROM graft_changes('$t', 0)").collect())
      assert(e.getMessage.contains("maxVersionsPerRead"), e.getMessage)
    } finally spark.conf.unset("spark.graft.cdf.maxBatchVersions")
  }

  test("planning a chunked batch change-feed read runs no Spark job and " +
    "reads every chunk through a parquet FileScan") {
    spark.conf.set("spark.graft.cdf.maxBatchVersions", "20")
    try {
      val df = spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingVersion", "0").load(fiftyVersions)
      val jobs = TestSpark.jobsDuring(df.queryExecution.executedPlan)
      assert(jobs == 0, s"planning the 3-chunk read ran $jobs jobs")
      val p = Dev.finalPlan(df)
      assert(p.contains("FileScan parquet") && !p.contains("RowDataSourceScan"), p)
    } finally spark.conf.unset("spark.graft.cdf.maxBatchVersions")
  }

  test("a table column colliding with a generated feed column is " +
    "rejected at shape time; a non-colliding *_pre payload column flows " +
    "through (no suffix heuristics)") {
    // collision 1: payload 'value' generates 'value_pre' — a table
    // column of that name would make the feed schema ambiguous
    val bad = fresh("cdf-collide")
    MergeTable.mergeUpsert(spark, bad,
      Seq((1L, 1.0, 9.9)).toDF("event_id", "value", "value_pre"),
      Seq("event_id"), Seq("event_id"))
    val e = intercept[Exception](spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(bad).collect())
    assert(e.getMessage.contains("collide"), e.getMessage)
    // collision 2: a column named change_type
    val bad2 = fresh("cdf-collide2")
    MergeTable.mergeUpsert(spark, bad2,
      Seq((1L, "x")).toDF("event_id", "change_type"),
      Seq("event_id"), Seq("event_id"))
    assert(intercept[Exception](spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(bad2).collect()).getMessage.contains("collide"))
    // NON-colliding: 'score_pre' with no 'score' column is a legitimate
    // payload column — the old suffix heuristic misread it as feed
    // metadata and failed every door with a spurious drift error
    val ok = fresh("cdf-prename")
    MergeTable.mergeUpsert(spark, ok,
      Seq((1L, 5.0)).toDF("event_id", "score_pre"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 0L))) // v0
    MergeTable.mergeUpsert(spark, ok,
      Seq((1L, 6.0)).toDF("event_id", "score_pre"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L))) // v1
    val feed = spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(ok)
    assert(feed.columns.count(_ == "score_pre") == 1)
    assert(feed.columns.contains("score_pre_pre")) // its OWN preimage
    val v1 = feed.where(col("_commit_version") === 1L).collect()
    assert(v1.length == 1 && v1(0).getAs[Double]("score_pre") == 6.0 &&
      v1(0).getAs[Double]("score_pre_pre") == 5.0)
  }

  test("OPTIONLESS default-start snapshot pages by maxFilesPerTrigger — " +
    "the 100 TB-safe behavior is the default, not a flag; a fresh " +
    "lagging startingVersion boot pages the same way") {
    val t = fresh("def-pace")
    MergeTable.mergeUpsert(spark, t,
      (1L to 1000L).map(i => (i, "a", i * 1.0))
        .toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100,
      txn = Some(("seed", 0L))) // v0: 10 files
    assert(MergeTable.latestManifest(t).get.files.size == 10)
    // scale the DEFAULT down via the session conf (production default is
    // 1000 files; the fixture has 10) — the stream itself gets NO option
    spark.conf.set("spark.graft.stream.maxFilesPerTrigger", "3")
    try {
      val got = mutable.Buffer.empty[Seq[Row]]
      runStream(t, fresh("def-pace-ckpt"), got)
      assert(got.size == 4, // 10 files / 3 per trigger → 4 batches
        s"an optionless default-start over a multi-file table must page " +
          s"by the default file budget; got ${got.size} batches")
      val all = got.flatten.map(key)
      assert(all.size == 1000 && all.toSet.size == 1000)
      assert(all.forall(r => r._2 == "INSERT" && r._3 == "diff" && r._1 == 0L))
      // a fresh startingVersion=0 stream (the boot IS v0's snapshot-shaped
      // initial delta) pages identically
      val got2 = mutable.Buffer.empty[Seq[Row]]
      runStream(t, fresh("def-pace-ckpt2"), got2,
        Map("startingVersion" -> "0"))
      assert(got2.size == 4, s"fresh v0 boot must page: ${got2.size}")
      assert(got2.flatten.map(key).toSet == all.toSet)
      // the per-stream option overrides the conf default
      val got3 = mutable.Buffer.empty[Seq[Row]]
      runStream(t, fresh("def-pace-ckpt3"), got3,
        Map("maxFilesPerTrigger" -> "100"))
      assert(got3.size == 1, s"option must override conf: ${got3.size}")
    } finally spark.conf.unset("spark.graft.stream.maxFilesPerTrigger")
  }

  /** The documented reset-epoch consumer: stages `feed_type = "reset"`
    * rows keyed by epoch, discards stale staging on a new epoch, and at
    * the end of any batch carrying a RESET_END marker for the staged
    * epoch atomically replaces state with the staging. Ordinary
    * diff/snapshot rows fold as upserts/deletes. */
  private def epochFold(batches: Seq[Seq[Row]]): Map[Long, (String, Double)] = {
    var state = Map.empty[Long, (String, Double)]
    var staging = Map.empty[Long, (String, Double)]
    var epoch = -1L
    batches.foreach { b =>
      var sawMarker = false
      b.foreach { r =>
        val ct = r.getAs[String]("change_type")
        val ft = r.getAs[String]("feed_type")
        if (ft == "reset") {
          val v = r.getAs[Long]("_commit_version")
          if (v != epoch) { staging = Map.empty; epoch = v } // new epoch
          if (ct == "RESET_END") sawMarker = true
          else staging += (r.getAs[Long]("event_id") ->
            ((r.getAs[String]("event_type"), r.getAs[Double]("value"))))
        } else ct match {
          case "DELETE" => state -= r.getAs[Long]("event_id")
          case _ => state += (r.getAs[Long]("event_id") ->
            ((r.getAs[String]("event_type"), r.getAs[Double]("value"))))
        }
      }
      if (sawMarker) { state = staging; staging = Map.empty; epoch = -1L }
    }
    state
  }

  test("paged beyond-retention RESET: a lagging stream over a vacuumed " +
    "table delivers the head snapshot in multiple feed_type=reset " +
    "slices sharing the epoch (_commit_version) plus one RESET_END " +
    "marker — exactly-once across restarts at every boundary, and the " +
    "documented consumer fold converges to the head") {
    val t = fresh("reset-page")
    MergeTable.mergeUpsert(spark, t,
      (1L to 1000L).map(i => (i, "a", i * 1.0))
        .toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100,
      txn = Some(("seed", 0L))) // v0: 10 files
    // consume v0 + v1, then fall behind
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "upd", 9.9)).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L))) // v1
    val batches = mutable.Buffer.empty[Seq[Row]]
    val ckpt = fresh("reset-page-ckpt")
    runStream(t, ckpt, batches)
    assert(batches.flatten.size == 1000) // the v1 head snapshot
    // while the stream is down: three more commits, then vacuum so the
    // stream's next version's predecessor is gone → beyond retention
    (2L to 4L).foreach { i =>
      MergeTable.mergeUpsert(spark, t,
        (1L to 1000L).map(j => (j, s"v$i", j + i * 0.1))
          .toDF("event_id", "event_type", "value"),
        Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100,
        txn = Some(("w", i)))
    }
    assert(MergeTable.vacuum(t, graceMs = 0L, retainVersions = 1) > 0)
    assert(MergeTable.latestManifest(t).get.files.size == 10)
    // restart with Trigger.Once so EVERY reset slice boundary is a full
    // stop/restart — the epoch must survive checkpoint resume
    import org.apache.spark.sql.streaming.Trigger
    val resetBatches = mutable.Buffer.empty[Seq[Row]]
    def runOne(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxFilesPerTrigger", "3").load(t)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.Once())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect().toSeq
          resetBatches.synchronized { if (rows.nonEmpty) resetBatches += rows }
          ()
        }.start()
      q.awaitTermination()
    }
    (1 to 8).foreach(_ => runOne()) // more restarts than slices
    val rows = resetBatches.flatten
    val markers = rows.filter(_.getAs[String]("change_type") == "RESET_END")
    val resets = rows.filter(r => r.getAs[String]("feed_type") == "reset" &&
      r.getAs[String]("change_type") != "RESET_END")
    assert(resetBatches.size >= 4, // 10 files / 3 per trigger
      s"the reset must page in ≥4 batches, got ${resetBatches.size}")
    assert(markers.size == 1 &&
      markers.head.getAs[Long]("_commit_version") == 4L,
      s"exactly one RESET_END for epoch v4: $markers")
    assert(resets.size == 1000 && resets.map(key).toSet.size == 1000,
      "reset slices deliver the head snapshot exactly once")
    assert(resets.forall(r => r.getAs[Long]("_commit_version") == 4L &&
      r.getAs[String]("change_type") == "INSERT"),
      "every reset row carries the epoch version")
    // the marker rides the batch with the FINAL slice (batch-end commit)
    assert(resetBatches.last.exists(
      _.getAs[String]("change_type") == "RESET_END"))
    // the documented consumer protocol converges to the head state
    val folded = epochFold(batches.toSeq ++ resetBatches.toSeq)
    val head = MergeTable.read(spark, t)
      .select("event_id", "event_type", "value")
      .as[(Long, String, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(folded == head, "epoch fold must equal the head table")
    // post-reset commits stream as plain diffs on the same checkpoint
    MergeTable.mergeUpsert(spark, t,
      Seq((5L, "post", 1.5)).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 5L))) // v5
    val tailB = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckpt, tailB, Map("maxFilesPerTrigger" -> "3"))
    val tailRows = tailB.flatten.map(key)
    assert(tailRows.size == 1 && tailRows.head._1 == 5L &&
      tailRows.head._2 == "UPDATE" && tailRows.head._3 == "diff",
      s"post-reset diffs must flow: $tailRows")
  }

  test("startingTimestamp / endingTimestamp (epoch millis) on both feed " +
    "doors: start = earliest version at-or-after the instant, end = " +
    "newest at-or-before; the stream PINS its resolved start under the " +
    "checkpoint metadata (restarts never re-resolve); a future instant " +
    "subscribes to only NEW commits; both-options rejects") {
    val t = fresh("ts-doors")
    seed(t) // v0
    def commitOne(id: Long, tag: String, v: Long): Unit = {
      // no sleep: commit instants are strictly monotonic by construction
      MergeTable.mergeUpsert(spark, t,
        Seq((id, tag, id * 1.0)).toDF("event_id", "event_type", "value"),
        Seq("event_id"), Seq("event_id"), txn = Some(("w", v)))
    }
    commitOne(1L, "v1", 1L) // v1
    commitOne(2L, "v2", 2L) // v2
    val hist = MergeTable.history(t)
    val t1 = hist.find(_.version == 1L).get.timestampMs
    // batch door: start at v1's instant → exactly v1..v2, equal to the
    // version-ranged read
    def versionsOf(df: DataFrame): Seq[Long] =
      df.select("_commit_version").distinct().as[Long].collect().sorted.toSeq
    val byTs = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingTimestamp", t1.toString).load(t)
    assert(versionsOf(byTs) == Seq(1L, 2L))
    val byV = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", "1").load(t)
    assert(byTs.collect().map(key).toSet == byV.collect().map(key).toSet)
    // endingTimestamp bounds at-or-before the instant
    val bounded = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", "0")
      .option("endingTimestamp", t1.toString).load(t)
    assert(versionsOf(bounded) == Seq(0L, 1L))
    // both-options reject, both sides
    assert(intercept[Exception](spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .option("startingTimestamp", t1.toString).load(t))
      .getMessage.contains("not both"))
    assert(intercept[Exception](spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .option("endingVersion", "1")
      .option("endingTimestamp", t1.toString).load(t))
      .getMessage.contains("not both"))
    // stream door: same instant → v1..v2, and the resolved start is
    // PINNED under the checkpoint's source metadata
    val ckpt = fresh("ts-doors-ckpt")
    val got = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckpt, got, Map("startingTimestamp" -> t1.toString))
    assert(got.flatten.map(key(_)._1).toSet == Set(1L, 2L))
    val pins = {
      val s2 = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      try {
        import scala.jdk.CollectionConverters._
        s2.iterator().asScala.filter(
          _.getFileName.toString == "graft-starting-version").toList
      } finally s2.close()
    }
    assert(pins.size == 1 && new String(
      java.nio.file.Files.readAllBytes(pins.head), "UTF-8").trim == "1",
      s"the resolved start must pin under the checkpoint: $pins")
    // FUTURE instant: nothing yet — then a later commit flows on the
    // SAME checkpoint even though its commit time is below the instant
    // (the PINNED subscription point rules, not a re-resolution)
    val future = (System.currentTimeMillis() + 86400000L).toString
    val ckpt2 = fresh("ts-doors-ckpt2")
    val got2 = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckpt2, got2, Map("startingTimestamp" -> future))
    assert(got2.isEmpty, s"a future instant must deliver nothing: $got2")
    commitOne(3L, "v3", 3L) // v3 — commit time far below `future`
    runStream(t, ckpt2, got2, Map("startingTimestamp" -> future))
    val late = got2.flatten.map(key)
    assert(late.size == 1 && late.head._1 == 3L && late.head._5 == "v3",
      s"the pinned subscription must deliver the post-subscribe commit: $late")
    // stream both-options reject
    assert(intercept[Exception](spark.readStream.format("graft")
      .option("startingVersion", "0")
      .option("startingTimestamp", t1.toString).load(t))
      .getMessage.contains("not both"))
    // the SQL twin: graft_changes_since(path, ts[, tsEnd]) — same rows
    // as the version-ranged TVF, analysis-time resolution
    val tvf = spark.sql(
      s"SELECT * FROM graft_changes_since('$t', $t1)").collect().map(key)
    val tvfByV = spark.sql(
      s"SELECT * FROM graft_changes('$t', 1)").collect().map(key)
    assert(tvf.toSet == tvfByV.toSet && tvf.nonEmpty)
    val tvfEnd = spark.sql(
      s"SELECT DISTINCT _commit_version FROM " +
        s"graft_changes_since('$t', 0, $t1)").collect().map(_.getLong(0))
    assert(tvfEnd.sorted.toSeq == Seq(0L, 1L),
      s"tsMillisEnd must bound at-or-before: ${tvfEnd.toSeq}")
    // an instant past every retained commit is a loud error (no
    // future-subscription reading for a batch TVF)
    assert(intercept[Exception](spark.sql(
      s"SELECT * FROM graft_changes_since('$t', ${future})").collect())
      .getMessage.contains("at or after"))
  }

  test("wall-clock doors accept TIMESTAMP/string instants, not just " +
    "epoch millis: ISO strings on the options doors, TIMESTAMP and " +
    "string literals on graft_changes_since; sub-millisecond digits " +
    "round toward the range (start up, end down); garbage rejects " +
    "loudly; a past-head batch start points at the streaming door") {
    val t = fresh("ts-str")
    seed(t) // v0
    def commitOne(id: Long, tag: String, v: Long): Unit = {
      MergeTable.mergeUpsert(spark, t,
        Seq((id, tag, id * 1.0)).toDF("event_id", "event_type", "value"),
        Seq("event_id"), Seq("event_id"), txn = Some(("w", v)))
    }
    commitOne(1L, "v1", 1L) // v1
    commitOne(2L, "v2", 2L) // v2
    val t1 = MergeTable.history(t).find(_.version == 1L).get.timestampMs
    val iso = java.time.Instant.ofEpochMilli(t1).toString // …Z form
    def versionsOf(df: DataFrame): Seq[Long] =
      df.select("_commit_version").distinct().as[Long].collect().sorted.toSeq
    // batch door: the ISO form equals the millis form
    assert(versionsOf(spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", iso).load(t)) == Seq(1L, 2L))
    assert(versionsOf(spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .option("endingTimestamp", iso).load(t)) == Seq(0L, 1L))
    // time-travel door: timestampAsOf as an ISO string pins v1's snapshot
    assert(spark.read.format("graft").option("timestampAsOf", iso)
      .load(t).where(col("event_id") === 1L)
      .select("event_type").as[String].head() == "v1")
    // garbage rejects loudly with the accepted-forms message
    assert(intercept[Exception](spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", "not-a-time").load(t))
      .getMessage.contains("timestamp string"))
    // a past-head batch start gets the tailored subscribe-instead error
    val futureIso = java.time.Instant
      .ofEpochMilli(System.currentTimeMillis() + 86400000L).toString
    val pastHead = intercept[Exception](spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", futureIso).load(t)).getMessage
    assert(pastHead.contains("at or after") &&
      pastHead.contains("stream with"), pastHead)
    // TVF: TIMESTAMP literal ≡ the version-ranged read; string-literal
    // end bound at-or-before
    val tvfTs = spark.sql(
      s"SELECT * FROM graft_changes_since('$t', TIMESTAMP '$iso')")
      .collect().map(key)
    val tvfByV = spark.sql(
      s"SELECT * FROM graft_changes('$t', 1)").collect().map(key)
    assert(tvfTs.toSet == tvfByV.toSet && tvfTs.nonEmpty)
    val tvfStrEnd = spark.sql(
      s"SELECT DISTINCT _commit_version FROM graft_changes_since(" +
        s"'$t', '1970-01-01T00:00:00Z', '$iso')")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(tvfStrEnd == Seq(0L, 1L), s"string end bound: $tvfStrEnd")
    // stream door: ISO start delivers v1..v2 and pins like the millis form
    val ckpt = fresh("ts-str-ckpt")
    val got = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckpt, got, Map("startingTimestamp" -> iso))
    assert(got.flatten.map(r =>
      r.getAs[Long]("_commit_version")).toSet == Set(1L, 2L))
    // sub-millisecond rounding is conservative: start bounds round UP,
    // end bounds round DOWN (never widening past the written instant)
    import graft.ops.GraftInstants
    assert(GraftInstants.parseMillis(
      "1970-01-01T00:00:00.0015Z", "t", ceil = true) == 2L)
    assert(GraftInstants.parseMillis(
      "1970-01-01T00:00:00.0015Z", "t", ceil = false) == 1L)
    assert(GraftInstants.parseMillis("  12345  ", "t", ceil = true) == 12345L)
  }

  test("HEAD data file missing while the initial snapshot is being " +
    "paged: the source fails LOUDLY (vacuum never removes head files, " +
    "so this is external corruption) instead of emitting a same-version " +
    "reset that idles the stream forever") {
    val t = fresh("headgone")
    MergeTable.mergeUpsert(spark, t,
      (1L to 40L).map(i => (i, "ok", i * 1.0))
        .toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 10) // 4 files, v0
    val src = new graft.sources.GraftStreamSource(
      spark.sqlContext, t, None, 1000L, None, Some(1L))
    try {
      val o1 = src.getOffset.get // first paged slice of the head snapshot
      src.getBatch(None, o1)     // delivers file 0, seeds the floor
      // externally delete the NEXT not-yet-delivered head data file
      val m = MergeTable.latestManifest(t).get
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(t, m.files(1).path))
      val ex = intercept[IllegalStateException](src.getOffset)
      assert(ex.getMessage.contains("HEAD") &&
        ex.getMessage.contains("missing"), ex.getMessage)
    } finally src.stop()
  }

  test("GraftReplicator with COMPOSITE keys and a *_pre-named payload " +
    "column: the pinned source schema drives the apply (no suffix " +
    "heuristics — note_pre replicates as data), diffs, deletes and a " +
    "paged reset included") {
    import graft.streaming.GraftReplicator
    val src = fresh("replc-src")
    val dst = fresh("replc-dst")
    def df(rows: Seq[(String, Long, String, Double)]) =
      rows.toDF("tenant", "event_id", "note_pre", "value")
    val keys = Seq("tenant", "event_id")
    MergeTable.mergeUpsert(spark, src,
      df((1L to 100L).flatMap(i => Seq(
        ("a", i, s"n$i", i * 1.0), ("b", i, s"m$i", i * 2.0)))),
      keys, keys, targetRowsPerFile = 50, txn = Some(("w", 0L))) // 4 files
    val ckpt = fresh("replc-ckpt")
    def drain(): Unit = {
      val q = GraftReplicator.replicate(spark, src, dst, ckpt,
        Map("maxFilesPerTrigger" -> "2"))
      try q.processAllAvailable() finally q.stop()
    }
    def snap(t: String) = MergeTable.read(spark, t)
      .select("tenant", "event_id", "note_pre", "value")
      .as[(String, Long, String, Double)].collect().toSet
    drain()
    assert(snap(dst) == snap(src) && snap(dst).size == 200)
    // composite-keyed diff: update one (a, i) pair, delete one (b, i)
    MergeTable.mergeUpsert(spark, src,
      df(Seq(("a", 5L, "upd", 99.0))), keys, keys, txn = Some(("w", 1L)))
    MergeTable.mergeDelete(spark, src,
      Seq(("b", 7L)).toDF("tenant", "event_id"), txn = Some(("w", 2L)))
    drain()
    assert(snap(dst) == snap(src) && snap(dst).size == 199)
    assert(snap(dst).contains(("a", 5L, "upd", 99.0)))
    // lag past retention → paged reset with the composite keys
    MergeTable.mergeUpsert(spark, src,
      df((1L to 100L).flatMap(i => Seq(
        ("a", i, s"r$i", i + 0.5), ("b", i, s"s$i", i + 0.25)))),
      keys, keys, targetRowsPerFile = 50, txn = Some(("w", 3L)))
    assert(MergeTable.vacuum(src, graceMs = 0L, retainVersions = 1) > 0)
    drain()
    assert(snap(dst) == snap(src) && snap(dst).size == 200,
      "the reset swap must converge the composite-keyed replica")
    assert(snap(dst).contains(("a", 5L, "r5", 5.5)))
  }

  test("property: random commit/delete/vacuum/drain interleavings — the " +
    "replicated state always converges to the source head (diffs, " +
    "boots and reset epochs mixed freely, random file budgets)") {
    import graft.streaming.GraftReplicator
    val rnd = new scala.util.Random(20160816L)
    for (trial <- 1 to 2) {
      val src = fresh(s"replp-src$trial")
      val dst = fresh(s"replp-dst$trial")
      val ckpt = fresh(s"replp-ckpt$trial")
      var txnV = 0L
      def nextV(): Long = { txnV += 1; txnV }
      MergeTable.mergeUpsert(spark, src,
        (1L to 300L).map(i => (i, "seed", i * 1.0))
          .toDF("event_id", "event_type", "value"),
        Seq("event_id"), Seq("event_id"), targetRowsPerFile = 50,
        txn = Some(("w", nextV())))
      def drain(): Unit = {
        val q = GraftReplicator.replicate(spark, src, dst, ckpt,
          Map("maxFilesPerTrigger" -> (1 + rnd.nextInt(4)).toString))
        try q.processAllAvailable() finally q.stop()
      }
      def snap(t: String) = MergeTable.read(spark, t)
        .select("event_id", "event_type", "value")
        .as[(Long, String, Double)].collect().toSet
      drain() // replica boots
      (1 to 8).foreach { step =>
        rnd.nextInt(4) match {
          case 0 => // random upsert wave
            val ids = (1 to 1 + rnd.nextInt(120))
              .map(_ => 1L + rnd.nextInt(400)).distinct
            MergeTable.mergeUpsert(spark, src,
              ids.map(i => (i, s"t$step", i + step * 0.1))
                .toDF("event_id", "event_type", "value"),
              Seq("event_id"), Seq("event_id"), targetRowsPerFile = 50,
              txn = Some(("w", nextV())))
          case 1 => // random keyed delete (copy-on-write rewrite)
            val ids = (1 to 1 + rnd.nextInt(40))
              .map(_ => 1L + rnd.nextInt(400)).distinct
            MergeTable.mergeDelete(spark, src, ids.toDF("event_id"),
              txn = Some(("w", nextV())))
          case 2 => // vacuum to the head — the reset-forcing move
            MergeTable.vacuum(src, graceMs = 0L, retainVersions = 1)
          case 3 => drain()
        }
      }
      drain() // final convergence
      assert(snap(dst) == snap(src),
        s"trial $trial diverged after $txnV source commits")
    }
  }

  test("batch CDF pushdown: _commit_version predicates narrow the " +
    "planned version range (one diff plan for an equality, the envelope " +
    "for IN-with-gaps whose residual drops the gap versions) and column " +
    "pruning reaches INSIDE the per-version plans") {
    import graft.sources.GraftChangeFeed
    val t = fresh("cdfpush")
    seed(t) // v0
    (1L to 4L).foreach { v =>
      MergeTable.mergeUpsert(spark, t,
        Seq((v, s"wave$v", v * 10.0)).toDF("event_id", "event_type", "value"),
        Seq("event_id"), Seq("event_id"), txn = Some(("w", v)))
    }
    def feed() = spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "0").load(t)
    // EqualTo plans exactly ONE version's diff
    val b1 = GraftChangeFeed.planBuildCount.get
    val r1 = feed().where(col("_commit_version") === 3L).collect()
    val built1 = GraftChangeFeed.planBuildCount.get - b1
    assert(r1.nonEmpty && r1.forall(_.getAs[Long]("_commit_version") == 3L))
    assert(built1 == 1L,
      s"an equality must plan one version's diff, planned $built1")
    // a lower bound narrows the walk to the tail
    val b2 = GraftChangeFeed.planBuildCount.get
    val r2 = feed().where(col("_commit_version") >= 3L).collect()
    val built2 = GraftChangeFeed.planBuildCount.get - b2
    assert(r2.map(_.getAs[Long]("_commit_version")).toSet == Set(3L, 4L))
    assert(built2 == 2L, s"a bound must plan the tail only, got $built2")
    // IN with a gap: envelope narrowing + residual drops the gap version
    val b3 = GraftChangeFeed.planBuildCount.get
    val r3 = feed().where(col("_commit_version").isin(1L, 4L)).collect()
    val built3 = GraftChangeFeed.planBuildCount.get - b3
    assert(r3.map(_.getAs[Long]("_commit_version")).toSet == Set(1L, 4L),
      "the residual must drop the gap versions")
    assert(built3 == 4L, s"IN narrows to its envelope [1,4], got $built3")
    // an impossible bound pair delivers empty without planning anything
    val b4 = GraftChangeFeed.planBuildCount.get
    assert(feed().where(col("_commit_version") === 99L).count() == 0L)
    assert(GraftChangeFeed.planBuildCount.get - b4 == 0L,
      "a version outside the range must plan nothing")
    // column pruning reaches the per-version plans: every branch of the
    // feed's union OUTPUTS the pruned pair, not the full feed schema
    // (table + preimages + meta)
    val dfPruned = feed().select("event_id", "_commit_version")
    val branchOutputs = new org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanHelper {}.collect(dfPruned.queryExecution.executedPlan) {
      case u: org.apache.spark.sql.execution.UnionExec =>
        u.children.map(_.output.map(_.name))
    }.flatten
    assert(branchOutputs.nonEmpty &&
      branchOutputs.forall(_ == Seq("event_id", "_commit_version")),
      s"each version's plan must carry the pruned column set: $branchOutputs")
    assert(dfPruned.count() == 24L) // v0 snapshot (20) + four diffs
  }

  test("batch-door coalesceDiffs: readChangeFeed delivers the net " +
    "endpoint diff (zero per-version walks), composes with version " +
    "narrowing, and a v0 start falls back to the per-version boot") {
    import graft.sources.GraftChangeFeed
    val t = fresh("cdfnet")
    seed(t) // v0: ids 1..20
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "a", 1.0), (100L, "new", 9.0))
        .toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L)))
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "b", 2.0)).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 2L)))
    MergeTable.mergeDelete(spark, t, Seq(100L).toDF("event_id"),
      txn = Some(("w", 3L)))
    def net(fromV: String) = spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", fromV)
      .option("coalesceDiffs", "true").load(t)
    // the net of (v0, v3]: ONE update of id 1 — and no per-version walk
    val b0 = GraftChangeFeed.planBuildCount.get
    val rows = net("1").collect().map(key)
    assert(GraftChangeFeed.planBuildCount.get == b0,
      "the net read must not walk per-version plans")
    assert(rows.toSeq == Seq((3L, "UPDATE", "diff", 1L, "b", 2.0,
      Some(1.0))), s"net rows: ${rows.toSeq}")
    // version predicates are FILTER-STABLE over the net rows (all
    // stamped with the window end version): a pushable and a
    // non-pushable form of the same predicate agree, because narrowing
    // is DISABLED under coalesce — whether Spark manages to push the
    // filter can never redefine the net window or the stamps
    assert(net("1").where(col("_commit_version") <= 2L).count() == 0L,
      "a version filter must NOT re-window the net diff")
    assert(net("1").where(col("_commit_version") + lit(0L) <= 2L)
      .count() == 0L, "the non-pushable form must agree")
    assert(net("1").where(col("_commit_version") === 3L).collect().map(key)
      .toSeq == rows.toSeq, "filtering at the stamp keeps every net row")
    // bounding the net WINDOW is the reader option's job: endingVersion
    // nets (v0, v2] — id 100 is alive there, rows stamped v2
    val r2 = spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .option("endingVersion", "2").option("coalesceDiffs", "true")
      .load(t).collect().map(key)
    assert(r2.map(r => (r._4, r._2, r._5)).toSet ==
      Set((1L, "UPDATE", "b"), (100L, "INSERT", "new")),
      s"bounded net: ${r2.toSeq}")
    assert(r2.forall(_._1 == 2L), "net rows carry the window end version")
    // a range wider than maxVersionsPerRead still delivers ONE net diff:
    // the chunk loop is bypassed under coalesce (chunking a net read
    // would deliver cross-chunk transients with per-chunk stamps)
    val bC = GraftChangeFeed.planBuildCount.get
    val rC = spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .option("maxVersionsPerRead", "1").option("coalesceDiffs", "true")
      .load(t).collect().map(key)
    assert(GraftChangeFeed.planBuildCount.get == bC,
      "a chunk-width net read must still be ONE two-snapshot plan")
    assert(rC.toSeq == rows.toSeq,
      s"chunk width must not change the net: ${rC.toSeq}")
    // a v0 start has no from-side: the per-version boot walk serves it
    val all = net("0").collect()
    assert(all.length == 20 + 2 + 1 + 1, // v0 boot + v1(2) + v2(1) + v3(1)
      s"v0 start must fall back to the full per-version feed: ${all.length}")
  }

  test("coalesceDiffs: a multi-version batch delivers ONE net endpoint " +
    "diff — insert-then-delete nets away, the last update wins with a " +
    "batch-start preimage, rows stamped with the END version; the " +
    "default per-version feed is unchanged and both fold to the same " +
    "state") {
    val t = fresh("coal")
    seed(t) // v0: ids 1..20
    val ckptA = fresh("coal-ckptA") // default per-version feed
    val ckptB = fresh("coal-ckptB") // coalesced feed
    val gotA = mutable.Buffer.empty[Seq[Row]]
    val gotB = mutable.Buffer.empty[Seq[Row]]
    runStream(t, ckptA, gotA)
    runStream(t, ckptB, gotB, Map("coalesceDiffs" -> "true"))
    gotA.clear(); gotB.clear()
    // v1: update id 1 + insert id 100; v2: update id 1 again;
    // v3: delete id 100 — net over (v0, v3]: ONE update of id 1
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "a", 1.0), (100L, "new", 9.0))
        .toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L)))
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "b", 2.0)).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 2L)))
    MergeTable.mergeDelete(spark, t, Seq(100L).toDF("event_id"),
      txn = Some(("w", 3L)))
    runStream(t, ckptA, gotA)
    runStream(t, ckptB, gotB, Map("coalesceDiffs" -> "true"))
    val perVersion = gotA.flatten.map(key)
    val net = gotB.flatten.map(key)
    // the default feed delivers every intermediate change
    assert(perVersion.exists(r => r._4 == 100L && r._2 == "INSERT"))
    assert(perVersion.exists(r => r._4 == 100L && r._2 == "DELETE"))
    assert(perVersion.count(r => r._4 == 1L && r._2 == "UPDATE") == 2)
    // the coalesced feed delivers the NET change only
    assert(net.size == 1, s"net diff must fold the lag: $net")
    val r = net.head
    assert(r._1 == 3L && r._2 == "UPDATE" && r._3 == "diff" &&
      r._4 == 1L && r._5 == "b" && r._6 == 2.0 && r._7.contains(1.0),
      s"net row must carry the end version, last payload and the " +
        s"batch-start preimage: $r")
    // both feeds fold to the same final state
    def fold(rows: Seq[(Long, String, String, Long, String, Double,
        Option[Double])]): Map[Long, (String, Double)] =
      rows.sortBy(_._1).foldLeft(Map.empty[Long, (String, Double)]) {
        case (m, row) =>
          if (row._2 == "DELETE") m - row._4
          else m + (row._4 -> ((row._5, row._6)))
      }
    val base = (1L to 20L)
      .map(i => i -> ((if (i % 4 == 0) "error" else "ok", i * 1.0))).toMap
    assert(fold(base.map { case (k, (e, v)) =>
      (0L, "INSERT", "snapshot", k, e, v, None: Option[Double]) }.toSeq ++
      perVersion) ==
      fold(base.map { case (k, (e, v)) =>
        (0L, "INSERT", "snapshot", k, e, v, None: Option[Double]) }.toSeq ++
        net),
      "per-version and coalesced feeds must fold to the same state")
  }

  test("replicator LWW fold: a multi-version lag drains as ~2 replica " +
    "commits per micro-batch (commit amplification is O(batches), not " +
    "O(source versions)), re-insert-after-delete and delete-after-" +
    "update fold correctly, and a user table named like the legacy " +
    "sibling staging survives a reset untouched") {
    import graft.streaming.GraftReplicator
    val src = fresh("replf-src")
    val dst = fresh("replf-dst")
    val ckpt = fresh("replf-ckpt")
    MergeTable.mergeUpsert(spark, src,
      (1L to 200L).map(i => (i, "seed", i * 1.0))
        .toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 50,
      txn = Some(("w", 0L)))
    def drain(): Unit = {
      val q = GraftReplicator.replicate(spark, src, dst, ckpt,
        Map("maxVersionsPerTrigger" -> "1000"))
      try q.processAllAvailable() finally q.stop()
    }
    def snap(t: String) = MergeTable.read(spark, t)
      .select("event_id", "event_type", "value")
      .as[(Long, String, Double)].collect().toSet
    drain() // boot
    val bootCommits = MergeTable.history(dst).size
    // a 12-version lag with LWW-sensitive interleavings on single keys:
    // update→delete (key 3: must END deleted), delete→re-insert (key 4:
    // must END present with the LAST payload), repeated updates (key 5:
    // last wins)
    var v = 0L
    def nextV(): Long = { v += 1; v }
    MergeTable.mergeUpsert(spark, src,
      Seq((3L, "upd", 33.0)).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", nextV())))
    MergeTable.mergeDelete(spark, src, Seq(3L).toDF("event_id"),
      txn = Some(("w", nextV())))
    MergeTable.mergeDelete(spark, src, Seq(4L).toDF("event_id"),
      txn = Some(("w", nextV())))
    MergeTable.mergeUpsert(spark, src,
      Seq((4L, "reborn", 44.0)).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", nextV())))
    (1 to 8).foreach { i =>
      MergeTable.mergeUpsert(spark, src,
        Seq((5L, s"u$i", i * 5.0)).toDF("event_id", "event_type", "value"),
        Seq("event_id"), Seq("event_id"), txn = Some(("w", nextV())))
    }
    drain() // one micro-batch covers the whole 12-version lag
    val lagCommits = MergeTable.history(dst).size - bootCommits
    assert(lagCommits <= 2,
      s"a folded 12-version lag must cost <=2 replica commits, " +
        s"got $lagCommits")
    assert(snap(dst) == snap(src), "LWW fold must converge to the head")
    assert(!snap(dst).exists(_._1 == 3L), "update-then-delete ends deleted")
    assert(snap(dst).contains((4L, "reborn", 44.0)),
      "delete-then-reinsert ends present with the last payload")
    assert(snap(dst).contains((5L, "u8", 40.0)), "last update wins")
    // replay: a re-drain with nothing new must not commit again
    val before = MergeTable.history(dst).size
    drain()
    assert(MergeTable.history(dst).size == before,
      "an empty drain must commit nothing")
    // ---- staging-collision hardening: a USER table named like the
    // legacy sibling staging must survive a reset epoch
    val decoy = s"${dst}_resetstage_v7"
    MergeTable.mergeUpsert(spark, decoy,
      Seq((1L, "precious", 1.0)).toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 0L)))
    // force a reset: full rewrite then vacuum past the replica's offset
    MergeTable.mergeUpsert(spark, src,
      (1L to 200L).map(i => (i, "rewrite", i + 0.5))
        .toDF("event_id", "event_type", "value"),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 50,
      txn = Some(("w", nextV())))
    assert(MergeTable.vacuum(src, graceMs = 0L, retainVersions = 1) > 0)
    drain() // reset epoch: stage under <dst>/.resetstage, swap, drop
    assert(snap(dst) == snap(src), "the reset swap must converge")
    assert(snap(decoy) == Set((1L, "precious", 1.0)),
      "a sibling user table named like a stage must never be dropped")
    // the staging directory cleaned up after the swap
    val stageRoot = java.nio.file.Paths.get(dst, ".resetstage")
    assert(!java.nio.file.Files.isDirectory(stageRoot) ||
      { val s0 = java.nio.file.Files.list(stageRoot)
        try !s0.iterator().hasNext finally s0.close() },
      "completed epochs must not leave staging behind")
    MergeTable.dropTable(decoy) // shared-/tmp hygiene
  }

  test("GraftReplicator: reset-safe CDC replication — the replica " +
    "converges across a paged snapshot boot, diffs, a vacuum-forced " +
    "PAGED reset epoch with restarts at slice boundaries (stale replica " +
    "rows deleted via the full-sync swap), and post-reset diffs; no " +
    "staging tables remain") {
    import graft.streaming.GraftReplicator
    val src = fresh("replr-src")
    val dst = fresh("replr-dst")
    def commit(ids: Seq[Long], tag: String, txnV: Long): Unit =
      MergeTable.mergeUpsert(spark, src,
        ids.map(i => (i, tag, i * 1.0)).toDF("event_id", "event_type", "value"),
        Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100,
        txn = Some(("w", txnV)))
    commit(1L to 600L, "a", 0L) // v0: 6 files
    commit(Seq(1L), "b", 1L) // v1 diff
    def snap(t: String) = MergeTable.read(spark, t)
      .select("event_id", "event_type", "value")
      .as[(Long, String, Double)].collect().toSet
    val ckpt = fresh("replr-ckpt")
    val opts = Map("maxFilesPerTrigger" -> "2")
    def runRepl(): Unit = {
      val q = GraftReplicator.replicate(spark, src, dst, ckpt, opts)
      try q.processAllAvailable() finally q.stop()
    }
    runRepl() // paged v0 boot (3 slices) + v1 diff
    assert(snap(dst) == snap(src) && snap(dst).size == 600)
    // while the replica lags: two full rewrites, a copy-on-write DELETE
    // of 501..600, then vacuum → the replica's next delivery is a PAGED
    // reset epoch whose swap must REMOVE the stale 501..600
    commit(1L to 600L, "v2", 2L)
    MergeTable.mergeDelete(spark, src, (501L to 600L).toDF("event_id"),
      txn = Some(("w", 3L))) // v3
    commit(1L to 500L, "v4", 4L) // v4: 5 files
    assert(MergeTable.vacuum(src, graceMs = 0L, retainVersions = 1) > 0)
    // drive the reset via applyBatch in a Trigger.Once loop — a full
    // restart at EVERY slice boundary (staging durability across
    // restarts is the point); replicate() shares this exact applyBatch
    import org.apache.spark.sql.streaming.Trigger
    val keys = Seq("event_id")
    val dataCols = Seq("event_id", "event_type", "value")
    var batches = 0
    def runOne(): Unit = {
      val q = opts.foldLeft(spark.readStream.format("graft")) {
        case (r, (k, v)) => r.option(k, v) }.load(src)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.Once())
        .foreachBatch { (b: DataFrame, id: Long) =>
          if (!b.isEmpty) batches += 1
          GraftReplicator.applyBatch(b.sparkSession, dst, keys, dataCols,
            b, id)
        }.start()
      q.awaitTermination()
    }
    (1 to 6).foreach(_ => runOne())
    assert(batches >= 3, s"the 5-file reset must page at 2/trigger: $batches")
    assert(snap(dst) == snap(src) && snap(dst).size == 500,
      "the swap must converge the replica AND drop the stale 501..600")
    assert(snap(dst).forall(_._2 == "v4"))
    // post-reset diffs flow on the same checkpoint through replicate()
    commit(Seq(5L), "post", 5L) // v5
    runRepl()
    assert(snap(dst) == snap(src))
    assert(snap(dst).exists(r => r._1 == 5L && r._2 == "post"))
    // no staging residue (staging lives INSIDE the replica dir since
    // round 17 — the sibling layout had a name-collision hazard)
    val stageRoot = java.nio.file.Paths.get(dst, ".resetstage")
    val leftover =
      if (!java.nio.file.Files.isDirectory(stageRoot)) Nil
      else {
        val stream2 = java.nio.file.Files.list(stageRoot)
        try {
          import scala.jdk.CollectionConverters._
          stream2.iterator().asScala.map(_.getFileName.toString).toList
        } finally stream2.close()
      }
    assert(leftover.isEmpty, s"staging tables must be dropped: $leftover")
  }
}
