package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MergeTable

/** The transactional MERGE table's file-level contracts — the parts the
  * q_merge_upsert oracle (value-level last-writer-wins) cannot see:
  * untouched files carried by reference, key-range file pruning, txn
  * replay watermark, the key-unique MERGE precondition, vacuum retention.
  */
class MergeTableSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-mergetable-$tag")
    Files.delete(p) // mergeUpsert creates the tree
    p.toString
  }

  private def rows(ids: Seq[Long], v: Double) =
    ids.map(id => (id, s"u$id", v)).toDF("event_id", "tag", "value")

  test("clause-list merge API: ordered first-match-wins, expression SET " +
    "over both sides, INSERT column list with NULL-fill, requireVersion " +
    "conflict") {
    import MergeTable.{DeleteRow, InsertClause, MergeClause, UpdateSet}
    val t = freshTable("clauses")
    MergeTable.mergeUpsert(spark, t, rows(1L to 10L, 5.0),
      Seq("event_id"), Seq("event_id"))
    val batch = rows(4L to 13L, 2.0)
    MergeTable.merge(spark, t, batch, Seq("event_id"), Seq("event_id"),
      matched = Seq(
        // first clause wins: ids 4..6 accumulate (both guards hold for 4..6)
        MergeClause(Some("t.event_id <= 6"),
          UpdateSet(Map("value" -> "t.value + s.value"))),
        // second: ids 7..8 delete
        MergeClause(Some("t.event_id <= 8"), DeleteRow),
        // third: the rest of the matched set (9, 10) takes the source value
        MergeClause(None, UpdateSet(Map("value" -> "s.value")))),
      notMatched = Seq(
        // 11..12 insert with an expression and a NULL-filled tag
        InsertClause(Some("s.event_id <= 12"),
          Map("event_id" -> "s.event_id", "value" -> "s.value * 10"))))
    val out = MergeTable.read(spark, t)
      .select("event_id", "tag", "value").collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getDouble(2))))
      .toMap
    assert((1L to 3L).forall(i => out(i) == ((Some(s"u$i"), 5.0))))
    assert((4L to 6L).forall(i => out(i) == ((Some(s"u$i"), 7.0))),
      "first clause must accumulate t.value + s.value")
    assert(!out.contains(7L) && !out.contains(8L), "second clause deletes")
    assert((9L to 10L).forall(i => out(i) == ((Some(s"u$i"), 2.0))))
    assert((11L to 12L).forall(i => out(i) == ((None, 20.0))),
      "insert list: expression value, NULL tag")
    assert(!out.contains(13L), "no insert clause matched id 13")
    assert(out.size == 10)

    // requireVersion: a stale find-phase version throws the typed conflict
    val v = MergeTable.latestManifest(t).get.version
    intercept[MergeTable.ConcurrentMergeException] {
      MergeTable.merge(spark, t, rows(Seq(1L), 9.0),
        Seq("event_id"), Seq("event_id"),
        matched = Seq(MergeClause(None, UpdateSet(Map.empty))),
        requireVersion = Some(v - 1))
    }
    // rekeying / non-identity insert keys reject loudly
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, t, rows(Seq(1L), 9.0),
        Seq("event_id"), Seq("event_id"),
        matched = Seq(MergeClause(None,
          UpdateSet(Map("event_id" -> "s.event_id + 1")))))
    }
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, t, rows(Seq(99L), 9.0),
        Seq("event_id"), Seq("event_id"),
        notMatched = Seq(InsertClause(None,
          Map("event_id" -> "s.event_id + 1000", "value" -> "s.value"))))
    }
    assert(MergeTable.latestManifest(t).get.version == v, "rejects commit nothing")
  }

  test("new rows win on key collision; read returns the merged snapshot") {
    val t = freshTable("basic")
    MergeTable.mergeUpsert(spark, t, rows(1L to 10L, 1.0), Seq("event_id"), Seq("event_id"))
    MergeTable.mergeUpsert(spark, t, rows(8L to 12L, 2.0), Seq("event_id"), Seq("event_id"))
    val out = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(out.size == 12)
    assert((1L to 7L).forall(out(_) == 1.0))
    assert((8L to 12L).forall(out(_) == 2.0))
    val m = MergeTable.latestManifest(t).get
    assert(m.version == 1L)
    assert(m.files.map(_.numRows).sum == 12L)
  }

  test("SOURCE-SIDE pushdown: a matched-only merge drops source rows " +
    "outside every touched file's box before the join; insert-bearing " +
    "merges never prune; the prune helper is row-exact on the box test") {
    import MergeTable.{InsertClause, MergeClause, UpdateSet}
    val t = freshTable("srcprune")
    // the spec pins the AT-SCALE posture: zero the size gate (a real
    // merge source is far above the broadcast threshold; this fixture
    // is not, and would otherwise legitimately skip the prune)
    spark.conf.set("spark.graft.merge.sourcePrune.minBytes", "0")
    try {
    MergeTable.mergeUpsert(spark, t, rows(1L to 1000L, 5.0),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100)
    val m = MergeTable.latestManifest(t).get
    assert(m.files.size >= 8)
    // a huge scattered source: two keys inside the table's range, the
    // rest far outside every file box — a matched-only merge must treat
    // the outside rows as no-ops without joining them
    val batch = rows(Seq(42L, 43L) ++ (100000L to 100500L), 9.0)
    // the helper is ROW-exact: survivors are exactly the in-box keys
    val pruned = MergeTable.pruneSourceToBoxes(spark, batch, m.files,
      Seq("event_id"), Map.empty)
      .select("event_id").as[Long].collect().toSet
    assert(pruned == Set(42L, 43L),
      s"prune must keep exactly the in-box keys, got ${pruned.size} rows")
    // end-to-end: guarded matched-only merge — updates land, nothing
    // inserts, and the prune was applied
    MergeTable.merge(spark, t, batch, Seq("event_id"), Seq("event_id"),
      matched = Seq(MergeClause(Some("s.value > t.value"),
        UpdateSet(Map.empty))))
    assert(MergeTable.lastSourcePrunedFor(t),
      "a matched-only merge must take the source-side prune")
    val after = MergeTable.read(spark, t)
      .select(col("event_id"), col("value"))
      .as[(Long, Double)].collect().toMap
    assert(after.size == 1000, "no source row outside the boxes may insert")
    assert(after(42L) == 9.0 && after(43L) == 9.0 && after(44L) == 5.0)
    // an insert-bearing merge SPLITS instead: the in-box row joins (and
    // updates), while the provably-unmatched out-of-box row bypasses the
    // join straight to the insert clauses — both land, the prune applies
    MergeTable.merge(spark, t, rows(Seq(10L, 5000L), 1.0),
      Seq("event_id"), Seq("event_id"),
      matched = Seq(MergeClause(None, UpdateSet(Map.empty))),
      notMatched = Seq(InsertClause(None, Map.empty)))
    assert(MergeTable.lastSourcePrunedFor(t),
      "an insert-bearing merge with a touched box must split, not skip")
    val afterSplit = MergeTable.read(spark, t)
      .select(col("event_id"), col("value"))
      .as[(Long, Double)].collect().toMap
    assert(afterSplit.size == 1001)
    assert(afterSplit(10L) == 1.0, "in-box row updates through the join")
    assert(afterSplit(5000L) == 1.0, "out-of-box row inserts via the bypass")
    // a GUARDED insert gates the bypassed complement exactly like the
    // join path: of two out-of-box rows, only the passing one inserts,
    // while an in-box row takes the matched clause through the join
    MergeTable.merge(spark, t, rows(Seq(7000L, 8001L, 42L), 3.0),
      Seq("event_id"), Seq("event_id"),
      matched = Seq(MergeClause(None, UpdateSet(Map.empty))),
      notMatched = Seq(InsertClause(Some("s.event_id % 2 = 0"), Map.empty)))
    val after2 = MergeTable.read(spark, t)
      .select(col("event_id"), col("value"))
      .as[(Long, Double)].collect().toMap
    assert(after2.contains(7000L) && !after2.contains(8001L),
      "the insert guard must gate the bypassed complement")
    assert(after2(42L) == 3.0, "in-box rows still flow through the join")
    assert(after2.size == 1002)
    // the keyed-delete door prunes its scattered purge list the same way
    val deleted = MergeTable.mergeDelete(spark, t,
      (Seq(42L) ++ (200000L to 200300L)).toDF("event_id"))
    assert(deleted == 1L && MergeTable.lastSourcePrunedFor(t))
    assert(MergeTable.read(spark, t).count() == 1001)
    } finally spark.conf.unset("spark.graft.merge.sourcePrune.minBytes")
  }

  test("source-prune gates: a fully-covered batch (every key inside a " +
    "touched box) and a below-threshold tiny batch both SKIP the " +
    "semi/anti prune pair — correctness identical, overhead gone") {
    import MergeTable.{InsertClause, MergeClause, UpdateSet}
    val t = freshTable("srcprunegate")
    MergeTable.mergeUpsert(spark, t, rows(1L to 1000L, 5.0),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100)
    // tiny batch, all keys in-range: both gates fire — no prune, same
    // answer
    MergeTable.merge(spark, t, rows(Seq(10L, 20L), 9.0),
      Seq("event_id"), Seq("event_id"),
      matched = Seq(MergeClause(None, UpdateSet(Map.empty))),
      notMatched = Seq(InsertClause(None, Map.empty)))
    assert(!MergeTable.lastSourcePrunedFor(t),
      "a covered below-threshold batch must skip the prune")
    assert(MergeTable.lastSourcePruneReasonFor(t)
      .contains("skipped-coverage"))
    val out = MergeTable.read(spark, t)
      .select(col("event_id"), col("value")).as[(Long, Double)]
      .collect().toMap
    assert(out(10L) == 9.0 && out(20L) == 9.0 && out.size == 1000)
    // a tiny batch WITH an out-of-box key under the DEFAULT size gate:
    // the size gate is the one that skips, and the audit says so
    MergeTable.merge(spark, t, rows(Seq(15L, 77777L), 6.0),
      Seq("event_id"), Seq("event_id"),
      matched = Seq(MergeClause(None, UpdateSet(Map.empty))))
    assert(MergeTable.lastSourcePruneReasonFor(t).contains("skipped-size"))
    assert(MergeTable.read(spark, t).where(col("event_id") === 15L)
      .select("value").as[Double].head() == 6.0)
    // force the size gate open: coverage alone still skips when every
    // key is inside a touched box
    spark.conf.set("spark.graft.merge.sourcePrune.minBytes", "0")
    try {
      MergeTable.merge(spark, t, rows(Seq(30L, 40L), 7.0),
        Seq("event_id"), Seq("event_id"),
        matched = Seq(MergeClause(None, UpdateSet(Map.empty))))
      assert(!MergeTable.lastSourcePrunedFor(t),
        "full box coverage must skip the prune even with the size gate off")
      // and with an out-of-box key present the prune engages again
      MergeTable.merge(spark, t, rows(Seq(50L, 99999L), 3.0),
        Seq("event_id"), Seq("event_id"),
        matched = Seq(MergeClause(None, UpdateSet(Map.empty))))
      assert(MergeTable.lastSourcePrunedFor(t))
      assert(MergeTable.lastSourcePruneReasonFor(t).contains("applied"))
      val out2 = MergeTable.read(spark, t)
        .select(col("event_id"), col("value")).as[(Long, Double)]
        .collect().toMap
      assert(out2(30L) == 7.0 && out2(50L) == 3.0 &&
        !out2.contains(99999L) && out2.size == 1000)
    } finally spark.conf.unset("spark.graft.merge.sourcePrune.minBytes")
    // a fully-covered DELETE key list also skips its prune
    val d = MergeTable.mergeDelete(spark, t, Seq(10L, 20L).toDF("event_id"))
    assert(d == 2L && !MergeTable.lastSourcePrunedFor(t),
      "a covered delete key list must skip the prune")
    assert(MergeTable.read(spark, t).count() == 998)
  }

  test("replaceAll: the no-join FULL-REPLACE behind Overwrite/INSERT " +
    "OVERWRITE — the batch becomes the whole state in one commit, the " +
    "schema widens additively, time travel serves pre-overwrite " +
    "versions, txn replays no-op, duplicate keys reject") {
    val t = freshTable("replace")
    MergeTable.mergeUpsert(spark, t, rows(1L to 100L, 1.0),
      Seq("event_id"), Seq("event_id"))
    val nb = (50L to 120L).map(i => (i, s"u$i", 2.0, s"x$i"))
      .toDF("event_id", "tag", "value", "extra")
    assert(MergeTable.replaceAll(spark, t, nb, Seq("event_id"),
      Seq("event_id"), txn = Some(("ow", 1L))))
    val head = MergeTable.read(spark, t)
    assert(head.columns.toSet == Set("event_id", "tag", "value", "extra"))
    val ids = head.select("event_id").as[Long].collect().toSet
    assert(ids == (50L to 120L).toSet,
      "the batch IS the new state — no survivors from the old file set")
    assert(head.where(col("extra").isNull).count() == 0)
    // the old state is fully retired from the HEAD manifest but time
    // travel still serves it
    val m = MergeTable.latestManifest(t).get
    assert(m.files.map(_.numRows).sum == 71L)
    assert(MergeTable.readVersion(spark, t, 0L).count() == 100L)
    // a crash-replayed overwrite no-ops off the txn watermark
    assert(!MergeTable.replaceAll(spark, t,
      Seq((999L, "z", 0.0, "z")).toDF("event_id", "tag", "value", "extra"),
      Seq("event_id"), Seq("event_id"), txn = Some(("ow", 1L))))
    assert(MergeTable.read(spark, t).count() == 71L)
    // duplicate keys reject (the table model is key-unique)
    val e = intercept[Exception](MergeTable.replaceAll(spark, t,
      Seq((1L, "a", 1.0, "a"), (1L, "b", 2.0, "b"))
        .toDF("event_id", "tag", "value", "extra"),
      Seq("event_id"), Seq("event_id")))
    assert(e.getMessage.contains("key-unique"), e.getMessage)
    // retyping rejects
    val e2 = intercept[Exception](MergeTable.replaceAll(spark, t,
      Seq((1L, 5, 1.0)).toDF("event_id", "tag", "value"),
      Seq("event_id"), Seq("event_id")))
    assert(e2.getMessage.contains("retyping"), e2.getMessage)
  }

  test("replaceAll vs a concurrent commit: the CAS loss re-commits the " +
    "SAME pre-written files against the new head with zero recompute — " +
    "overwrite is state-independent, last-writer-wins wholesale") {
    val t = freshTable("replacecas")
    MergeTable.mergeUpsert(spark, t, rows(1L to 50L, 1.0),
      Seq("event_id"), Seq("event_id"))
    var fired = false
    var hookDirs = Set.empty[String]
    MergeTable.testPrecommitHook = () => if (!fired) {
      fired = true
      val st = Files.list(Paths.get(t, "data"))
      try {
        import scala.jdk.CollectionConverters._
        hookDirs = st.iterator().asScala.map(_.getFileName.toString).toSet
      } finally st.close()
      MergeTable.mergeUpsert(spark, t, rows(Seq(7L), 9.0),
        Seq("event_id"), Seq("event_id")) // the interloper wins v1
    }
    try assert(MergeTable.replaceAll(spark, t,
      rows(100L to 120L, 5.0), Seq("event_id"), Seq("event_id"),
      txn = Some(("ow", 1L))))
    finally MergeTable.testPrecommitHook = () => ()
    assert(fired)
    val m = MergeTable.latestManifest(t).get
    assert(m.version == 2L, s"winner v1 + replace v2, got v${m.version}")
    // the replace's committed files were written BEFORE the race (their
    // commit dir existed at hook time) — the retry re-used them
    val committedDirs = m.files.map(_.path.split("/")(1)).toSet
    assert(committedDirs.subsetOf(hookDirs),
      s"the CAS retry must re-commit the pre-race files: " +
        s"$committedDirs vs $hookDirs")
    // overwrite wins wholesale: the interloper's row is gone with the
    // rest of the old state, but its VERSION is in history
    val out = MergeTable.read(spark, t)
      .select("event_id").as[Long].collect().toSet
    assert(out == (100L to 120L).toSet)
    assert(MergeTable.readVersion(spark, t, 1L)
      .where(col("event_id") === 7L)
      .select("value").as[Double].head() == 9.0)
  }

  test("file pruning: a batch touching one file's key range rewrites only it") {
    val t = freshTable("prune")
    // 4096 rows/file default → force multiple files with a small target
    MergeTable.mergeUpsert(spark, t, rows(1L to 1000L, 1.0),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100)
    val m0 = MergeTable.latestManifest(t).get
    assert(m0.files.size >= 8, s"want many files, got ${m0.files.size}")
    // range-clustered commit → per-file bounds are tight and disjoint
    val sorted = m0.files.sortBy(_.minLong("event_id"))
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.maxLong("event_id") < b.minLong("event_id"), s"$a overlaps $b")
      case _ => ()
    }
    // batch hits keys inside exactly one file's [min,max]
    val victim = sorted(3)
    val batchKeys = Seq(victim.minLong("event_id"), victim.maxLong("event_id"))
    MergeTable.mergeUpsert(spark, t, rows(batchKeys, 9.0),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100)
    val m1 = MergeTable.latestManifest(t).get
    val kept = m1.files.map(_.path).toSet
    // every file except the victim survives BY REFERENCE (same path)
    m0.files.foreach { f =>
      if (f.path == victim.path) assert(!kept.contains(f.path), "victim not rewritten")
      else assert(kept.contains(f.path), s"untouched ${f.path} was rewritten")
    }
    // and values merged correctly
    val out = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(out.size == 1000)
    assert(batchKeys.forall(out(_) == 9.0))
    assert(out(victim.minLong("event_id") + 1) == 1.0)
  }

  test("txn watermark: a replayed (writer, version) is a no-op") {
    val t = freshTable("txn")
    MergeTable.mergeUpsert(spark, t, rows(1L to 5L, 1.0),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 0L)))
    val applied = MergeTable.mergeUpsert(spark, t, rows(1L to 5L, 2.0),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 0L)))
    assert(!applied, "replayed txn must be skipped")
    assert(MergeTable.latestManifest(t).get.version == 0L)
    val out = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(out.values.forall(_ == 1.0), "replayed batch must not re-apply")
    // a NEW version from the same writer applies
    assert(MergeTable.mergeUpsert(spark, t, rows(1L to 5L, 3.0),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L))))
    assert(MergeTable.read(spark, t).where(col("value") === 3.0).count() == 5)
  }

  test("MERGE rejects a key-duplicated source batch") {
    val t = freshTable("dup")
    val dup = Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("event_id", "tag", "value")
    val e = intercept[IllegalArgumentException] {
      MergeTable.mergeUpsert(spark, t, dup, Seq("event_id"), Seq("event_id"))
    }
    assert(e.getMessage.contains("key-unique"))
  }

  test("commit CAS: a foreign commit at the next version forces a retry that lands after it") {
    val t = freshTable("cas")
    MergeTable.mergeUpsert(spark, t, rows(1L to 5L, 1.0), Seq("event_id"), Seq("event_id"))
    // a concurrent writer publishes v1 out from under the next merge: copy
    // v0's manifest bytes to v1 (a valid committed manifest)
    val log = Paths.get(t, "_graft_log")
    Files.copy(log.resolve("v" + "0" * 20 + ".json"),
      log.resolve("v" + "0" * 19 + "1.json"))
    MergeTable.mergeUpsert(spark, t, rows(3L to 6L, 2.0), Seq("event_id"), Seq("event_id"))
    val m = MergeTable.latestManifest(t).get
    assert(m.version == 2L, s"merge must commit AFTER the foreign v1, got ${m.version}")
    val out = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(out.size == 6 && out(3L) == 2.0 && out(1L) == 1.0)
  }

  test("vacuum retains the newest versions BY COUNT; older ones collect") {
    val t = freshTable("vacuum")
    MergeTable.mergeUpsert(spark, t, rows(1L to 50L, 1.0), Seq("event_id"), Seq("event_id"))
    MergeTable.mergeUpsert(spark, t, rows(1L to 50L, 2.0), Seq("event_id"), Seq("event_id"))
    val before = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    // default retention (2 versions): v0 survives even at zero grace —
    // count-floor retention, so a reader pinned to latest−1 never loses
    // its files to an age-only sweep (files' WRITE time says nothing
    // about when they became unreferenced)
    MergeTable.vacuum(t, graceMs = 0L)
    assert(MergeTable.readVersion(spark, t, 0L).count() == 50L,
      "latest-1 must survive a default vacuum")
    // retainVersions=1: now v0 collects
    val deleted = MergeTable.vacuum(t, graceMs = 0L, retainVersions = 1)
    assert(deleted > 0, "v0's replaced files + v0's manifest should collect")
    // live snapshot unaffected
    val after = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(after == before)
    assert(MergeTable.latestManifest(t).get.version == 1L)
  }

  test("time travel: every committed version reads back exactly as committed") {
    val t = freshTable("tt")
    MergeTable.mergeUpsert(spark, t, rows(1L to 10L, 1.0), Seq("event_id"), Seq("event_id"))
    MergeTable.mergeUpsert(spark, t, rows(5L to 8L, 2.0), Seq("event_id"), Seq("event_id"))
    MergeTable.mergeDelete(spark, t, rows(Seq(1L, 2L), 0.0))
    def at(v: Long) = MergeTable.readVersion(spark, t, v)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(at(0L) == (1L to 10L).map(_ -> 1.0).toMap)
    assert(at(1L) == ((1L to 4L) ++ (9L to 10L)).map(_ -> 1.0).toMap
      ++ (5L to 8L).map(_ -> 2.0).toMap)
    assert(at(2L).keySet == (3L to 10L).toSet)
    // latest == highest version
    assert(MergeTable.read(spark, t)
      .select("event_id").as[Long].collect().toSet == at(2L).keySet)
    val e = intercept[RuntimeException](MergeTable.readVersion(spark, t, 99L))
    assert(e.getMessage.contains("not found"))
  }

  test("keyed delete prunes to overlapping files and reports the removed count") {
    val t = freshTable("del")
    MergeTable.mergeUpsert(spark, t, rows(1L to 1000L, 1.0),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100)
    val m0 = MergeTable.latestManifest(t).get
    val sorted = m0.files.sortBy(_.minLong("event_id"))
    val victim = sorted(2)
    // delete two keys inside ONE file's range
    val n = MergeTable.mergeDelete(spark, t,
      rows(Seq(victim.minLong("event_id"), victim.minLong("event_id") + 1), 0.0), targetRowsPerFile = 100)
    assert(n == 2L, s"expected 2 deleted, got $n")
    val m1 = MergeTable.latestManifest(t).get
    assert(m1.files.map(_.numRows).sum == 998L)
    // untouched files carried by reference
    m0.files.foreach { f =>
      if (f.path != victim.path)
        assert(m1.files.map(_.path).contains(f.path), s"${f.path} rewritten")
    }
    // a delete set overlapping NOTHING is a zero-cost no-op (no new version)
    val before = m1.version
    assert(MergeTable.mergeDelete(spark, t, rows(Seq(1000000L), 0.0)) == 0L)
    assert(MergeTable.latestManifest(t).get.version == before)
  }

  test("optimize merges under-sized files, preserves content, leaves full files alone") {
    val t = freshTable("opt")
    // many tiny merges → fragmented layout
    (0 until 6).foreach { i =>
      MergeTable.mergeUpsert(spark, t,
        rows((i * 10 + 1L) to (i * 10 + 10L), 1.0),
        Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100)
    }
    val before = MergeTable.latestManifest(t).get
    assert(before.files.size >= 2)
    val content = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toSet
    val compacted = MergeTable.optimize(spark, t, targetRowsPerFile = 100)
    assert(compacted >= 2, s"expected a compaction, got $compacted")
    val after = MergeTable.latestManifest(t).get
    assert(after.files.size < before.files.size)
    assert(MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toSet == content)
    // idempotent: a second optimize finds nothing to do and commits nothing
    val v = after.version
    assert(MergeTable.optimize(spark, t, targetRowsPerFile = 100) == 0)
    assert(MergeTable.latestManifest(t).get.version == v)
  }

  test("additive schema evolution: new columns widen, old rows read back null") {
    val t = freshTable("schema")
    MergeTable.mergeUpsert(spark, t, rows(1L to 5L, 1.0), Seq("event_id"), Seq("event_id"))
    // a later batch carries a column the table has never seen
    val widened = Seq((6L, "u6", 2.0, "eu-west"), (3L, "u3x", 3.0, "us-east"))
      .toDF("event_id", "tag", "value", "region")
    MergeTable.mergeUpsert(spark, t, widened, Seq("event_id"), Seq("event_id"))
    val out = MergeTable.read(spark, t)
    assert(out.columns.toSet == Set("event_id", "tag", "value", "region"))
    val byId = out.select("event_id", "value", "region")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), Option(r.getString(2)))).toMap
    assert(byId(6L) == ((2.0, Some("eu-west"))))
    assert(byId(3L) == ((3.0, Some("us-east"))))
    // pre-widening rows: region null, never rewritten for the schema change
    assert(byId(1L) == ((1.0, None)))
    // a batch MISSING an existing column lands with nulls, not an error
    val narrow = Seq((7L, 4.0)).toDF("event_id", "value")
    MergeTable.mergeUpsert(spark, t, narrow, Seq("event_id"), Seq("event_id"))
    val r7 = MergeTable.read(spark, t).where(col("event_id") === 7L)
      .select("tag", "region").collect()(0)
    assert(r7.isNullAt(0) && r7.isNullAt(1))
    // retyping an existing column is rejected
    val retyped = Seq((8L, 9)).toDF("event_id", "value") // value int, table double
    val e = intercept[IllegalArgumentException] {
      MergeTable.mergeUpsert(spark, t, retyped, Seq("event_id"), Seq("event_id"))
    }
    assert(e.getMessage.contains("migration"))
  }

  test("changesBetween: any (v_a, v_b) pair diffs correctly, not just 0->latest") {
    val t = freshTable("cdf")
    MergeTable.mergeUpsert(spark, t, rows(1L to 6L, 1.0), Seq("event_id"), Seq("event_id"))
    MergeTable.mergeUpsert(spark, t, rows(5L to 8L, 2.0), Seq("event_id"), Seq("event_id"))
    MergeTable.mergeDelete(spark, t, rows(Seq(1L), 0.0))
    // v1 -> v2: only the delete
    val d12 = MergeTable.changesBetween(spark, t, 1L, 2L)
      .select("event_id", "change_type").as[(Long, String)].collect().toMap
    assert(d12 == Map(1L -> "DELETE"))
    // v0 -> v1: updates 5,6 (value change) + inserts 7,8
    val d01 = MergeTable.changesBetween(spark, t, 0L, 1L)
      .select("event_id", "change_type").as[(Long, String)].collect().toMap
    assert(d01 == Map(5L -> "UPDATE", 6L -> "UPDATE", 7L -> "INSERT", 8L -> "INSERT"))
    // identical versions: empty feed
    assert(MergeTable.changesBetween(spark, t, 1L, 1L).count() == 0)
  }

  test("property: random CLAUSE-LIST merges equal a row-by-row reference " +
    "interpreter (first-match-wins, expression SET, NULL-fill inserts, NMBS)") {
    import MergeTable.{DeleteRow, InsertClause, MergeClause, UpdateSet}
    type St = Map[Long, (String, Double)] // key -> (tag, value)

    // the condition/action POOLS: each SQL string paired with its exact
    // Scala meaning, so the reference interpreter and the engine evaluate
    // the same predicate from two independent implementations
    case class Cond(sql: String,
        onPair: (Option[(String, Double)], Option[Double]) => Boolean)
    // t = Some((tag, value)) for the table row, s = Some(value) batch-side
    val matchedConds: Seq[Option[Cond]] = Seq(
      None,
      Some(Cond("s.value > t.value",
        (t, sv) => sv.get > t.get._2)),
      Some(Cond("t.tag = 'a'", (t, _) => t.get._1 == "a")),
      Some(Cond("s.value < 5.0", (_, sv) => sv.get < 5.0)))
    val insertConds: Seq[Option[Cond]] = Seq(
      None, Some(Cond("s.value >= 4.0", (_, sv) => sv.get >= 4.0)))
    val nmbsConds: Seq[Option[Cond]] = Seq(
      None, Some(Cond("t.value < 3.0", (t, _) => t.get._2 < 3.0)))

    sealed trait MAct
    case object MDel extends MAct
    case object MStar extends MAct // tag, value both from s
    case object MAcc extends MAct // value = t.value + s.value, tag kept
    case object MTagMark extends MAct // value = s.value, tag = concat(t.tag, '+')
    def mActionOf(a: MAct): MergeTable.MergeAction = a match {
      case MDel => DeleteRow
      case MStar => UpdateSet(Map.empty)
      case MAcc => UpdateSet(Map("value" -> "t.value + s.value"))
      case MTagMark => UpdateSet(Map(
        "value" -> "s.value", "tag" -> "concat(t.tag, '+')"))
    }
    def mApply(a: MAct, t: (String, Double), sTag: String, sv: Double)
        : Option[(String, Double)] = a match {
      case MDel => None
      case MStar => Some((sTag, sv))
      case MAcc => Some((t._1, t._2 + sv))
      // SQL concat NULL-propagates: a row inserted with a NULL tag (the
      // IDouble column-list insert) keeps NULL through the mark
      case MTagMark => Some((if (t._1 == null) null else t._1 + "+", sv))
    }
    sealed trait IAct
    case object IStar extends IAct // full row from s
    case object IDouble extends IAct // (key, value*2), tag NULL
    sealed trait NAct
    case object NDel extends NAct
    case object NBump extends NAct // value = t.value + 1000, tag kept

    import org.scalacheck.Gen
    val mGen = for {
      c <- Gen.oneOf(matchedConds); a <- Gen.oneOf(MDel: MAct, MStar, MAcc, MTagMark)
    } yield (c, a)
    val iGen = for {
      c <- Gen.oneOf(insertConds); a <- Gen.oneOf(IStar: IAct, IDouble)
    } yield (c, a)
    val nGen = for {
      c <- Gen.oneOf(nmbsConds); a <- Gen.oneOf(NDel: NAct, NBump)
    } yield (c, a)
    val mergeGen = for {
      ms <- Gen.listOfN(3, mGen).map(_.take(3))
      nMs <- Gen.choose(0, 3)
      is <- Gen.listOfN(2, iGen)
      nIs <- Gen.choose(0, 2)
      ns <- Gen.listOfN(2, nGen)
      nNs <- Gen.choose(0, 2)
      keys <- Gen.nonEmptyListOf(Gen.choose(0L, 25L)).map(_.distinct)
      v <- Gen.choose(0.0, 10.0).map(x => math.rint(x * 4) / 4) // exact doubles
    } yield (ms.take(nMs), is.take(nIs), ns.take(nNs), keys, v)

    val seed = (0L until 14L).map(i =>
      (i, if (i % 3 == 0) "a" else "b", (i % 7).toDouble))
    (1 to 3).foreach { round =>
      val t = freshTable(s"clauseprop$round")
      MergeTable.mergeUpsert(spark, t, seed.toDF("event_id", "tag", "value"),
        Seq("event_id"), Seq("event_id"))
      var ref: St = seed.map(r => r._1 -> ((r._2, r._3))).toMap
      val rnd = new scala.util.Random(1000 + round)
      val merges = Iterator.continually(
        mergeGen.apply(Gen.Parameters.default.withSize(8),
          org.scalacheck.rng.Seed(rnd.nextLong()))).flatten.take(6).toSeq
      merges.foreach { case (ms, is, ns, keys, v) =>
        val batchRows = keys.map(k => (k, "s", v + (k % 3) * 0.25))
        val batch = batchRows.toDF("event_id", "tag", "value")
        MergeTable.merge(spark, t, batch, Seq("event_id"), Seq("event_id"),
          matched = ms.map { case (c, a) =>
            MergeClause(c.map(_.sql), mActionOf(a)) },
          notMatched = is.map { case (c, a) =>
            InsertClause(c.map(_.sql), a match {
              case IStar => Map.empty[String, String]
              case IDouble => Map("event_id" -> "s.event_id",
                "value" -> "s.value * 2.0")
            })
          },
          notMatchedBySource = ns.map { case (c, a) =>
            MergeClause(c.map(_.sql), a match {
              case NDel => DeleteRow
              case NBump => UpdateSet(Map("value" -> "t.value + 1000.0"))
            })
          })
        // ---- the independent reference interpreter --------------------
        val bMap = batchRows.map(r => r._1 -> ((r._2, r._3))).toMap
        val next = scala.collection.mutable.Map.empty[Long, (String, Double)]
        // matched + not-matched-by-source: walk the table rows
        ref.foreach { case (k, trow) =>
          bMap.get(k) match {
            case Some((sTag, sv)) =>
              ms.find(c => c._1.forall(_.onPair(Some(trow), Some(sv)))) match {
                case Some((_, act)) =>
                  mApply(act, trow, sTag, sv).foreach(next(k) = _)
                case None => next(k) = trow // no clause: keep untouched
              }
            case None =>
              ns.find(c => c._1.forall(_.onPair(Some(trow), None))) match {
                case Some((_, NDel)) => ()
                case Some((_, NBump)) => next(k) = (trow._1, trow._2 + 1000.0)
                case None => next(k) = trow
              }
          }
        }
        // not matched: batch rows with no table row
        bMap.foreach { case (k, (sTag, sv)) =>
          if (!ref.contains(k))
            is.find(c => c._1.forall(_.onPair(None, Some(sv)))).foreach {
              case (_, IStar) => next(k) = (sTag, sv)
              case (_, IDouble) => next(k) = (null, sv * 2.0)
            }
        }
        ref = next.toMap
        val got = MergeTable.read(spark, t)
          .select("event_id", "tag", "value").collect()
          .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
        assert(got == ref,
          s"clause-list merge diverged from the reference interpreter\n" +
            s"clauses m=$ms i=$is n=$ns keys=$keys v=$v\n" +
            s"engine=${got.toSeq.sortBy(_._1)}\nref=${ref.toSeq.sortBy(_._1)}")
      }
    }
  }

  test("property: random upsert/delete sequences equal a driver-side map fold") {
    import org.scalacheck.Gen
    val opGen: Gen[(Boolean, Seq[Long], Double)] = for {
      del <- Gen.frequency(3 -> false, 1 -> true)
      ks <- Gen.nonEmptyListOf(Gen.choose(0L, 30L)).map(_.distinct)
      v <- Gen.choose(1.0, 9.0).map(x => math.rint(x * 10) / 10)
    } yield (del, ks, v)
    val seqGen = Gen.listOfN(6, opGen)
    // sample a handful of sequences (each drives a real table: Spark jobs
    // per op, so a few deep sequences beat many shallow ones)
    (1 to 3).foreach { i =>
      val ops = Iterator.continually(seqGen.sample).flatten.next()
      val t = freshTable(s"prop$i")
      val model = scala.collection.mutable.Map.empty[Long, Double]
      ops.foreach { case (del, ks, v) =>
        if (del) {
          if (model.nonEmpty) { // delete on an uncommitted table is undefined
            MergeTable.mergeDelete(spark, t, rows(ks, 0.0), targetRowsPerFile = 7)
            ks.foreach(model.remove)
          }
        } else {
          MergeTable.mergeUpsert(spark, t, rows(ks, v),
            Seq("event_id"), Seq("event_id"), targetRowsPerFile = 7)
          ks.foreach(k => model(k) = v)
        }
      }
      if (model.nonEmpty || MergeTable.latestManifest(t).isDefined) {
        val out = MergeTable.read(spark, t)
          .select("event_id", "value").as[(Long, Double)].collect().toMap
        assert(out == model.toMap, s"sequence $ops diverged: $out vs $model")
        // manifest row accounting stays consistent with the content
        assert(MergeTable.latestManifest(t).get.files.map(_.numRows).sum ==
          model.size.toLong)
      }
    }
  }

  test("no-overlap delete with a txn still advances the watermark (metadata-only commit)") {
    val t = freshTable("delwm")
    MergeTable.mergeUpsert(spark, t, rows(1L to 5L, 1.0), Seq("event_id"), Seq("event_id"))
    // batch 0 of a delete sink: keys don't exist yet — no files touched,
    // but the watermark MUST land or a crash-replay after a concurrent
    // writer adds the keys would delete rows the original run never saw
    assert(MergeTable.mergeDelete(spark, t, rows(Seq(100L), 0.0),
      txn = Some(("delsink", 0L))) == 0L)
    val m = MergeTable.latestManifest(t).get
    assert(m.txns.get("delsink").contains(0L), "watermark not recorded")
    assert(m.files.map(_.numRows).sum == 5L, "metadata-only commit moved data")
    // a concurrent writer lands key 100; the replayed batch 0 must no-op
    MergeTable.mergeUpsert(spark, t, rows(Seq(100L), 9.0), Seq("event_id"), Seq("event_id"))
    assert(MergeTable.mergeDelete(spark, t, rows(Seq(100L), 0.0),
      txn = Some(("delsink", 0L))) == 0L)
    assert(MergeTable.read(spark, t).where(col("event_id") === 100L).count() == 1,
      "replayed delete batch re-applied against later data")
  }

  test("changesBetween crosses a schema-widening boundary") {
    val t = freshTable("cdfw")
    MergeTable.mergeUpsert(spark, t, rows(1L to 3L, 1.0), Seq("event_id"), Seq("event_id"))
    MergeTable.mergeUpsert(spark, t,
      Seq((2L, "u2", 2.0, "eu")).toDF("event_id", "tag", "value", "region"),
      Seq("event_id"), Seq("event_id"))
    val d = MergeTable.changesBetween(spark, t, 0L, 1L)
      .select("event_id", "change_type").as[(Long, String)].collect().toMap
    // key 2: value 1.0→2.0 AND region null→'eu' — an UPDATE, not a crash
    assert(d == Map(2L -> "UPDATE"), d)
  }

  test("clusterBy outside the merge keys is rejected (pruning soundness)") {
    val t = freshTable("ck")
    val e = intercept[IllegalArgumentException] {
      MergeTable.mergeUpsert(spark, t, rows(1L to 3L, 1.0),
        Seq("event_id"), clusterBy = Seq("value"))
    }
    assert(e.getMessage.contains("merge keys"))
  }

  test("vacuum collects crash-orphaned .tmp manifests") {
    val t = freshTable("tmpvac")
    MergeTable.mergeUpsert(spark, t, rows(1L to 3L, 1.0), Seq("event_id"), Seq("event_id"))
    val orphan = Paths.get(t, "_graft_log", ".tmp-deadbeef")
    Files.write(orphan, "{}".getBytes)
    // backdate: with graceMs=0 the cutoff is "now", and a file written in
    // the SAME millisecond is not strictly older than it
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000))
    assert(MergeTable.vacuum(t, graceMs = 0L) >= 1)
    assert(!Files.exists(orphan), ".tmp orphan survived vacuum")
    assert(MergeTable.read(spark, t).count() == 3)
  }

  test("concurrent writers: parallel merges all land, none lost, content = union") {
    val t = freshTable("conc")
    MergeTable.mergeUpsert(spark, t, rows(Seq(0L), 0.5), Seq("event_id"), Seq("event_id"))
    // 4 writers × 3 sequential merges each, disjoint key ranges (so the
    // final content is deterministic) — every commit races the others
    // through the version CAS and must retry, never clobber
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until 3).foreach { i =>
            val base = 1000L * (w * 3 + i + 1)
            MergeTable.mergeUpsert(spark, t,
              rows(base to base + 9L, w + 1.0),
              Seq("event_id"), Seq("event_id"), txn = Some((s"w$w", i.toLong)))
          }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val m = MergeTable.latestManifest(t).get
    assert(m.version == 12L, s"12 racing commits must land as 12 versions, got ${m.version}")
    (0 until 4).foreach(w => assert(m.txns.get(s"w$w").contains(2L), s"w$w watermark"))
    val out = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(out.size == 121, s"expected 1 + 120 rows, got ${out.size}")
    (0 until 4).foreach { w =>
      (0 until 3).foreach { i =>
        val base = 1000L * (w * 3 + i + 1)
        assert(out(base) == w + 1.0, s"writer $w wave $i lost")
      }
    }
    // losers' abandoned commit files are unreferenced; vacuum collects them
    MergeTable.vacuum(t, graceMs = 0L)
    assert(MergeTable.read(spark, t)
      .select("event_id").as[Long].collect().toSet == out.keySet)
  }

  test("checkpointed log: a long commit history resolves from one checkpoint " +
    "+ a bounded delta suffix, not the whole log") {
    val t = freshTable("cklog")
    // 25 commits → versions 0..24; auxiliary checkpoint files at v10, v20
    (0 until 25).foreach { i =>
      MergeTable.mergeUpsert(spark, t, rows(Seq(i.toLong, 500L + i), i + 1.0),
        Seq("event_id"), Seq("event_id"), targetRowsPerFile = 10)
    }
    val full = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(full.size == 50)
    val log = Paths.get(t, "_graft_log")
    assert(Files.exists(log.resolve(f"cp-v${20L}%020d.ndjson.gz")),
      "checkpoint cadence did not write the v20 listing file")
    // HARD proof COLD resolution never reads below the checkpoint floor:
    // evict the in-process cache (fresh-process behavior) AND delete
    // every log record under v20 — if resolving v24 touched any of them
    // it would now fail; it must not even notice
    (0 until 20).foreach { v =>
      Files.deleteIfExists(log.resolve(f"v$v%020d.json"))
    }
    MergeTable.evictCachedManifest(t)
    val resolved = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(resolved == full, "latest snapshot changed after trimming the log tail")
    assert(MergeTable.latestManifest(t).get.version == 24L)
    // and vacuum's own log retention respects the same floor: with
    // retainVersions=2 (keepFloor v23) it keeps v20's checkpoint — the
    // records v23/v24 resolve through — and only retires BELOW it
    val t2 = freshTable("cklog2")
    (0 until 25).foreach { i =>
      MergeTable.mergeUpsert(spark, t2, rows(Seq(i.toLong), i + 1.0),
        Seq("event_id"), Seq("event_id"))
    }
    MergeTable.vacuum(t2, graceMs = 0L)
    assert(Files.exists(Paths.get(t2, "_graft_log", f"cp-v${20L}%020d.ndjson.gz")),
      "vacuum retired the checkpoint its retained deltas resolve through")
    assert(!Files.exists(Paths.get(t2, "_graft_log", f"v${9L}%020d.json")),
      "vacuum kept a record below the checkpoint floor")
    assert(!Files.exists(Paths.get(t2, "_graft_log", f"cp-v${10L}%020d.ndjson.gz")),
      "vacuum kept a checkpoint file below the floor")
    // cold post-vacuum resolution (fresh process): records ≥ floor + the
    // floor checkpoint file must suffice
    MergeTable.evictCachedManifest(t2)
    assert(MergeTable.read(spark, t2).count() == 25L)
  }

  test("log format: a v1 inline-checkpoint record still resolves; a pre-v1 " +
    "record fails with an explicit incompatible-format error") {
    val t = freshTable("fmt")
    MergeTable.mergeUpsert(spark, t, rows(1L to 4L, 1.0), Seq("event_id"), Seq("event_id"))
    val log = Paths.get(t, "_graft_log")
    val v0 = new String(Files.readAllBytes(log.resolve("v" + "0" * 20 + ".json")), "UTF-8")
    assert(v0.contains("\"formatVersion\":2"), "new records must carry formatVersion")
    // hand-write a v1-shaped INLINE CHECKPOINT at v1 (no formatVersion
    // field, kind=checkpoint, adds = full listing): the round-10 format
    val m0 = MergeTable.latestManifest(t).get
    val addsJson = v0.split("\"adds\":")(1).split(",\"removes\"")(0)
    val legacy = s"""{"version":1,"kind":"checkpoint",""" +
      s""""schemaJson":${org.json4s.jackson.JsonMethods.compact(
        org.json4s.JString(m0.schemaJson))},""" +
      s""""keys":["event_id"],"clusterBy":["event_id"],""" +
      s""""adds":$addsJson,"removes":[],"txns":{}}"""
    Files.write(log.resolve("v" + "0" * 19 + "1.json"), legacy.getBytes("UTF-8"))
    MergeTable.evictCachedManifest(t)
    assert(MergeTable.readVersion(spark, t, 1L).count() == 4L,
      "v1 inline-checkpoint record did not resolve")
    // and resolution THROUGH it (as a walk base) works: add a delta on top
    MergeTable.mergeUpsert(spark, t, rows(5L to 5L, 2.0), Seq("event_id"), Seq("event_id"))
    MergeTable.evictCachedManifest(t)
    assert(MergeTable.read(spark, t).count() == 5L)

    // pre-v1 shape (the old TableManifest layout: no kind, no formatVersion)
    val t2 = freshTable("fmt2")
    MergeTable.mergeUpsert(spark, t2, rows(1L to 2L, 1.0), Seq("event_id"), Seq("event_id"))
    val log2 = Paths.get(t2, "_graft_log")
    Files.write(log2.resolve("v" + "0" * 19 + "1.json"),
      """{"version":1,"schemaJson":"x","minKey":0,"maxKey":9,"files":[]}"""
        .getBytes("UTF-8"))
    MergeTable.evictCachedManifest(t2)
    val e = intercept[RuntimeException] { MergeTable.latestManifest(t2) }
    assert(e.getMessage.contains("rebuild the table or migrate"),
      s"expected an explicit incompatible-format message, got: ${e.getMessage}")
    // a FUTURE format is refused too, with an upgrade direction
    Files.write(log2.resolve("v" + "0" * 19 + "1.json"),
      """{"version":1,"kind":"delta","schemaJson":"x","keys":[],"clusterBy":[],
        |"adds":[],"removes":[],"txns":{},"formatVersion":99}"""
        .stripMargin.replace("\n", "").getBytes("UTF-8"))
    MergeTable.evictCachedManifest(t2)
    val e2 = intercept[IllegalArgumentException] { MergeTable.latestManifest(t2) }
    assert(e2.getMessage.contains("upgrade the reader"))
  }

  test("typed stats: a STRING-clustered table prunes files by string range") {
    val t = freshTable("strkey")
    val docs = (0 until 400).map(i => (f"doc$i%04d", i * 1.0))
      .toDF("doc_id", "value")
    MergeTable.mergeUpsert(spark, t, docs, Seq("doc_id"), Seq("doc_id"),
      targetRowsPerFile = 50)
    val m0 = MergeTable.latestManifest(t).get
    assert(m0.files.size >= 4, s"want several files, got ${m0.files.size}")
    assert(m0.files.head.stats("doc_id").t == "string")
    // a batch inside ONE file's lexical range touches only that file
    val victim = m0.files.sortBy(_.stats("doc_id").min).apply(1)
    val batch = Seq((victim.stats("doc_id").min, 99.0)).toDF("doc_id", "value")
    MergeTable.mergeUpsert(spark, t, batch, Seq("doc_id"), Seq("doc_id"),
      targetRowsPerFile = 50)
    val m1 = MergeTable.latestManifest(t).get
    val kept = m1.files.map(_.path).toSet
    m0.files.foreach { f =>
      if (f.path == victim.path) assert(!kept.contains(f.path), "victim kept")
      else assert(kept.contains(f.path), s"untouched ${f.path} rewritten")
    }
    val out = MergeTable.read(spark, t)
      .select("doc_id", "value").as[(String, Double)].collect().toMap
    assert(out.size == 400 && out(victim.stats("doc_id").min) == 99.0)
  }

  test("typed stats: TWO-column clustering records both stats and prunes on " +
    "their conjunction") {
    val t = freshTable("twocol")
    val data = (for { s0 <- 0 until 8; d <- 0L until 50L }
      yield (s"src$s0", d, s0 * 100.0 + d)).toDF("source", "day", "value")
    MergeTable.mergeUpsert(spark, t, data, Seq("source", "day"),
      Seq("source", "day"), targetRowsPerFile = 50)
    val m0 = MergeTable.latestManifest(t).get
    assert(m0.files.size >= 4)
    // generalized skipping stats (round 12): every supported column is
    // indexed up to the cap — cluster columns guaranteed, `value` rides
    // along for free
    assert(m0.files.head.stats.keySet == Set("source", "day", "value"))
    assert(m0.files.head.stats("source").t == "string")
    assert(m0.files.head.stats("day").t == "long")
    assert(m0.files.head.stats("value").t == "double")
    assert(m0.files.head.nullCounts ==
      Map("source" -> 0L, "day" -> 0L, "value" -> 0L))
    // a batch touching one (source, day) cell rewrites only box-matching files
    val batch = Seq(("src3", 7L, -1.0)).toDF("source", "day", "value")
    MergeTable.mergeUpsert(spark, t, batch, Seq("source", "day"),
      Seq("source", "day"), targetRowsPerFile = 50)
    val m1 = MergeTable.latestManifest(t).get
    val rewritten = m0.files.map(_.path).toSet -- m1.files.map(_.path).toSet
    // the conjunction prunes: only files whose source-range covers src3
    // AND day-range covers 7 rewrite — with 8 range-clustered files that
    // is a strict minority
    assert(rewritten.nonEmpty && rewritten.size < m0.files.size / 2,
      s"expected few touched files, got ${rewritten.size}/${m0.files.size}")
    val out = MergeTable.read(spark, t)
    assert(out.count() == 400)
    assert(out.where(col("source") === "src3" && col("day") === 7L)
      .select("value").as[Double].collect().toSeq == Seq(-1.0))
  }

  test("conflict-scoped CAS retry: a DISJOINT concurrent winner does not force " +
    "a data rewrite — the loser re-manifests its existing files") {
    val t = freshTable("fastcas")
    MergeTable.mergeUpsert(spark, t, rows(1L to 100L, 1.0),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 20)
    val v0Paths = MergeTable.latestManifest(t).get.files.map(_.path).toSet
    // at precommit time the loser's merge output is already on disk;
    // capture those dirs, then let a DISJOINT winner steal the version
    @volatile var hookDirs: Set[String] = Set.empty
    var fired = false
    MergeTable.testPrecommitHook = () => if (!fired) {
      fired = true
      val st = Files.list(Paths.get(t, "data"))
      try {
        import scala.jdk.CollectionConverters._
        hookDirs = st.iterator().asScala.map(_.getFileName.toString).toSet
      } finally st.close()
      MergeTable.mergeUpsert(spark, t, rows(5000L to 5009L, 7.0),
        Seq("event_id"), Seq("event_id"), targetRowsPerFile = 20)
    }
    try
      MergeTable.mergeUpsert(spark, t, rows(10L to 15L, 9.0),
        Seq("event_id"), Seq("event_id"), targetRowsPerFile = 20)
    finally MergeTable.testPrecommitHook = () => ()
    val m = MergeTable.latestManifest(t).get
    assert(m.version == 2L, s"winner v1 + loser v2 expected, got ${m.version}")
    // the loser's committed files must be the ONES IT WROTE BEFORE the
    // race (their data dir existed at precommit time) — a replay would
    // have written a fresh commit dir after the hook fired
    val loserAdds = m.files.map(_.path).toSet -- v0Paths --
      MergeTable.manifestAt(t, 1L).get.files.map(_.path).toSet
    assert(loserAdds.nonEmpty)
    loserAdds.foreach { p =>
      val dir = p.stripPrefix("data/").takeWhile(_ != '/')
      assert(hookDirs.contains(dir),
        s"loser rewrote data after a disjoint race: $p not in $hookDirs")
    }
    val out = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(out.size == 110)
    assert((10L to 15L).forall(out(_) == 9.0))
    assert((5000L to 5009L).forall(out(_) == 7.0))
    assert(out(1L) == 1.0 && out(100L) == 1.0)
  }

  test("conflict-scoped CAS retry: an OVERLAPPING winner forces a true replay " +
    "and last-writer-wins holds") {
    val t = freshTable("slowcas")
    MergeTable.mergeUpsert(spark, t, rows(1L to 10L, 1.0),
      Seq("event_id"), Seq("event_id"))
    var fired = false
    MergeTable.testPrecommitHook = () => if (!fired) {
      fired = true
      MergeTable.mergeUpsert(spark, t, rows(1L to 3L, 5.0),
        Seq("event_id"), Seq("event_id"))
    }
    try
      MergeTable.mergeUpsert(spark, t, rows(2L to 4L, 9.0),
        Seq("event_id"), Seq("event_id"))
    finally MergeTable.testPrecommitHook = () => ()
    val out = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(out(1L) == 5.0, "winner's non-contested key lost")
    assert((2L to 4L).forall(out(_) == 9.0), "loser's replayed keys lost")
    assert((5L to 10L).forall(out(_) == 1.0))
    assert(MergeTable.latestManifest(t).get.files.map(_.numRows).sum == 10L)
  }

  test("retention contract: vacuum sized to the oldest pinned read never " +
    "retires a version the registered queries time-travel to") {
    val t = freshTable("retain")
    // the q_merge_* fixture shape: 5 commits, queries read v0 and v2
    (0 until 5).foreach { i =>
      MergeTable.mergeUpsert(spark, t, rows(1L to 20L, i + 1.0),
        Seq("event_id"), Seq("event_id"))
    }
    val v2 = MergeTable.readVersion(spark, t, 2L)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    // the floor: retainVersions must cover back to the OLDEST pinned
    // version — here v0, so retainVersions = latest+1 = 5
    MergeTable.vacuum(t, graceMs = 0L, retainVersions = 5)
    (0L to 4L).foreach { v =>
      assert(MergeTable.readVersion(spark, t, v).count() == 20L,
        s"pinned version $v unreadable after a correctly-sized vacuum")
    }
    assert(MergeTable.readVersion(spark, t, 2L)
      .select("event_id", "value").as[(Long, Double)].collect().toMap == v2)
  }

  test("changesBetween joins on COMPOSITE keys") {
    val t = freshTable("compkey")
    val v0 = Seq(("a", 1L, 1.0), ("a", 2L, 1.0), ("b", 1L, 1.0))
      .toDF("source", "day", "value")
    MergeTable.mergeUpsert(spark, t, v0, Seq("source", "day"), Seq("source", "day"))
    val v1 = Seq(("a", 2L, 9.0), ("b", 2L, 2.0)).toDF("source", "day", "value")
    MergeTable.mergeUpsert(spark, t, v1, Seq("source", "day"), Seq("source", "day"))
    val d = MergeTable.changesBetween(spark, t, 0L, 1L)
      .select("source", "day", "change_type")
      .as[(String, Long, String)].collect().toSet
    assert(d == Set(("a", 2L, "UPDATE"), ("b", 2L, "INSERT")), d)
  }

  test("changesBetween is FILE-SCOPED: an incremental diff reads only the " +
    "two versions' file-set delta, never the whole table") {
    val t = freshTable("cdfscope")
    MergeTable.mergeUpsert(spark, t, rows(1L to 1000L, 1.0),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100)
    val m0 = MergeTable.latestManifest(t).get
    assert(m0.files.size >= 8)
    // touch two keys inside one file's range
    val victim = m0.files.sortBy(_.minLong("event_id")).apply(4)
    MergeTable.mergeUpsert(spark, t,
      rows(Seq(victim.minLong("event_id")), 9.0),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100)
    val m1 = MergeTable.latestManifest(t).get
    val deltaPaths = (m0.files.map(_.path).toSet -- m1.files.map(_.path).toSet) ++
      (m1.files.map(_.path).toSet -- m0.files.map(_.path).toSet)
    val diff = MergeTable.changesBetween(spark, t, 0L, 1L)
    // the physical scan must read ONLY the delta files on both sides
    val scanned = diff.inputFiles.map { f =>
      f.stripPrefix("file:").dropWhile(_ == '/').drop(
        t.stripPrefix("/").length).stripPrefix("/")
    }.toSet
    assert(scanned.nonEmpty && scanned.subsetOf(deltaPaths),
      s"diff scanned beyond the file delta: ${scanned -- deltaPaths}")
    assert(scanned.size < m1.files.size,
      s"diff read ${scanned.size} files of a ${m1.files.size}-file table")
    // and the content is the right single UPDATE
    val d = diff.select("event_id", "change_type")
      .as[(Long, String)].collect().toMap
    assert(d == Map(victim.minLong("event_id") -> "UPDATE"), d)
  }

  test("deletion vectors: a scattered DELETE commits O(list) — no data-file " +
    "rewrite; reads, time travel, folding, CDF, OPTIMIZE and vacuum all hold") {
    val t = freshTable("dv")
    MergeTable.mergeUpsert(spark, t, rows(1L to 400L, 1.0),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 50) // 8 files
    val m0 = MergeTable.latestManifest(t).get
    assert(m0.files.size == 8)
    def dataDirs = {
      val st = Files.list(Paths.get(t, "data"))
      try { import scala.jdk.CollectionConverters._
        st.iterator().asScala.size } finally st.close()
    }
    assert(dataDirs == 1)

    // one victim per file — the scattered GDPR shape that makes
    // copy-on-write a near-full rewrite
    val victims = Seq(10L, 60L, 110L, 160L, 210L, 260L, 310L, 360L)
    val n = MergeTable.mergeDelete(spark, t, victims.toDF("event_id"),
      deletionVectors = true)
    assert(n == victims.size)
    val m1 = MergeTable.latestManifest(t).get
    // SAME data files — nothing rewritten, no new data commit dir; the
    // entries now carry vectors
    assert(m1.files.map(_.path).toSet == m0.files.map(_.path).toSet)
    assert(dataDirs == 1, "DV delete wrote data files")
    assert(m1.files.forall(f => f.dv.nonEmpty && f.dvRows == 1L))
    val out1 = MergeTable.read(spark, t).select("event_id").as[Long].collect().toSet
    assert(out1 == (1L to 400L).toSet -- victims)
    // time travel: the pre-delete snapshot reads in full
    assert(MergeTable.readVersion(spark, t, 0L).count() == 400L)

    // a second DV delete on two of the same files FOLDS their previous
    // positions into the new dataset (one pointer holds all deletions)
    val victims2 = Seq(11L, 61L)
    assert(MergeTable.mergeDelete(spark, t, victims2.toDF("event_id"),
      deletionVectors = true) == 2L)
    val m2 = MergeTable.latestManifest(t).get
    assert(m2.files.map(_.path).toSet == m0.files.map(_.path).toSet)
    assert(m2.files.count(_.dvRows == 2L) == 2)
    val out2 = MergeTable.read(spark, t).select("event_id").as[Long].collect().toSet
    assert(out2 == (1L to 400L).toSet -- victims -- victims2)

    // CDF across the DV boundary: same paths, changed vectors — the diff
    // must still emit every deleted row as a DELETE
    val diff = MergeTable.changesBetween(spark, t, 0L, 2L, Seq("value"))
    val byType = diff.groupBy("change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("DELETE" -> 10L), byType)

    // an upsert touching a DV-bearing file must not resurrect its
    // deleted rows into the rewrite
    MergeTable.mergeUpsert(spark, t, rows(Seq(12L), 9.0),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 50)
    val out3 = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(!out3.contains(10L) && !out3.contains(11L), "deleted rows resurrected")
    assert(out3(12L) == 9.0 && out3.size == 390)

    // OPTIMIZE purges merge-on-read debt: vectors retired, deleted rows
    // physically gone, visible rows unchanged
    assert(MergeTable.optimize(spark, t, targetRowsPerFile = 50) > 0)
    val m4 = MergeTable.latestManifest(t).get
    assert(m4.files.forall(_.dv.isEmpty), "optimize left a vector behind")
    assert(m4.files.map(_.numRows).sum == 390L, "deleted rows still physical")
    assert(MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap == out3)

    // vacuum: with only the optimized head retained, the unreferenced dv
    // datasets collect — and a COLD post-vacuum read still works
    MergeTable.vacuum(t, graceMs = 0L, retainVersions = 1)
    val dvRoot = Paths.get(t, "dv")
    val dvLeft =
      if (!Files.isDirectory(dvRoot)) 0
      else { val st = Files.list(dvRoot)
        try { import scala.jdk.CollectionConverters._
          st.iterator().asScala.size } finally st.close() }
    assert(dvLeft == 0, s"vacuum left $dvLeft unreferenced dv datasets")
    MergeTable.evictCachedManifest(t)
    assert(MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap == out3)
  }

  test("deletion vectors: a concurrent DV commit on a touched file defeats " +
    "the conflict-scoped fast path — no resurrection") {
    val t = freshTable("dvrace")
    MergeTable.mergeUpsert(spark, t, rows(1L to 100L, 1.0),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100) // one file
    var fired = false
    MergeTable.testPrecommitHook = () => if (!fired) {
      fired = true
      // winner: DV-deletes key 5 out from under the in-flight merge —
      // the file's PATH survives, only its entry changes, so a path-set
      // conflict check would wrongly validate the loser's stale rewrite
      MergeTable.mergeDelete(spark, t, Seq(5L).toDF("event_id"),
        deletionVectors = true)
    }
    try MergeTable.mergeUpsert(spark, t, rows(Seq(50L), 9.0),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100)
    finally MergeTable.testPrecommitHook = () => ()
    val out = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(!out.contains(5L), "the winner's DV delete was resurrected")
    assert(out(50L) == 9.0 && out.size == 99)
  }

  test("conditional MERGE: WHEN MATCHED AND guard + partial-column update") {
    val t = freshTable("cond")
    MergeTable.mergeUpsert(spark, t, rows(1L to 10L, 5.0),
      Seq("event_id"), Seq("event_id"))
    val batch = Seq(
      (1L, "x1", 3.0), // matched, guard FAILS (3 ≤ 5): old row kept whole
      (2L, "x2", 9.0), // matched, guard holds: value updates, tag must NOT
      (11L, "x11", 7.0)) // not matched: INSERT ALL (batch tag lands)
      .toDF("event_id", "tag", "value")
    MergeTable.mergeUpsert(spark, t, batch, Seq("event_id"), Seq("event_id"),
      matchedCondition = Some("s.value > t.value"),
      updateCols = Seq("value"))
    val out = MergeTable.read(spark, t)
      .select("event_id", "tag", "value").as[(Long, String, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.size == 11)
    assert(out(1L) == (("u1", 5.0)), s"guard-failing row changed: ${out(1L)}")
    assert(out(2L) == (("u2", 9.0)),
      s"partial update leaked beyond updateCols: ${out(2L)}")
    assert(out(11L) == (("x11", 7.0)))
    assert(out(3L) == (("u3", 5.0)), "an unmatched table row changed")
    // guarded update with NO updateCols restriction: full-row update for
    // passing matches only
    MergeTable.mergeUpsert(spark, t,
      Seq((2L, "y2", 1.0), (3L, "y3", 8.0)).toDF("event_id", "tag", "value"),
      Seq("event_id"), Seq("event_id"),
      matchedCondition = Some("s.value > t.value"))
    val out2 = MergeTable.read(spark, t)
      .select("event_id", "tag", "value").as[(Long, String, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out2(2L) == (("u2", 9.0)), "guard-failing row updated")
    assert(out2(3L) == (("y3", 8.0)), "passing match must take the full row")
    // updateCols naming a merge key is rejected
    val e = intercept[IllegalArgumentException] {
      MergeTable.mergeUpsert(spark, t, batch, Seq("event_id"), Seq("event_id"),
        updateCols = Seq("event_id"))
    }
    assert(e.getMessage.contains("must not name merge keys"))
  }

  test("conditional MERGE: WHEN MATCHED DELETE — delete-only merges keep " +
    "non-deleted matches untouched; delete beats update on the same pair") {
    val t = freshTable("mdel")
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "keep", 1.0), (2L, "doomed", 2.0), (3L, "keep", 3.0))
        .toDF("event_id", "tag", "value"),
      Seq("event_id"), Seq("event_id"))
    // DELETE-ONLY merge: re-deliver 1..2 with DIFFERENT payloads; only
    // the 'doomed' row may go, and row 1 must keep its ORIGINAL payload
    // (a delete-only merge must not quietly last-writer-wins)
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "overwrite", 99.0), (2L, "overwrite", 99.0))
        .toDF("event_id", "tag", "value"),
      Seq("event_id"), Seq("event_id"),
      matchedDeleteCondition = Some("t.tag = 'doomed'"))
    val out = MergeTable.read(spark, t)
      .select("event_id", "tag", "value").as[(Long, String, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(1L -> (("keep", 1.0)), 3L -> (("keep", 3.0))), out.toString)

    // combined clauses: delete evaluated FIRST; survivors flow through
    // the guarded update — and unmatched batch rows still insert
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "upd", 10.0), (3L, "upd", 0.5), (4L, "new", 4.0))
        .toDF("event_id", "tag", "value"),
      Seq("event_id"), Seq("event_id"),
      matchedCondition = Some("s.value > t.value"),
      matchedDeleteCondition = Some("t.value >= 3.0"))
    val out2 = MergeTable.read(spark, t)
      .select("event_id", "tag", "value").as[(Long, String, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // 1: not deleted (1.0 < 3.0), update passes (10 > 1) → full update;
    // 3: deleted (3.0 >= 3.0) even though its update guard fails;
    // 4: inserted
    assert(out2 == Map(1L -> (("upd", 10.0)), 4L -> (("new", 4.0))), out2.toString)
  }

  test("NOT MATCHED BY SOURCE clauses: guarded delete + SET sync the " +
    "table to the batch; matched rows stay untouched; guarded insert") {
    val t = freshTable("nmbs")
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "live", 1.0), (2L, "stale", 2.0), (3L, "stale", 3.0),
        (4L, "live", 4.0)).toDF("event_id", "tag", "value"),
      Seq("event_id"), Seq("event_id"))
    // source = {1 (different payload), 5 (guard fails), 6 (guard holds)}:
    //  - 1 matched, NO matched clause -> untouched (not last-writer-wins)
    //  - 2,3,4 not matched by source: 'stale' rows deleted unless
    //    value >= 3 (then SET flags them), 'live' unmatched rows flagged
    //  - 5 fails the insert guard, 6 passes
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "overwrite", 99.0), (5L, "new", -1.0), (6L, "new", 6.0))
        .toDF("event_id", "tag", "value"),
      Seq("event_id"), Seq("event_id"),
      insertCondition = Some("s.value >= 0"),
      notMatchedBySourceDeleteCondition =
        Some("t.tag = 'stale' AND t.value < 3"),
      notMatchedBySourceSet = Map("tag" -> "concat(t.tag, '-flagged')"))
    val out = MergeTable.read(spark, t)
      .select("event_id", "tag", "value").as[(Long, String, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(
      1L -> (("live", 1.0)),          // matched, untouched
      3L -> (("stale-flagged", 3.0)), // NMBS delete guard failed -> SET
      4L -> (("live-flagged", 4.0)),  // NMBS SET (unconditional here)
      6L -> (("new", 6.0))), out.toString) // guarded insert; 2 deleted, 5 gated
  }

  test("NMBS clause predicates must be target-only; the SET guard " +
    "requires a SET; SET must not name merge keys") {
    val t = freshTable("nmbsval")
    MergeTable.mergeUpsert(spark, t, rows(1L to 4L, 1.0),
      Seq("event_id"), Seq("event_id"))
    val batch = rows(Seq(1L), 2.0)
    val e1 = intercept[IllegalArgumentException] {
      MergeTable.mergeUpsert(spark, t, batch, Seq("event_id"), Seq("event_id"),
        notMatchedBySourceDeleteCondition = Some("s.value > 0"))
    }
    assert(e1.getMessage.contains("not-matched-by-source condition"))
    val e2 = intercept[IllegalArgumentException] {
      MergeTable.mergeUpsert(spark, t, batch, Seq("event_id"), Seq("event_id"),
        notMatchedBySourceCondition = Some("t.value > 0"))
    }
    assert(e2.getMessage.contains("needs a non-empty notMatchedBySourceSet"))
    val e3 = intercept[IllegalArgumentException] {
      MergeTable.mergeUpsert(spark, t, batch, Seq("event_id"), Seq("event_id"),
        notMatchedBySourceSet = Map("event_id" -> "t.event_id + 1"))
    }
    assert(e3.getMessage.contains("must not assign merge key"))
    // untouched by the three rejected merges
    assert(MergeTable.read(spark, t).count() == 4L)
  }

  test("guarded INSERT on a FRESH table takes the insert-only branch " +
    "and still applies the guard; a bad clause is rejected before v0 " +
    "commits") {
    val t = freshTable("nmbsfresh")
    // validation fires even when touched is empty: the FIRST merge of a
    // streaming pipeline must reject a typo'd clause, not commit v0 and
    // fail on batch 2
    val e = intercept[IllegalArgumentException] {
      MergeTable.mergeUpsert(spark, t,
        Seq((1L, 1.0)).toDF("event_id", "value"),
        Seq("event_id"), Seq("event_id"),
        notMatchedBySourceDeleteCondition = Some("s.value > 0"))
    }
    assert(e.getMessage.contains("not-matched-by-source condition"))
    assert(MergeTable.latestManifest(t).isEmpty,
      "rejected first merge must not have committed a version")
    // guarded insert on the empty table: only the passing row lands
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, -1.0), (2L, 2.0)).toDF("event_id", "value"),
      Seq("event_id"), Seq("event_id"),
      insertCondition = Some("s.value >= 0"))
    val out = MergeTable.read(spark, t)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(out == Map(2L -> 2.0), out.toString)
  }

  test("an UNQUALIFIED clause reference that would be ambiguous in the " +
    "join fails validation with the clause named, not a planner error") {
    val t = freshTable("nmbsambig")
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("event_id", "tag", "value"),
      Seq("event_id"), Seq("event_id"))
    val e = intercept[IllegalArgumentException] {
      MergeTable.mergeUpsert(spark, t,
        Seq((1L, "c", 3.0)).toDF("event_id", "tag", "value"),
        Seq("event_id"), Seq("event_id"),
        // 'tag' resolves against the single-sided target frame but is
        // ambiguous in the full-outer join (both s.tag and t.tag exist)
        notMatchedBySourceSet = Map("tag" -> "concat(tag, '-x')"))
    }
    assert(e.getMessage.contains("NOT MATCHED BY SOURCE SET expression"),
      e.getMessage)
    assert(MergeTable.read(spark, t).count() == 2L)
  }

  test("NMBS merge replays (never fast-path re-commits) past a " +
    "concurrent insert outside the batch box — the interloper's row " +
    "still goes through the clause") {
    val t = freshTable("nmbsrace")
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "keep"), (2L, "stale")).toDF("event_id", "tag"),
      Seq("event_id"), Seq("event_id"))
    // interloper commits key 50 ('stale') AFTER the NMBS merge planned
    // its rewrite: a box-overlap fast path would re-commit the planned
    // files and carry row 50 past the delete clause unevaluated
    var fired = false
    MergeTable.testPrecommitHook = () => if (!fired) {
      fired = true
      MergeTable.mergeUpsert(spark, t,
        Seq((50L, "stale")).toDF("event_id", "tag"),
        Seq("event_id"), Seq("event_id"))
    }
    try MergeTable.mergeUpsert(spark, t,
      Seq((1L, "keep")).toDF("event_id", "tag"),
      Seq("event_id"), Seq("event_id"),
      notMatchedBySourceDeleteCondition = Some("t.tag = 'stale'"))
    finally MergeTable.testPrecommitHook = () => ()
    val ids = MergeTable.read(spark, t)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L), s"stale rows survived the replayed sync: $ids")
  }

  test("RESTORE rolls the head back to an exact old state as a NEW " +
    "commit — across a DV purge, a rewrite, AND a schema widening; " +
    "history/versionAsOf resolve; txn watermarks survive") {
    val t = freshTable("restore")
    MergeTable.mergeUpsert(spark, t, rows(1L to 10L, 1.0),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L)))      // v0
    MergeTable.mergeDelete(spark, t,
      Seq(3L, 7L).toDF("event_id"), deletionVectors = true)          // v1
    MergeTable.mergeUpsert(spark, t,
      rows(Seq(1L, 2L), 99.0).withColumn("extra", lit("x")),
      Seq("event_id"), Seq("event_id"))                              // v2
    assert(MergeTable.read(spark, t).columns.contains("extra"))
    val newHead = MergeTable.restore(t, 0L)                          // v3
    assert(newHead == 3L)
    // exact v0 state: purged rows back, overwrites gone, schema narrow
    val out = MergeTable.read(spark, t)
    assert(!out.columns.contains("extra"), "schema must restore too")
    val vals = out.select("event_id", "value").as[(Long, Double)]
      .collect().toMap
    assert(vals == (1L to 10L).map(_ -> 1.0).toMap, vals.toString)
    // restore is metadata-only history: all four versions still read
    assert(MergeTable.readVersion(spark, t, 2L)
      .where(col("value") === 99.0).count() == 2L)
    val h = MergeTable.history(t)
    assert(h.map(_.version) == Seq(0L, 1L, 2L, 3L), h.toString)
    assert(h.sliding(2).forall(p => p(0).timestampMs <= p(1).timestampMs),
      s"commit times must be monotone: $h")
    // timestamp travel: the newest commit instant resolves to the head;
    // an instant before the first commit fails loudly
    assert(MergeTable.versionAsOf(t, h.last.timestampMs) == 3L)
    assert(MergeTable.versionAsOf(t, h.head.timestampMs) >= 0L)
    intercept[Exception] { MergeTable.versionAsOf(t, h.head.timestampMs - 1) }
    // the replay watermark did NOT roll back with the data: the seeded
    // txn re-applies as a no-op instead of double-writing
    MergeTable.mergeUpsert(spark, t, rows(Seq(777L), 5.0),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L)))
    assert(MergeTable.read(spark, t).where(col("event_id") === 777L)
      .count() == 0L, "replayed txn must stay a no-op after restore")
  }

  test("an insert-guard-ONLY merge leaves matched rows untouched — the " +
    "explicit clause replaces the update-all default, as in SQL MERGE") {
    val t = freshTable("insonly")
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "orig", 1.0), (2L, "orig", 2.0)).toDF("event_id", "tag", "value"),
      Seq("event_id"), Seq("event_id"))
    // admission gate: 1 matches (must stay 'orig', NOT clobber to
    // 'late'), 3 passes the guard, 4 fails it
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "late", 99.0), (3L, "new", 3.0), (4L, "new", -4.0))
        .toDF("event_id", "tag", "value"),
      Seq("event_id"), Seq("event_id"),
      insertCondition = Some("s.value >= 0"))
    val out = MergeTable.read(spark, t)
      .select("event_id", "tag", "value").as[(Long, String, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(
      1L -> (("orig", 1.0)), // matched: untouched (no matched clause)
      2L -> (("orig", 2.0)),
      3L -> (("new", 3.0))), out.toString) // 4 gated out
    // opting back into last-writer-wins alongside the guard is explicit
    MergeTable.mergeUpsert(spark, t,
      Seq((1L, "late", 99.0)).toDF("event_id", "tag", "value"),
      Seq("event_id"), Seq("event_id"),
      matchedCondition = Some("true"),
      insertCondition = Some("s.value >= 0"))
    assert(MergeTable.read(spark, t).where(col("event_id") === 1L)
      .select("tag").as[String].collect().toSeq == Seq("late"))
  }

  test("RESTORE re-validates the target's files on EVERY CAS attempt — " +
    "a vacuum racing the retry loop is caught before the commit, not " +
    "published as a head referencing dead files") {
    val t = freshTable("restorerace")
    MergeTable.mergeUpsert(spark, t, rows(1L to 4L, 1.0),
      Seq("event_id"), Seq("event_id"))                              // v0
    MergeTable.mergeUpsert(spark, t, rows(1L to 4L, 2.0),
      Seq("event_id"), Seq("event_id"))                              // v1
    // between attempt 1's pre-check and its commit: an interloper wins
    // the CAS (forcing attempt 2) AND vacuum retires v0's files — the
    // round-11 TOCTOU window. Attempt 2's pre-check must now fail
    // loudly instead of committing a restore to deleted files.
    var fired = false
    MergeTable.testPrecommitHook = () => if (!fired) {
      fired = true
      MergeTable.mergeUpsert(spark, t, rows(Seq(9L), 9.0),
        Seq("event_id"), Seq("event_id"))                            // v2
      MergeTable.vacuum(t, graceMs = 0L, retainVersions = 1)
    }
    val e = try intercept[IllegalArgumentException] {
      MergeTable.restore(t, 0L)
    } finally MergeTable.testPrecommitHook = () => ()
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // nothing committed: the head is still the interloper's v2
    assert(MergeTable.latestManifest(t).get.version == 2L,
      "a failed restore must not publish a head")
    assert(MergeTable.read(spark, t).count() == 5L)
  }

  test("RESTORE to a vacuumed version fails loudly and commits nothing") {
    val t = freshTable("restoregone")
    MergeTable.mergeUpsert(spark, t, rows(Seq(1L), 1.0),
      Seq("event_id"), Seq("event_id"))
    MergeTable.mergeUpsert(spark, t, rows(Seq(1L), 2.0),
      Seq("event_id"), Seq("event_id"))
    MergeTable.mergeUpsert(spark, t, rows(Seq(1L), 3.0),
      Seq("event_id"), Seq("event_id"))
    MergeTable.vacuum(t, graceMs = 0L, retainVersions = 1)
    val before = MergeTable.latestManifest(t).get.version
    intercept[Exception] { MergeTable.restore(t, 0L) }
    assert(MergeTable.latestManifest(t).get.version == before,
      "a failed restore must not commit")
  }

  test("oversized adds externalize to a streamed side file — the record " +
    "stays small, reads resolve through it, CAS losers clean up") {
    val t = freshTable("bigadds")
    val saved = MergeTable.inlineAddsLimit
    MergeTable.inlineAddsLimit = 4 // exercise without 50k files
    try {
      // 200 rows / 10-per-file = 20 files > limit → externalized v0
      MergeTable.mergeUpsert(spark, t, rows(1L to 200L, 1.0),
        Seq("event_id"), Seq("event_id"), targetRowsPerFile = 10)
      val log = Paths.get(t, "_graft_log")
      val v0txt = new String(
        Files.readAllBytes(log.resolve("v" + "0" * 20 + ".json")), "UTF-8")
      assert(v0txt.contains("\"addsRef\""), "oversized adds not externalized")
      assert(v0txt.length < 2000,
        s"record still carries the listing inline (${v0txt.length} bytes)")
      val sideFiles = {
        val st = Files.list(log)
        try { import scala.jdk.CollectionConverters._
          st.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("adds-v")).toSeq } finally st.close()
      }
      assert(sideFiles.size == 1, sideFiles.toString)
      // cold resolution reads THROUGH the side file
      MergeTable.evictCachedManifest(t)
      assert(MergeTable.read(spark, t).count() == 200L)
      assert(MergeTable.latestManifest(t).get.files.size == 20)

      // a CAS loser deletes its own side file: force a loss via the
      // precommit hook (the winner's small commit lands first)
      var fired = false
      MergeTable.testPrecommitHook = () => if (!fired) {
        fired = true
        MergeTable.mergeUpsert(spark, t, rows(Seq(500L), 5.0),
          Seq("event_id"), Seq("event_id"))
      }
      try MergeTable.mergeUpsert(spark, t, rows(201L to 400L, 2.0),
        Seq("event_id"), Seq("event_id"), targetRowsPerFile = 10)
      finally MergeTable.testPrecommitHook = () => ()
      val sideFilesAfter = {
        val st = Files.list(log)
        try { import scala.jdk.CollectionConverters._
          st.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("adds-v")).toSeq } finally st.close()
      }
      // winner at v1 (small, inline), loser re-landed at v2 (oversized,
      // externalized): v0's + v2's side files live, the lost v1
      // attempt's was deleted
      assert(MergeTable.read(spark, t).count() == 401L)
      val headVersion = MergeTable.latestManifest(t).get.version
      assert(headVersion == 2L)
      assert(sideFilesAfter.toSet ==
        sideFilesAfter.filter(n => n.startsWith("adds-v" + "0" * 20) ||
          n.startsWith(f"adds-v${2L}%020d")).toSet,
        s"orphaned side file from a lost CAS attempt: $sideFilesAfter")
      assert(sideFilesAfter.size == 2, sideFilesAfter.toString)
    } finally MergeTable.inlineAddsLimit = saved
  }

  test("foreign files under the log dir are ignored") {
    val t = freshTable("foreign")
    MergeTable.mergeUpsert(spark, t, rows(1L to 3L, 1.0), Seq("event_id"), Seq("event_id"))
    val log = Paths.get(t, "_graft_log")
    Files.write(log.resolve("vnotanumber.json"), "junk".getBytes)
    Files.write(log.resolve("_spark_metadata"), "junk".getBytes)
    // all-digit junk past Long range must not throw either
    Files.write(log.resolve("v99999999999999999999.json"), "junk".getBytes)
    assert(MergeTable.latestManifest(t).get.version == 0L)
    assert(MergeTable.read(spark, t).count() == 3)
  }

  test("commit instants are STRICTLY monotonic — two commits inside one " +
    "millisecond (forced: parent record mtime pushed into the future) " +
    "never tie, so a timestamp-addressed range boundary is unambiguous") {
    val t = freshTable("monotonic-ts")
    MergeTable.mergeUpsert(spark, t, rows(Seq(1L), 1.0),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 0L))) // v0
    // force the tie-pressure case: v0's instant sits AHEAD of the wall
    // clock, so v1's System.currentTimeMillis() would land at or below
    // it — the parent+1 tiebreak must win
    val v0rec = Paths.get(t, "_graft_log", f"v${0L}%020d.json")
    val future = System.currentTimeMillis() + 30000L
    Files.setLastModifiedTime(v0rec,
      java.nio.file.attribute.FileTime.fromMillis(future))
    MergeTable.mergeUpsert(spark, t, rows(Seq(2L), 2.0),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 1L))) // v1
    MergeTable.mergeUpsert(spark, t, rows(Seq(3L), 3.0),
      Seq("event_id"), Seq("event_id"), txn = Some(("w", 2L))) // v2
    val hist = MergeTable.history(t)
    val ts = hist.map(_.timestampMs)
    assert(ts == ts.sorted && ts.distinct == ts,
      s"instants must be strictly increasing, got $ts")
    assert(hist.find(_.version == 1L).get.timestampMs == future + 1L &&
      hist.find(_.version == 2L).get.timestampMs == future + 2L,
      "the tiebreak is exactly parent + 1ms when the clock lags")
    // rapid-fire commits with no forced skew stay strict too
    val t2 = freshTable("monotonic-burst")
    (0L to 6L).foreach { v =>
      MergeTable.mergeUpsert(spark, t2, rows(Seq(v), v * 1.0),
        Seq("event_id"), Seq("event_id"), txn = Some(("w", v)))
    }
    val ts2 = MergeTable.history(t2).map(_.timestampMs)
    assert(ts2 == ts2.sorted && ts2.distinct == ts2,
      s"burst commits must never tie: $ts2")
    // and the wall-clock doors separate adjacent versions exactly
    val t1i = MergeTable.history(t2).find(_.version == 3L).get.timestampMs
    assert(MergeTable.versionAsOf(t2, t1i) == 3L)
    assert(MergeTable.versionAsOf(t2, t1i - 1L) == 2L)
  }

  test("scratchTable: one build per (tag, session, dir), one path per tag " +
    "and per dir, a heartbeat on every access, stale siblings swept") {
    val dirA = Files.createTempDirectory("scratch-a").toString
    val dirB = Files.createTempDirectory("scratch-b").toString
    val tag = s"spec-scratch-${System.nanoTime()}"
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def table(dir: String, tg: String = tag): String =
      MergeTable.scratchTable(spark, dir, tg) { t =>
        builds.incrementAndGet(); Files.createDirectories(Paths.get(t)); ()
      }
    val a = table(dirA)
    assert(table(dirA) == a && builds.get == 1,
      "the same (tag, session, dir) must build once")
    val root = Paths.get(System.getProperty("java.io.tmpdir", "/tmp"), "graft-merge")
    assert(Paths.get(a).getParent == root &&
      Paths.get(a).getFileName.toString.startsWith(
        s"$tag-${Paths.get(dirA).getFileName}-"))
    val b = table(dirB)
    val other = table(dirA, s"$tag-other")
    assert(Set(a, b, other).size == 3 && builds.get == 3,
      "two dirs and two tags must be separate tables, each built once")
    // heartbeat: a memoized access refreshes a root older than the grace
    val sevenHoursAgo = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7L * 3600 * 1000)
    Files.setLastModifiedTime(Paths.get(a), sevenHoursAgo)
    val before = System.currentTimeMillis() - 1000L
    assert(table(dirA) == a && builds.get == 3)
    assert(Files.getLastModifiedTime(Paths.get(a)).toMillis >= before,
      "the access must refresh the table root's mtime")
    // sweep: the next build deletes a sibling past the 6 h grace and
    // keeps the live tables
    val stale = Files.createDirectories(root.resolve(s"$tag-stale"))
    Files.setLastModifiedTime(stale, sevenHoursAgo)
    val swept = table(dirB, s"$tag-sweep")
    assert(!Files.exists(stale), "a sibling older than the grace must be swept")
    assert(Seq(a, b, other, swept).forall(p => Files.isDirectory(Paths.get(p))))
    Seq(a, b, other, swept).foreach(MergeTable.dropTable)
    Seq(dirA, dirB).foreach(d => Files.delete(Paths.get(d)))
  }
}
