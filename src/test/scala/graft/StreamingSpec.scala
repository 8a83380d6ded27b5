package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingPipeline

/** Structured-streaming semantics (SURVEY §2.10) driven synchronously with
  * the memory sink over the sf0.001 events file.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  // the file streaming source requires a directory → stage a copy
  lazy val eventsPath: String = {
    val d = Files.createTempDirectory("graft_events_stream")
    Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  lazy val docsPath: String = {
    val d = Files.createTempDirectory("graft_docs_stream")
    Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      d.resolve("documents.parquet"))
    d.toString
  }

  test("incremental exact dedup: kept stream equals the batch distinct-hash count") {
    import graft.streaming.StreamingDedup
    val q = StreamingDedup
      .exactDedupStream(StreamingDedup.readDocuments(spark, docsPath))
      .writeStream.format("memory").queryName("sdedup_exact")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("sdedup_exact")
      val batchDistinct =
        graft.ops.DedupOps.exactDedup(spark, "/root/testdata/sf0.001").count()
      assert(out.count() == batchDistinct)
      assert(out.select("text_hash").distinct().count() == batchDistinct)
    } finally q.stop()
  }

  /** The interpreted per-row SimHash fold: the executable spec the native
    * [[graft.functions.SimhashRowFp]] is asserted bit-equal to, in the same
    * SQL dialect as the DuckDB oracle. Deliberately the PLAIN per-bit fold,
    * not the batch packedVoteAggs packing: higher-order lambdas never enter
    * codegen, so the packing's payoff doesn't exist here (an A/B at sf0.1
    * measured it SLOWER, 4.5 vs 3.4 s — ~40 % more primitive ops per
    * shingle). try_element_at for the same 1-token-doc ANSI edge as the
    * batch bigramShingles (null → concat_ws skips → bare token,
    * oracle-equal).
    */
  private def simhashRowExprSql(bits: Int): String = {
    val shingles =
      """array_distinct(transform(
        |      sequence(1, greatest(size(toks) - 1, 1)),
        |      i -> concat_ws(' ', element_at(toks, i), try_element_at(toks, i + 1))))"""
        .stripMargin
    val h = "cast(conv(substring(md5(sh), 1, 15), 16, 10) as bigint)"
    s"""aggregate(
       |  transform($shingles, sh -> $h),
       |  named_struct(
       |    'n', cast(0 as bigint),
       |    'ones', array_repeat(cast(0 as bigint), $bits)),
       |  (acc, h) -> named_struct(
       |    'n', acc.n + cast(1 as bigint),
       |    'ones', zip_with(
       |      acc.ones,
       |      transform(sequence(0, ${bits - 1}), b -> shiftright(h, b) & cast(1 as bigint)),
       |      (o, x) -> o + x)),
       |  acc -> aggregate(
       |    sequence(0, ${bits - 1}),
       |    cast(0 as bigint),
       |    (fp, b) -> fp + if(2 * element_at(acc.ones, b + 1) > acc.n,
       |      shiftleft(cast(1 as bigint), b), cast(0 as bigint))))""".stripMargin
  }

  /** The SQL-expression reference form of `StreamingDedup.fingerprints`. */
  private def fingerprintsReference(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(
        col("doc_id"),
        expr(simhashRowExprSql(graft.ops.DedupOps.SimhashWideBits)).as("simhash"))

  test("native simhash_row equals the SQL-expression reference fold") {
    import graft.streaming.StreamingDedup
    import spark.implicits._
    // real corpus plus the ANSI edge cases: 1-token doc, repeated bigrams,
    // empty-string tokens from double spaces
    val edge = Seq((9001L, "solo"), (9002L, "a b a b a"), (9003L, "x  y"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val docs = graft.sources.Tables
      .read(spark, "/root/testdata/sf0.001", "documents")
      .unionByName(edge.select("doc_id", "text", "lang", "source", "n_chars"))
    val native = StreamingDedup.fingerprints(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = fingerprintsReference(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == ref)
    // and the fingerprint projection stays inside whole-stage codegen
    // (the `*(n)` prefix is the codegen-stage marker)
    val plan = StreamingDedup.fingerprints(docs)
      .queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[doc_id.*simhash_row""".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("incremental simhash near-pairs: streamed output equals the batch band join") {
    import graft.streaming.StreamingDedup
    val q = StreamingDedup
      .incrementalNearPairs(spark, StreamingDedup.readDocuments(spark, docsPath))
      .writeStream.format("memory").queryName("sdedup_pairs")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sdedup_pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.ops.DedupOps
        .simhashNearPairsWide(spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.nonEmpty) // the corpus plants near-dups — a vacuous pass hides bugs
      assert(streamed == batch)
      // duplicate-free WITHOUT a distinct: the owning-band rule emits each
      // pair exactly once
      assert(spark.table("sdedup_pairs").count() == streamed.size)
    } finally q.stop()
  }

  test("streaming mixture admission fills the batch quota contract then closes") {
    import graft.streaming.{StreamingDedup, StreamingSampler}
    val q = StreamingSampler
      .mixtureAdmit(spark, StreamingDedup.readDocuments(spark, docsPath))
      .writeStream.format("memory").queryName("smix")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("smix").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // per-source counts equal the BATCH op's quota rounding contract
      val counts = out.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      val expected =
        graft.ops.CorpusOps.apportion(graft.ops.CorpusOps.DefaultMixture, 20).toMap
      assert(counts == expected, s"got $counts, want $expected")
      // sources outside the mixture spec are never admitted
      assert(out.forall(r => expected.contains(r._1)))
      // admit_seq is a dense 1..k per source and never exceeds target_k
      out.groupBy(_._1).foreach { case (s, rows) =>
        assert(rows.map(_._3).sorted.toSeq == (1L to expected(s)).toSeq, s)
        assert(rows.forall(r => r._3 <= r._4))
      }
      // single-batch determinism: the admitted ids are the k smallest per
      // source (doc_id-ordered admission within a micro-batch)
      val docs = graft.sources.Tables
        .read(spark, "/root/testdata/sf0.001", "documents")
        .select("source", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      out.groupBy(_._1).foreach { case (s, rows) =>
        val smallest = docs.filter(_._1 == s).map(_._2).sorted.take(expected(s).toInt)
        assert(rows.map(_._2).sorted.toSeq == smallest.toSeq, s)
      }
    } finally q.stop()
  }

  test("streaming token-budget admission: greedy per-source token bucket, bounded state") {
    import graft.streaming.{StreamingDedup, StreamingSampler}
    val budget = 2000L
    val q = StreamingSampler
      .tokenBudgetAdmit(spark, StreamingDedup.readDocuments(spark, docsPath), budget)
      .writeStream.format("memory").queryName("stokbudget")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("stokbudget").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(out.nonEmpty)
      // driver-side greedy token bucket per source over doc_id order — the
      // single-file drop arrives as one micro-batch, so admission order is
      // doc_id order and streamed must equal the greedy exactly
      val docs = graft.sources.Tables
        .read(spark, "/root/testdata/sf0.001", "documents")
        .select("source", "doc_id", "text").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2).split(" ", -1).length.toLong))
      val expected = docs.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
        var used = 0L
        rows.sortBy(_._2).toSeq.flatMap { case (_, id, n) =>
          if (used + n <= budget) { used += n; Some((src, id, n, used)) } else None
        }
      }.toSet
      assert(out.toSet == expected,
        s"streamed ${out.length} vs greedy ${expected.size}")
      // budget respected; skipped docs do not close the gate (cum is the
      // running ADMITTED total, never exceeds budget)
      out.groupBy(_._1).foreach { case (src, rows) =>
        assert(rows.map(_._4).max <= budget, src)
        val byId = rows.sortBy(_._2)
        assert(byId.map(_._3).sum == byId.last._4, src)
      }
    } finally q.stop()
  }

  test("streaming centroid assignment equals the batch coarse cells bit-for-bit") {
    import graft.streaming.StreamingSimilarity
    val embsDir = Files.createTempDirectory("graft_embs_stream")
    Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      embsDir.resolve("embeddings.parquet"))
    val stream = spark.readStream
      .schema(graft.sources.Tables.embeddings)
      .parquet(embsDir.toString)
    val q = StreamingSimilarity
      .assignStream(spark, stream, "/root/testdata/sf0.001")
      .writeStream.format("memory").queryName("sassign")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sassign").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
      val batch = graft.ops.SimilarityOps.coarseCells(spark, "/root/testdata/sf0.001")
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(streamed.map(t => (t._1, t._2)) == batch,
        s"streamed ${streamed.size} vs batch ${batch.size}")
      assert(streamed.map(_._2).distinct.length > 1) // cells actually discriminate
    } finally q.stop()
  }

  test("streaming centroid assignment: zero-norm vector elects the batch window's cell (NaN parity)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingSimilarity
    import spark.implicits._
    val cents = graft.ops.SimilarityOps.kmeansCentroids(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(r.fieldIndex("cid")),
        r.getSeq[Double](r.fieldIndex("c_vec")).toArray))
    val dim = cents.head._2.length
    val mem = MemoryStream[(Long, Array[Float])](spark)
    mem.addData((777L, Array.fill(dim)(0.0f)))
    val q = StreamingSimilarity
      .assignStream(spark, mem.toDF.toDF("vec_id", "embedding"), "/root/testdata/sf0.001")
      .writeStream.format("memory").queryName("snan")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("snan").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // every cosine is NaN; Spark's `cos desc, cid` window sorts NaN first,
      // ties to the smallest cid — the streamed argmax must elect the same
      assert(out.length == 1 && out(0)._1 == 777L &&
        out(0)._2 == cents.map(_._1).min && out(0)._3.isNaN,
        out.mkString(","))
    } finally q.stop()
  }

  test("incremental minhash pairs equal the batch LSH dedup row-for-row") {
    import graft.streaming.StreamingDedup
    val q = StreamingDedup
      .incrementalMinhashPairs(spark, StreamingDedup.readDocuments(spark, docsPath))
      .writeStream.format("memory").queryName("sminhash")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sminhash").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      val batch = graft.ops.DedupOps.minhashLshDedup(spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("retention: stale simhash buckets evict; in-horizon pairs unaffected") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    def ts(h: Long): java.sql.Timestamp = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.parse("2025-06-01T00:00:00").plusHours(h))
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    val otherA = "completely different words about mountains rivers and weather patterns"
    val otherB = "yet another unrelated document concerning oceans tides and currents"

    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    // 24 h horizon under test + a wide-horizon control on the SAME input:
    // any pair missing from the first but present in the second was
    // removed by retention, not by the pairing logic
    val q = StreamingDedup.incrementalNearPairs(spark, docs,
        retention = Some(StreamingDedup.Retention("ts", "24 hours")))
      .writeStream.format("memory").queryName("sttl_pairs")
      .outputMode("append").start()
    val qWide = StreamingDedup.incrementalNearPairs(spark, docs,
        retention = Some(StreamingDedup.Retention("ts", "3650 days")))
      .writeStream.format("memory").queryName("sttl_wide")
      .outputMode("append").start()
    try {
      input.addData((1L, dupText, ts(0)), (2L, dupText, ts(0)))
      q.processAllAvailable(); qWide.processAllAvailable()
      input.addData((3L, dupText, ts(48)))
      q.processAllAvailable(); qWide.processAllAvailable()
      // during this batch the 24 h watermark (T0+24h) has passed docs 1,2:
      // they must never pair with doc 4
      input.addData((4L, dupText, ts(49)))
      q.processAllAvailable(); qWide.processAllAvailable()
      def pairsOf(t: String) = spark.table(t).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairsOf("sttl_wide") ==
        Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L)))
      assert(pairsOf("sttl_pairs") ==
        Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)), pairsOf("sttl_pairs"))

      // idle-bucket PHYSICAL removal: advance the watermark with unrelated
      // texts; the dup bucket sees no data, its EventTimeTimeout fires and
      // the state rows disappear (each doc owns 4 band buckets)
      input.addData((5L, otherA, ts(96)))
      q.processAllAvailable()
      input.addData((6L, otherB, ts(120)))
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateRows <= 8, s"dup buckets not evicted: $stateRows state rows")
    } finally { q.stop(); qWide.stop() }
  }

  test("retention: stale minhash buckets evict the same way") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    def ts(h: Long): java.sql.Timestamp = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.parse("2025-06-01T00:00:00").plusHours(h))
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingDedup.incrementalMinhashPairs(spark, docs,
        retention = Some(StreamingDedup.Retention("ts", "24 hours")))
      .writeStream.format("memory").queryName("sttl_mh")
      .outputMode("append").start()
    try {
      input.addData((1L, dupText, ts(0)), (2L, dupText, ts(0)))
      q.processAllAvailable()
      input.addData((3L, dupText, ts(48)))
      q.processAllAvailable()
      input.addData((4L, dupText, ts(49)))
      q.processAllAvailable()
      val pairs = spark.table("sttl_mh").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)), pairs)
    } finally q.stop()
  }

  test("streaming decontamination equals the batch op row-for-row") {
    import graft.streaming.StreamingDedup
    val q = StreamingDedup
      .decontaminateStream(spark, StreamingDedup.readDocuments(spark, docsPath),
        "/root/testdata/sf0.001")
      .writeStream.format("memory").queryName("sdecon")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sdecon").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val batch = graft.ops.TextOps.decontaminate(spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming normalized dedup: reformatted copies collapse across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val q = StreamingDedup
      .normalizedDedupStream(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("snormdedup")
      .outputMode("append").start()
    try {
      mem.addData((1L, "Hello, World!"), (2L, "something different"))
      q.processAllAvailable()
      // cross-batch: both reformatted twins of doc 1 must drop
      mem.addData((3L, "hello world"), (4L, "HELLO  world."), (5L, "another doc"))
      q.processAllAvailable()
      val kept = spark.table("snormdedup")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 2L, 5L), kept)
    } finally q.stop()
  }

  test("streaming DSIR scoring equals the batch weights row-for-row") {
    import graft.streaming.{StreamingDedup, StreamingSampler}
    val q = StreamingSampler
      .dsirScoreStream(spark, StreamingDedup.readDocuments(spark, docsPath),
        "/root/testdata/sf0.001")
      .writeStream.format("memory").queryName("sdsir")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sdsir").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
      val batch = graft.ops.CorpusOps.dsirWeights(spark, "/root/testdata/sf0.001")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
      assert(streamed.size == batch.size && streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("S5/append: stateless projection streams through with validity flag") {
    val q = StreamingPipeline
      .projectWithValidity(StreamingPipeline.readEvents(spark, eventsPath))
      .writeStream.format("memory").queryName("proj_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("proj_out")
      assert(out.count() == 1000)
      assert(out.where(!col("is_valid")).count() > 0) // DLQ side exists
      assert(out.columns.contains("data_source"))
    } finally q.stop()
  }

  test("A9/R3: dropDuplicatesWithinWatermark keeps the stream exactly-once") {
    val q = StreamingPipeline
      .dedupWithinWatermark(StreamingPipeline.readEvents(spark, eventsPath))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("dedup_out")
      assert(out.count() == out.select("event_id").distinct().count())
    } finally q.stop()
  }

  test("A11: watermarked daily rollup aggregates in update mode") {
    val q = StreamingPipeline
      .dailyRollup(StreamingPipeline.readEvents(spark, eventsPath))
      .writeStream.format("memory").queryName("rollup_out")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val out = spark.table("rollup_out")
      assert(out.agg(sum("n")).first().getLong(0) == 1000)
    } finally q.stop()
  }

  test("stream-static join: every batch row enriched from the static dim, no stream shuffle") {
    val cities = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "customer")
    val q = StreamingPipeline
      .enrichWithCities(StreamingPipeline.readEvents(spark, eventsPath), cities)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("enrich_out")
      assert(out.count() == 1000)
      // user ids 1..15 all exist in the customer dim at this sf
      assert(out.where(col("city_name").isNull).count() == 0)
      assert(out.select("city_name").distinct().count() == 15)
    } finally q.stop()
  }

  test("session_window: streaming sessions equal a batch session_window agg") {
    val q = StreamingPipeline
      .sessionRollup(StreamingPipeline.readEvents(spark, eventsPath))
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .orderBy("user_id", "session_start").collect().toSeq
      val batch = graft.sources.Tables.read(spark, eventsPath, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start").collect().toSeq
      assert(got.nonEmpty && got == batch)
    } finally q.stop()
  }

  test("mapGroupsWithState: per-city running aggregates accumulate") {
    val weather = StreamingPipeline
      .projectWithValidity(StreamingPipeline.readEvents(spark, eventsPath))
    val q = StreamingPipeline.runningCityState(spark, weather)
      .writeStream.format("memory").queryName("state_out")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val out = spark.table("state_out")
      assert(out.agg(sum("n")).first().getLong(0) == 1000)
      assert(out.select("city_id").distinct().count() == 15)
    } finally q.stop()
  }

  test("stream-stream join: watermarked self-join pairs clicks with later purchases") {
    // S5 + J-family streaming form: click stream ⋈ purchase stream per user
    // within a 1-hour event-time bound, both sides watermarked so join
    // state is bounded.
    val ev = StreamingPipeline.readEvents(spark, eventsPath)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val joined = clicks.join(
      purchases,
      expr("c_user = p_user AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"))
    val q = joined.writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n = spark.table("ssjoin_out").count()
      // batch reference computed over the same file
      val bev = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
      val bc = bev.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      val bp = bev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      val expect = bc.join(bp,
        expr("c_user = p_user AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR")).count()
      assert(n == expect, s"stream join $n vs batch $expect")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: inner rows match batch; null rows only for closed windows") {
    val joined = StreamingPipeline.clickPurchaseAttribution(
      StreamingPipeline.readEvents(spark, eventsPath))
    val q = joined.writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("attr_out")
      val matched = out.where(col("purchase_id").isNotNull)
      val nulls = out.where(col("purchase_id").isNull)
      // matched rows = the batch inner join exactly
      val bev = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
      val bc = bev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      val bp = bev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      val innerExpect = bc.join(bp,
        expr("c_user = p_user AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR")).count()
      assert(matched.count() == innerExpect, s"${matched.count()} vs $innerExpect")
      // null-extended rows appear ONLY for clicks whose 1 h window is fully
      // below the final watermark (min over both inputs of max-ts − 2 h);
      // clicks still inside the watermark horizon stay in state unemitted
      val maxC = bc.agg(max(col("c_ts"))).head.getTimestamp(0)
      val maxP = bp.agg(max(col("p_ts"))).head.getTimestamp(0)
      val wmMs = math.min(maxC.getTime, maxP.getTime) - 2L * 3600 * 1000
      val matchedClicks = bc.join(bp,
        expr("c_user = p_user AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"),
        "left_semi")
      val expiredUnmatched = bc
        .join(matchedClicks, Seq("click_id"), "left_anti")
        .where(col("c_ts") + expr("INTERVAL 1 HOUR") <
          lit(new java.sql.Timestamp(wmMs)))
        .count()
      assert(nulls.count() == expiredUnmatched,
        s"null rows ${nulls.count()} vs expired unmatched $expiredUnmatched")
      assert(nulls.count() > 0, "test data produced no abandoned clicks — widen the window")
    } finally q.stop()
  }

  test("streaming flagship: label CHANGES converge exactly to the batch classifier") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val weather = graft.ops.WeatherModel.weatherRecords(spark, "/root/testdata/sf0.001")
    val batchLabels = graft.ops.RuleBasedTrailClassifier.classify(weather)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val evs = StreamingPipeline.weatherEvents(spark, weather).collect().sortBy(_.epoch_s)
    val input = MemoryStream[StreamingPipeline.WeatherEvent]
    val q = StreamingPipeline.streamingClassifier(spark, input.toDS())
      .writeStream.format("memory").queryName("flagship_out")
      .outputMode("append").start()
    try {
      // two micro-batches: labels can CHANGE between them
      val (h1, h2) = evs.splitAt(evs.length / 2)
      input.addData(h1.toSeq)
      q.processAllAvailable()
      input.addData(h2.toSeq)
      q.processAllAvailable()

      // suppression: a state-touching row that cannot move any aggregate
      // (rain 0, −50° historical inside the 2-day window) must NOT re-emit
      val before = spark.table("flagship_out").count()
      input.addData(StreamingPipeline.WeatherEvent(
        batchLabels.keys.head,
        java.time.LocalDateTime.parse("2024-01-19T23:59:59")
          .toEpochSecond(java.time.ZoneOffset.UTC),
        -50.0, 0.0, graft.ops.WeatherModel.Historical))
      q.processAllAvailable()
      assert(spark.table("flagship_out").count() == before,
        "a no-op update must not emit a label change")

      val changes = spark.table("flagship_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val finalLabels = changes.groupBy(_._1).map { case (c, rs) => c -> rs.maxBy(_._3)._2 }
      assert(finalLabels == batchLabels, "final streamed labels must equal the batch flagship")
      assert(changes.count(_._3 == 1L) == batchLabels.size, "every city emits an initial label")
    } finally q.stop()
  }

  test("streaming SCD2: closed runs converge exactly to the batch history") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"

    // batch truth: every CLOSED run (is_current rows are the open states)
    val batchClosed = graft.ops.ChangeCapture.scd2History(spark, dir)
      .where(!col("is_current"))
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(effective_from)").as("from_us"),
        expr("unix_micros(effective_to)").as("to_us"),
        col("n_events"))
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

    // feed the same events in event-time order across three micro-batches
    // (the per-key-ordered log contract the op documents)
    val evs = graft.sources.Tables.read(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("ts_us"), col("event_type"))
      .as[StreamingPipeline.AttrEvent]
      .collect().sortBy(e => (e.ts_us, e.event_id))
    val input = MemoryStream[StreamingPipeline.AttrEvent]
    val q = StreamingPipeline.streamingScd2(spark, input.toDS())
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    try {
      evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
        input.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("scd2_out")
        .select("user_id", "event_type", "from_us", "to_us", "n_events")
        .collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(streamed == batchClosed,
        s"streamed ${streamed.size} closed runs vs batch ${batchClosed.size}")
    } finally q.stop()
  }

  test("R5: the delivery-count ceiling diverts the 6th delivery to the DLQ") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val base = Files.createTempDirectory("graft_retry").toString
    val input = MemoryStream[(Long, Int)]
    val q = StreamingPipeline.startRetrySink(
      input.toDS().toDF("event_id", "delivery_count"),
      s"$base/retry", s"$base/dlq", s"$base/cp")
    try {
      input.addData((1 to 5).map(n => (42L, n)): _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$base/retry").count() == 5)
      assert(!new java.io.File(s"$base/dlq").exists(), "no DLQ rows below the ceiling")
      input.addData((42L, 6))
      q.processAllAvailable()
      val dead = spark.read.parquet(s"$base/dlq").collect()
      assert(dead.length == 1)
      assert(dead.head.getAs[String]("exception_type") == "MAX_DELIVERY_EXCEEDED")
      assert(spark.read.parquet(s"$base/retry").count() == 5, "retry side unchanged")
    } finally q.stop()
  }

  test("foreachBatch upsert sink: replay is idempotent, DLQ side-output lands") {
    val base = Files.createTempDirectory("graft_stream").toString
    val store = s"$base/store"
    val dlq = s"$base/dlq"
    def runOnce(cp: String): Unit = {
      val q = StreamingPipeline.startUpsertSink(
        StreamingPipeline.projectWithValidity(
          StreamingPipeline.readEvents(spark, eventsPath)),
        store, dlq, cp)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce(s"$base/cp1")
    val afterFirst = spark.read.parquet(store).count()
    // replay from a FRESH checkpoint = redelivery of the whole stream
    runOnce(s"$base/cp2")
    val afterReplay = spark.read.parquet(store).count()
    assert(afterFirst == afterReplay, "upsert sink must be idempotent under replay")
    assert(spark.read.parquet(dlq).count() > 0)
  }

  test("streaming span scrub: in-batch exact, later arrival matches batch, first stays clean") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val base = Files.createTempDirectory("graft_span_stream").toString
    val boiler = "alpha beta gamma delta epsilon"
    val d1 = (1L, s"$boiler u1a u1b")           // batch 1, boiler's first arrival
    val d2 = (2L, "u2a u2b u2c u2d")            // unique everywhere
    val d3 = (3L, "shared span here x3a")       // in-batch dup pair with d4
    val d4 = (4L, "shared span here x4a")
    val d5 = (5L, s"$boiler u5a u5b")           // batch 2, duplicates d1's boiler

    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.startSpanScrubSink(
      input.toDF().toDF("doc_id", "text"),
      s"$base/out", s"$base/state", s"$base/cp", gram = 3)
    try {
      input.addData(d1, d2, d3, d4)
      q.processAllAvailable()
      input.addData(d5)
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(s"$base/out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out.size == 5)

    // within-batch cross-doc dup: exact, both members scrubbed
    assert(out(3L) == ((4L, 3L, "x3a")), out(3L))
    assert(out(4L) == ((4L, 3L, "x4a")), out(4L))
    // unique doc untouched
    assert(out(2L) == ((4L, 0L, "u2a u2b u2c u2d")), out(2L))
    // FIRST arrival of the boiler was emitted before its duplicate existed
    // — clean, the documented one-sided relaxation
    assert(out(1L) == ((7L, 0L, s"$boiler u1a u1b")), out(1L))
    // LATER arrival: scrubbed exactly like the batch operator over the
    // full corpus
    val batch = graft.ops.DedupOps.duplicateSpanScrubOf(
      Seq(d1, d2, d3, d4, d5).toDF("doc_id", "text"), 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(5L) == batch(5L), s"streamed ${out(5L)} vs batch ${batch(5L)}")
    assert(batch(5L)._3 == "u5a u5b")

    // bounded state on disk: at most 2 bitset generations survive pruning
    val gens = new java.io.File(s"$base/state").listFiles
      .filter(_.getName.startsWith("gen-"))
    assert(gens.length <= 2, gens.map(_.getName).mkString(","))
  }

  test("partitioned merge sink: replay idempotent, untouched day partitions not rewritten") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    def ts(day: Int, h: Int): java.sql.Timestamp = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2025, 6, day, h, 0))
    val drop1 = Seq((1L, 10L, ts(1, 8), 20.0), (2L, 10L, ts(2, 9), 21.0))
    val drop2 = Seq((3L, 11L, ts(2, 10), 25.0), (2L, 10L, ts(2, 9), 99.0))

    def runOnce(store: String, cp: String): Unit = {
      val input = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
      val q = StreamingPipeline.startPartitionedUpsertSink(
        input.toDF().toDF("event_id", "city_id", "timestamp_utc", "temperature_deg_c"),
        store, cp)
      try {
        input.addData(drop1: _*)
        q.processAllAvailable()
        // day=2025-06-01 exists now; record its physical files
        val day1 = new java.io.File(s"$store/day=2025-06-01")
        val before = day1.listFiles.filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified).toMap
        input.addData(drop2: _*) // touches day 2 ONLY
        q.processAllAvailable()
        val after = day1.listFiles.filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified).toMap
        assert(before == after,
          s"day-1 partition rewritten by a day-2 batch: $before vs $after")
      } finally q.stop()
    }

    val base = Files.createTempDirectory("graft_pupsert").toString
    runOnce(s"$base/store1", s"$base/cp1")
    def rowsOf(store: String) = spark.read.parquet(store)
      .select("event_id", "temperature_deg_c").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val first = rowsOf(s"$base/store1")
    // key 2 merged new-wins; keys 1 and 3 present
    assert(first == Set((1L, 20.0), (2L, 99.0), (3L, 25.0)), first)
    // full redelivery into a fresh checkpoint converges to the same store
    runOnce(s"$base/store1", s"$base/cp2")
    assert(rowsOf(s"$base/store1") == first, "partitioned merge not idempotent")
  }

  test("transactional MERGE sink: exactly-once under checkpoint replay, versions advance once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.MergeTable
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val base = Files.createTempDirectory("graft_mergesink").toString
    val table = s"$base/table"
    val cp = s"$base/cp"
    val drop1 = Seq((1L, "a", 20.0), (2L, "a", 21.0))
    val drop2 = Seq((3L, "b", 25.0), (2L, "b", 99.0))

    def runOnce(checkpoint: String): Unit = {
      val input = MemoryStream[(Long, String, Double)]
      val q = StreamingPipeline.startMergeSink(
        input.toDF().toDF("event_id", "tag", "value"), table, checkpoint)
      try {
        input.addData(drop1: _*); q.processAllAvailable()
        input.addData(drop2: _*); q.processAllAvailable()
      } finally q.stop()
    }

    runOnce(cp)
    def rowsOf = MergeTable.read(spark, table)
      .select("event_id", "value").as[(Long, Double)].collect().toSet
    val first = rowsOf
    assert(first == Set((1L, 20.0), (2L, 99.0), (3L, 25.0)), first)
    val v1 = MergeTable.latestManifest(table).get.version

    // SAME checkpoint torn down and replayed from scratch: the txn
    // watermark (writerId = checkpoint path) makes every batch a no-op —
    // not merely convergent, the table version must not advance at all
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cp))
    runOnce(cp)
    assert(rowsOf == first, "merge sink replay changed the table")
    assert(MergeTable.latestManifest(table).get.version == v1,
      "replayed batches must not commit new versions")

    // a DIFFERENT writer (new checkpoint) applies normally and converges
    runOnce(s"$base/cp2")
    assert(rowsOf == first, "second-writer merge not convergent")
    assert(MergeTable.latestManifest(table).get.version > v1)
  }

  test("streaming quality-budget admission converges to the batch greedy selection") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingSampler
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    // three quality tiers, 10 tokens per doc: score 0.9 / 0.5 / 0.1
    def doc(score: Double, id: Long): (Long, String, String) = {
      val nUniq = (score * 10).toInt
      val toks = (0 until 10).map(i => s"w${math.min(i, nUniq - 1)}")
      (id, toks.mkString(" "), "s0")
    }
    val tier = (base: Long, sc: Double) => (0L until 10L).map(i => doc(sc, base + i))
    val warm = tier(100L, 0.9) ++ tier(200L, 0.5) ++ tier(300L, 0.1) // observe-only
    val live = tier(400L, 0.9) ++ tier(500L, 0.5) ++ tier(600L, 0.1)
    val budget = 100L // exactly the ten top-tier docs

    def runOnce(name: String): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, String, String)]
      val q = StreamingSampler.qualityBudgetAdmit(
          spark, input.toDF().toDF("doc_id", "text", "source"), budget)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        input.addData(warm: _*) // mass 300 ≥ minHistory → threshold fits here
        q.processAllAvailable()
        input.addData(live: _*)
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    }

    val admitted = runOnce("qba1")
    // warmup batch emitted nothing (history below one budget of mass at
    // batch start); live batch admits EXACTLY the batch-greedy choice:
    // the ten top-tier docs, 100 tokens
    assert(admitted.map(_._1) == (400L until 410L).toSet, admitted)
    assert(admitted.toSeq.map(_._2).sum == budget, admitted)
    // and that matches the batch quality-ranked selection over the live drop
    val batchSel = graft.ops.CorpusOps.tokenBudgetSelectOf(
        spark, live.toDF("doc_id", "text", "source").select(col("doc_id"), col("text")),
        budget)
      .collect().map(_.getLong(0)).toSet
    assert(admitted.map(_._1) == batchSel, s"streamed $admitted vs batch $batchSel")
    // budget is a hard cap and replays are deterministic
    assert(runOnce("qba2") == admitted)
  }
}
