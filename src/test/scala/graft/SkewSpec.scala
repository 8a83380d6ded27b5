package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Skew
import graft.sources.Tables

/** Salted aggregation equals the direct form; bucketing removes the join
  * exchange — the two explicit scale levers beyond AQE.
  */
class SkewSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  /** Unsalted reference form of [[Skew.saltedStats]]. */
  private def directStats(df: DataFrame, key: String, valueCol: String): DataFrame =
    df.groupBy(col(key))
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol)).as("sum_value"),
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"))

  test("salted stats are exactly equal to direct stats (reassociatable aggs)") {
    val ev = Tables.read(spark, dir, "events")
    // build a skewed copy: map 80% of rows onto one hot key
    val skewed = ev.withColumn(
      "user_id",
      when(col("event_id") % 5 =!= 0, 7L).otherwise(col("user_id")))
    val direct = directStats(skewed, "user_id", "value")
      .orderBy("user_id").collect()
    val salted = Skew.saltedStats(skewed, "user_id", "value", salts = 8)
      .orderBy("user_id").collect()
    assert(direct.length == salted.length)
    direct.zip(salted).foreach { case (d, s) =>
      assert(d.getLong(0) == s.getLong(0))
      assert(d.getLong(1) == s.getLong(1))           // counts exact
      assert(math.abs(d.getDouble(2) - s.getDouble(2)) < 1e-6) // sums assoc-drift only
      assert(d.getDouble(3) == s.getDouble(3) && d.getDouble(4) == s.getDouble(4))
    }
  }

  test("salted join spreads a hot key and preserves the join result") {
    val ev = Tables.read(spark, dir, "events")
      .withColumn("user_id", lit(7L)) // everything on one key
    val dim = Tables.read(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val plain = ev.join(dim, col("user_id") === col("c_custkey")).count()
    val saltedFact = Skew.saltFactKey(ev, salts = 8)
    val saltedDim = Skew.saltedDimForJoin(dim, "c_custkey", salts = 8)
    val salted = saltedFact.join(
      saltedDim,
      col("user_id") === col("c_custkey") && saltedFact("__salt") === saltedDim("__salt"))
      .count()
    assert(plain == salted)
  }

  test("AQE OptimizeSkewedJoin splits the hot key of the skew demo query") {
    // sf0.1 (the bench SF): the hot key carries ~90k of 100k events —
    // ~0.7MB of shuffle blocks, far past the op's scaled 16KB skew
    // threshold (smaller SFs compress under it and AQE just coalesces)
    val df = Skew.skewedJoinAgg(spark, "/root/testdata/sf0.1")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // counts cover every event whose key matches a customer (hot key 7
    // resolves — the skew is real data volume, not dropped rows)
    assert(rows.map(_.getLong(1)).sum >= 90000L)
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the sort-merge join must be the skew-split form, not a plain SMJ
    assert(plan.contains("SortMergeJoin") && plan.contains("skew=true"), plan)
  }

  test("bucketed tables join without an exchange on the bucketed key") {
    // the in-memory catalog forgets tables across JVMs but their warehouse
    // dirs survive — clear both
    Seq("ev_bucketed", "cust_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir", "/tmp"), "graft-warehouse", t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val ev = Tables.read(spark, dir, "events")
    val cust = Tables.read(spark, dir, "customer")
    ev.write.mode("overwrite").bucketBy(8, "user_id")
      .sortBy("user_id").saveAsTable("ev_bucketed")
    cust.write.mode("overwrite").bucketBy(8, "c_custkey")
      .sortBy("c_custkey").saveAsTable("cust_bucketed")
    val joined = spark.table("ev_bucketed")
      .join(
        spark.table("cust_bucketed").hint("merge"),
        col("user_id") === col("c_custkey"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // co-located bucketed join: no shuffle exchange on either side
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("gram-df ops survive a planted hot gram: no per-key window, outputs exact") {
    import spark.implicits._
    // one boilerplate trigram shared by EVERY doc (the 100 TB hot-gram
    // scenario in miniature) + per-doc unique filler, one genuine dup pair
    val boiler = "terms of service"
    val docs = (0L until 200L).map { i =>
      val unique =
        if (i == 7L || i == 13L) "copied copied body text here" // cross-doc dup span
        else s"u${i}a u${i}b u${i}c u${i}d"
      (i, s"$boiler $unique", "en", "s0", 10L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")

    val gram = 3
    def windows(text: String): Seq[Seq[String]] = {
      val t = text.split(" ").toSeq
      if (t.length < gram) Seq(t) else t.sliding(gram).toSeq
    }
    val allWins = docs.collect().map(r => r.getLong(0) -> windows(r.getString(1))).toMap
    val dfCount: Map[Seq[String], Int] =
      allWins.toSeq.flatMap { case (id, ws) => ws.distinct.map(w => (w, id)) }
        .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).distinct.size }

    // stats: n_dup counts positions whose gram occurs in >= 2 docs
    val stats = graft.ops.DedupOps.duplicateSpanStatsOf(docs, gram)
    val got = stats.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    allWins.foreach { case (id, ws) =>
      val (nGrams, nDup) = got(id)
      assert(nGrams == ws.length, s"doc $id n_grams")
      assert(nDup == ws.count(w => dfCount(w) >= 2), s"doc $id n_dup")
    }
    // every doc's boilerplate positions are dup; the unique filler is not
    assert(got.values.forall(_._2 >= 1))

    // scrub: every token covered by a >=2-doc window is cut
    val scrub = graft.ops.DedupOps.duplicateSpanScrubOf(docs, gram)
    val cleans = scrub.collect().map(r => (r.getLong(0), r.getString(3))).toMap
    allWins.foreach { case (id, ws) =>
      val toks = docs.collect().find(_.getLong(0) == id).get.getString(1).split(" ")
      val covered = ws.zipWithIndex.collect {
        case (w, i) if dfCount(w) >= 2 => i until math.min(i + gram, toks.length)
      }.flatten.toSet
      val expect = toks.zipWithIndex.collect {
        case (t, i) if !covered(i) => t
      }.mkString(" ")
      assert(cleans(id) == expect, s"doc $id scrub")
    }

    // scale shape: the hot gram must not route through a per-key window,
    // and the (h, doc_id) exchange is built once (explode runs once)
    Seq("stats" -> stats, "scrub" -> scrub).foreach { case (tag, q) =>
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$tag: ${plan.take(2000)}")
      assert(plan.contains("ReusedExchange"),
        s"$tag should reuse the (h, doc_id) exchange across branches")
    }
  }
}
