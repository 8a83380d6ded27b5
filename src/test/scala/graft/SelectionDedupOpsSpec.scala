package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CorpusOps, DedupOps}

/** DSIR importance weights + normalization-aware exact dedup. */
class SelectionDedupOpsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  // ---- connected components (fixpoint) ------------------------------------

  test("connected components: a >5-hop chain lands in ONE cluster (fixpoint, " +
    "not a fixed round budget)") {
    import spark.implicits._
    // a 12-node path (11 hops) would split under any ≤5-round truncation;
    // plus a disjoint pair and a self-loop singleton to prove isolation
    val chain = (1L until 12L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((20L, 21L), (30L, 30L)))
      .toDF("doc_a", "doc_b")
    val out = DedupOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    (1L to 12L).foreach(d => assert(out(d) == 1L, s"chain node $d split off"))
    assert(out(20L) == 20L && out(21L) == 20L)
    assert(out(30L) == 30L)
    assert(out.size == 15)
  }

  test("connected components: the runaway guard FAIL-STOPS (throws), never " +
    "truncates — and survives builds that elide assert") {
    import spark.implicits._
    // an 8-hop chain needs >2 rounds even with path halving; a lowered
    // test-only cap proves the guard throws instead of returning a
    // silently split clustering (the production cap of 48 covers any
    // diameter < 2^48 — unreachable by construction, so the guard is
    // only exercisable by lowering the cap)
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val saved = DedupOps.ccRoundCap
    DedupOps.ccRoundCap = 2
    try {
      val e = intercept[IllegalArgumentException] {
        DedupOps.connectedComponents(chain).collect()
      }
      assert(e.getMessage.contains("did not converge"))
    } finally DedupOps.ccRoundCap = saved
    // restored cap: the same input now converges to one cluster
    val ok = DedupOps.connectedComponents(chain).as[(Long, Long)].collect()
    assert(ok.forall(_._2 == 1L))
  }

  test("connected components: two chains fused by one bridge edge merge fully") {
    import spark.implicits._
    // 100..107 and 200..207 chains + a single cross edge 107-200: the
    // merged component's min label must flood BOTH chains end to end
    val c1 = (100L until 107L).map(i => (i, i + 1))
    val c2 = (200L until 207L).map(i => (i, i + 1))
    val pairs = (c1 ++ c2 ++ Seq((107L, 200L))).toDF("doc_a", "doc_b")
    val out = DedupOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out.values.toSet == Set(100L), s"expected one component: $out")
    assert(out.size == 16)
  }

  // ---- normalized dedup ---------------------------------------------------

  test("normalized dedup: reformatted copies collapse, raw variants counted") {
    import spark.implicits._
    val d = Seq(
      (1L, "Hello, World!"),
      (2L, "hello world"),
      (3L, "HELLO  world."),
      (4L, "a different doc entirely")
    ).toDF("doc_id", "text")
    val out = DedupOps.normalizedDedupOf(d).collect()
    assert(out.length === 2)
    val merged = out.find(_.getAs[Long]("doc_id_kept") == 1L).get
    assert(merged.getAs[Long]("n_copies") === 3L)
    // three distinct raw texts fused by normalization alone
    assert(merged.getAs[Long]("n_raw_variants") === 3L)
    val alone = out.find(_.getAs[Long]("doc_id_kept") == 4L).get
    assert(alone.getAs[Long]("n_copies") === 1L)
    assert(alone.getAs[Long]("n_raw_variants") === 1L)
  }

  test("normalized dedup refines exact dedup: never more groups, full coverage") {
    val exact = DedupOps.exactDedup(spark, sf)
    val norm = DedupOps.normalizedDedup(spark, sf)
    // every raw-identical group is inside one normalized group, so the
    // normalized partition can only be coarser
    assert(norm.count() <= exact.count())
    // both partition the whole corpus
    assert(norm.agg(sum("n_copies")).head.getLong(0) ===
      exact.agg(sum("n_copies")).head.getLong(0))
  }

  // ---- DSIR importance weights -------------------------------------------

  test("DSIR: target-vocabulary docs score positive, disjoint vocab negative") {
    import spark.implicits._
    // en docs draw from vocabulary A, de docs from disjoint vocabulary B:
    // the LLR vs the en target must separate them with a wide margin
    val a = "alpha beta gamma delta epsilon"
    val b = "zulu yankee xray whiskey victor"
    val d = (0L to 19L).map { i =>
      if (i % 2 == 0) (i, "en", s"$a $a") else (i, "de", s"$b $b")
    }.toDF("doc_id", "lang", "text")
    val w = CorpusOps.dsirWeightsOf(d).collect()
    val en = w.filter(_.getAs[String]("lang") == "en").map(_.getAs[Double]("dsir_logw_mean"))
    val de = w.filter(_.getAs[String]("lang") == "de").map(_.getAs[Double]("dsir_logw_mean"))
    assert(en.forall(_ > 0.0), s"en weights not positive: ${en.toSeq}")
    assert(de.forall(_ < 0.0), s"de weights not negative: ${de.toSeq}")
  }

  test("DSIR on the corpus: English slice has the highest mean weight; " +
    "n_features = 2*tokens - 1") {
    val w = CorpusOps.dsirWeights(spark, sf)
    val byLang = w.groupBy("lang").agg(avg("dsir_logw_mean").as("m"))
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Double]("m")).toMap
    val best = byLang.maxBy(_._2)._1
    assert(best === "en", s"expected en to top the target-likeness ranking: $byLang")
    // unigrams + bigrams of an n-token doc = n + (n-1)
    val docs = graft.sources.Tables.read(spark, sf, "documents")
      .select(col("doc_id"), (size(split(col("text"), " ")) * 2 - 1).as("expect"))
    val bad = w.join(docs, "doc_id")
      .where(col("n_features") =!= col("expect")).count()
    assert(bad === 0L)
  }

  test("cluster split: no near-dup pair straddles splits; proportions hold") {
    val split = DedupOps.clusterSplit(spark, sf)
    // leakage-safety: every cluster lands in exactly one split
    val multi = split.groupBy("cluster_id")
      .agg(countDistinct("split").as("k")).where(col("k") > 1).count()
    assert(multi === 0L)
    // determinism
    val a = DedupOps.clusterSplit(spark, sf).collect().map(_.toString).toSeq
    val b = DedupOps.clusterSplit(spark, sf).collect().map(_.toString).toSeq
    assert(a === b)
    // rough 80/10/10 by hash bucket (wide tolerance at 500 docs)
    val n = split.count().toDouble
    val frac = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1) / n).toMap
    assert(frac("train") > 0.7 && frac("train") < 0.9, frac)
    assert(frac.getOrElse("val", 0.0) > 0.03 && frac.getOrElse("test", 0.0) > 0.03, frac)
  }

  test("hybrid RRF: ranks contiguous, fused docs beat single-list docs at equal rank") {
    import graft.ops.SimilarityOps
    val out = SimilarityOps.hybridRetrieval(spark, sf).collect()
    assert(out.map(_.getAs[Long]("rank")).toSeq === (1L to out.length))
    // RRF monotonicity: any doc present in BOTH lists scores strictly above
    // a doc whose best single-list rank is no better
    val both = out.filter(r => r.getAs[Long]("lex_rank") > 0 && r.getAs[Long]("vec_rank") > 0)
    val single = out.filter(r => r.getAs[Long]("lex_rank") == 0 ^ r.getAs[Long]("vec_rank") == 0)
    for (b <- both; s0 <- single) {
      val bBest = math.min(
        if (b.getAs[Long]("lex_rank") > 0) b.getAs[Long]("lex_rank") else Long.MaxValue,
        if (b.getAs[Long]("vec_rank") > 0) b.getAs[Long]("vec_rank") else Long.MaxValue)
      val sBest = math.max(s0.getAs[Long]("lex_rank"), s0.getAs[Long]("vec_rank"))
      if (bBest <= sBest)
        assert(b.getAs[Double]("rrf") > s0.getAs[Double]("rrf"), s"$b vs $s0")
    }
  }

  test("source drift: a distributionally-shifted source tops the KL ranking") {
    import spark.implicits._
    // long docs so real counts dominate the add-one smoothing mass (B=128)
    val normal = Seq.fill(20)("alpha beta gamma delta epsilon zeta eta theta").mkString(" ")
    val shifted = Seq.fill(20)("zulu yankee xray whiskey victor uniform tango sierra").mkString(" ")
    val d = (0L to 29L).map { i =>
      val src = s"s${i % 3}"
      // source s2 drifted to a disjoint vocabulary; s0/s1 share one
      (i, src, if (src == "s2") shifted else normal)
    }.toDF("doc_id", "source", "text")
    val out = CorpusOps.sourceDriftOf(d).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("kl_nats")).toMap
    assert(out.size === 3)
    // theory caps the ratio: KL(s2‖corpus) ≤ ln3 ≈ 1.10 (s2 is 1/3 of the
    // corpus mass) while the clean sources sit near ln(3/2) ≈ 0.41 —
    // measured 1.02 vs 0.38, essentially at the disjoint-vocab bound
    assert(out("s2") > 2 * math.max(out("s0"), out("s1")),
      s"drifted source not separated: $out")
    // KL >= 0 up to the 6dp term rounding
    assert(out.values.forall(_ >= -0.001), out)
  }

  test("quality repetition survives a 1-token document under ANSI") {
    import spark.implicits._
    // the bigram lambda probes toks[2] on a 1-element array — ANSI throws
    // without try_element_at; the degenerate bigram is the bare token
    // (oracle convention), so the fractions stay defined
    val d = Seq((1L, "solo"), (2L, "a a b")).toDF("doc_id", "text")
    val out = graft.ops.TextOps.qualityRepetitionOf(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Double]("top_token_frac") === 1.0)
    assert(out(1L).getAs[Double]("top_bigram_frac") === 1.0)
    assert(out(2L).getAs[Double]("dup_token_frac") === 0.6667)
  }

  /** The retired two-pipeline explode/aggregate/join form of
    * `TextOps.qualityRepetitionOf`: the parity reference. */
  private def qualityRepetitionComposedOf(d: DataFrame): DataFrame = {
    val base = d.select(col("doc_id"), graft.ops.TextOps.tokens.as("toks"))
    def gramStats(gram: Column, pfx: String) =
      base.select(col("doc_id"), explode(gram).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(
          max(col("c")).as(s"${pfx}_top_c"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as(s"${pfx}_dup_c"),
          sum(col("c")).as(s"${pfx}_n"))
    val uni = gramStats(col("toks"), "u")
    // try_element_at on the successor: a 1-token document probes index 2
    // of a 1-element array, which THROWS under ANSI — the null →
    // concat_ws skips it and yields the bare token, exactly the oracle's
    // `|| coalesce(' ' || next, '')` (same convention as
    // [[graft.ops.DedupOps.bigramShingles]])
    val bi = gramStats(expr(
      """transform(sequence(1, greatest(size(toks) - 1, 1)),
        |  i -> concat_ws(' ', element_at(toks, i), try_element_at(toks, i + 1)))""".stripMargin), "b")
    uni.join(bi, "doc_id")
      .select(
        col("doc_id"),
        round(col("u_top_c").cast("double") / col("u_n"), 4).as("top_token_frac"),
        round(col("u_dup_c").cast("double") / col("u_n"), 4).as("dup_token_frac"),
        round(col("b_top_c").cast("double") / col("b_n"), 4).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  test("quality repetition: native per-row stats row-identical to the composed form") {
    // the round-18 native repetition_stats pass replaced the two
    // explode/aggregate pipelines; pin parity over the real corpus plus
    // degenerate docs (1 token, all-same, all-distinct, repeated bigrams)
    import spark.implicits._
    val synth = Seq(
      (9000L, "solo"), (9001L, "x x x x"), (9002L, "a b c d e"),
      (9003L, "p q p q p q"), (9004L, "t"))
      .toDF("doc_id", "text")
    val corpus = graft.sources.Tables.read(spark, sf, "documents")
      .select("doc_id", "text").unionByName(synth)
    val native = graft.ops.TextOps.qualityRepetitionOf(corpus)
      .collect().map(_.toString).sorted
    val composed = qualityRepetitionComposedOf(corpus)
      .collect().map(_.toString).sorted
    assert(native.sameElements(composed))
  }

  test("DSIR weights are deterministic across runs") {
    val w1 = CorpusOps.dsirWeights(spark, sf).collect().map(_.toString)
    val w2 = CorpusOps.dsirWeights(spark, sf).collect().map(_.toString)
    assert(w1.toSeq === w2.toSeq)
  }

  test("DSIR weights: native per-row fold row-identical to the composed pass") {
    // round-18: dsir_row replaced the explode/element_at/aggregate
    // scoring pipeline; pin parity (incl. the float sum, folded in the
    // same feature order) over the corpus plus degenerate docs
    import spark.implicits._
    val synth = Seq(
      (9000L, "solo", "en"), (9001L, "a b", "fr"),
      (9002L, "x y x y x", "en"))
      .toDF("doc_id", "text", "lang")
    val corpus = graft.sources.Tables.read(spark, sf, "documents")
      .select("doc_id", "text", "lang").unionByName(synth)
    val native = CorpusOps.dsirWeightsOf(corpus).collect().map(_.toString).sorted
    val composed = CorpusOps.dsirWeightsComposedOf(corpus)
      .collect().map(_.toString).sorted
    assert(native.sameElements(composed))
  }
}
