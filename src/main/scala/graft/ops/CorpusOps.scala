package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import TextOps.hash60

/** Corpus-level training-data operations: distribution stats, deterministic
  * stratified sampling, vocabulary analysis. All one-shuffle aggregations.
  */
object CorpusOps {

  /** Exact percentiles per key (linear interpolation — identical definition
    * in Spark's `percentile` and DuckDB's `quantile_cont`). At 100 TB the
    * swap-in is `approx_percentile` (t-digest sketch: mergeable, bounded
    * memory) — exact form kept here because it is oracle-able.
    */
  def valuePercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .orderBy("event_type")

  val valuePercentilesSql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 4) AS p50,
      |  round(quantile_cont(value, 0.9), 4) AS p90,
      |  round(quantile_cont(value, 0.99), 4) AS p99
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The 100 TB percentile path made first-class: `approx_percentile`
    * (a mergeable quantile sketch — bounded memory per partition, partial
    * aggregation, no global sort) next to the exact answer. Raw sketch
    * values are engine-specific, so the ORACLED shape is exact-vs-sketch:
    * the exact p90 (computable in DuckDB — parity proven by
    * q_value_percentiles) plus `within_bound` = observed relative error ≤
    * max(1%, 1000/n %): the dominant tiny-group "error" is the
    * interpolating-exact vs value-returning-sketch definition gap, which
    * shrinks as 1/n, so the bound does too (1% from n=1000 up). The oracle
    * asserts `true`, so a sketch drifting out of its contract fails the
    * hash — the bound is CHECKED per run, not just pinned by a spec.
    */
  def approxPercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.9)"), 4).as("p90_exact"),
        round(expr("approx_percentile(value, 0.9, 10000)"), 4).as("p90_approx"),
        count(lit(1)).as("n"))
      .withColumn("rel_error_pct",
        round(abs(col("p90_approx") - col("p90_exact")) * 100.0 /
          greatest(abs(col("p90_exact")), lit(1e-9)), 3))
      .select(
        col("event_type"), col("p90_exact"),
        (col("rel_error_pct") <=
          greatest(lit(1.0), lit(1000.0) / col("n"))).as("within_bound"))
      .orderBy("event_type")

  val approxPercentilesSql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.9), 4) AS p90_exact,
      |  true AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Deterministic WEIGHTED sampling without replacement, k per language —
    * Efraimidis–Spirakis: each doc draws a pseudo-uniform u ∈ (0,1) from a
    * content-independent hash and competes on the exponential sort key
    * −ln(u)/w (ascending ⇔ u^(1/w) descending); the k smallest keys per
    * group are a weighted sample without replacement. THE one-pass
    * distributed algorithm for the job: the key is map-side, the per-group
    * top-k is a ranked window (WindowGroupLimit keeps k per partition
    * before the shuffle), and partial top-ks merge associatively — no
    * global sort, no rejection loop, replay-stable. Weight = n_chars
    * (longer docs proportionally likelier), the mixture-building knob a
    * training-data pipeline tunes. Key rounded to 9dp on both engines so a
    * last-ulp ln() difference cannot flip a rank; doc_id breaks ties.
    */
  def weightedSample(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (hash60(concat(lit("ws#"), col("doc_id").cast("string"))) % 1000003L +
      lit(1L)).cast("double") / 1000004.0
    val key = round(-log(u) / (col("n_chars").cast("double") / 100.0), 9)
    val w = Window.partitionBy(col("lang")).orderBy(col("es_key"), col("doc_id"))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"), key.as("es_key"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("lang"), col("rank"), col("doc_id"), col("es_key"))
      .orderBy("lang", "rank")
  }

  def weightedSampleSql(k: Int = 5): String =
    s"""WITH keyed AS (
       |  SELECT doc_id, lang,
       |    round(-ln((((${TextOps.hash60Sql("'ws#' || doc_id::VARCHAR")}) % 1000003) + 1) / 1000004.0)
       |          / (n_chars / 100.0), 9) AS es_key
       |  FROM documents),
       |ranked AS (
       |  SELECT lang, doc_id, es_key,
       |    row_number() OVER (PARTITION BY lang ORDER BY es_key, doc_id) AS rank
       |  FROM keyed)
       |SELECT lang, rank, doc_id, es_key FROM ranked
       |WHERE rank <= $k ORDER BY lang, rank""".stripMargin

  /** Default mixture for [[mixtureSample]]: four sources with distinct
    * target proportions (the remaining sources are excluded — a mixture
    * spec defines the OUTPUT corpus, not a filter over it).
    */
  val DefaultMixture: Seq[(String, Double)] = Seq(
    "src0" -> 0.40, "src1" -> 0.30, "src2" -> 0.20, "src3" -> 0.10)

  /** Largest-remainder (Hamilton) apportionment: budget-exact integer
    * quotas for a mixture spec. Weights are normalized by their sum, so
    * Σ quota == budget for ANY positive weights — three 1/3 shares of 20
    * yield 7+7+6, where independent rounding gives 7+7+7 = 21. Seats left
    * after flooring go to the largest fractional remainders; ties break
    * by source name so the result is deterministic and engine-agnostic.
    */
  def apportion(mixture: Seq[(String, Double)], budget: Int): Seq[(String, Long)] = {
    require(mixture.nonEmpty && mixture.forall(_._2 > 0.0),
      "mixture weights must be positive")
    val total = mixture.map(_._2).sum
    val exact = mixture.map { case (src, w) => (src, budget * w / total) }
    val floors = exact.map { case (src, x) => (src, math.floor(x).toLong) }
    // Σ remainders == budget − Σ floors in exact arithmetic; clamp guards fp
    val left = math.max(0L, budget - floors.map(_._2).sum).toInt
    val bump = exact.zip(floors)
      .map { case ((src, x), (_, fl)) => (src, x - fl) }
      .sortBy { case (src, rem) => (-rem, src) }
      .take(math.min(left, mixture.size)).map(_._1).toSet
    floors.map { case (src, fl) => (src, fl + (if (bump(src)) 1L else 0L)) }
  }

  /** Mixture/curriculum sampler — the most-run op in training-data
    * assembly: given per-source target proportions and a total budget,
    * emit a deterministic sample whose per-source counts hit the mixture
    * exactly ([[apportion]] quotas, capped by availability). Composes
    * the Efraimidis–Spirakis machinery of [[weightedSample]]: each doc
    * draws a content-independent pseudo-uniform and competes on
    * −ln(u)/w with w = n_chars/100 (the curriculum knob — longer docs
    * proportionally likelier), and the per-source quota is taken from
    * the ranked order.
    *
    * Scale shape: the ES key is map-side; the rank is a per-source
    * window whose CONSTANT bound (max quota over the mixture) is applied
    * first so Spark inserts a WindowGroupLimit — each partition keeps at
    * most maxK rows per source BEFORE the shuffle (pinned in
    * PlanAuditSpec). The per-source exact quota then comes from a
    * broadcast join against the |mixture|-row spec — tiny by definition.
    * One shuffle total at any corpus size.
    */
  def mixtureSample(s: SparkSession, dir: String,
      mixture: Seq[(String, Double)] = DefaultMixture,
      budget: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quota = apportion(mixture, budget)
    val maxK = quota.map(_._2).max
    val quotaDf = s.createDataFrame(quota).toDF("m_source", "target_k")
    val u = (hash60(concat(lit("mx#"), col("doc_id").cast("string"))) % 1000003L +
      lit(1L)).cast("double") / 1000004.0
    val key = round(-log(u) / (col("n_chars").cast("double") / 100.0), 9)
    val w = Window.partitionBy(col("source")).orderBy(col("es_key"), col("doc_id"))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"), key.as("es_key"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= maxK) // constant bound → WindowGroupLimit prunes
      .join(broadcast(quotaDf), col("source") === col("m_source"))
      .where(col("rank") <= col("target_k"))
      .select(col("source"), col("rank"), col("doc_id"), col("target_k"))
      .orderBy("source", "rank")
  }

  def mixtureSampleSql(mixture: Seq[(String, Double)] = DefaultMixture,
      budget: Int = 20): String = {
    // same apportion() quotas as the Spark side → oracle hash-identical
    val values = apportion(mixture, budget)
      .map { case (src, k) => s"('$src', $k)" }
      .mkString(", ")
    s"""WITH quota(m_source, target_k) AS (VALUES $values),
       |keyed AS (
       |  SELECT doc_id, source,
       |    round(-ln((((${TextOps.hash60Sql("'mx#' || doc_id::VARCHAR")}) % 1000003) + 1) / 1000004.0)
       |          / (n_chars / 100.0), 9) AS es_key
       |  FROM documents),
       |ranked AS (
       |  SELECT source, doc_id, es_key,
       |    row_number() OVER (PARTITION BY source ORDER BY es_key, doc_id) AS rank
       |  FROM keyed)
       |SELECT source, rank, doc_id, target_k::BIGINT AS target_k
       |FROM ranked JOIN quota ON source = m_source
       |WHERE rank <= target_k ORDER BY source, rank""".stripMargin
  }

  /** Deterministic stratified sample: ~10% of documents per language via a
    * content-independent hash split — the reproducible train/eval split
    * every data pipeline needs (no rand(), so replays and engines agree;
    * at scale this is a pure map-side filter).
    */
  def stratifiedSample(s: SparkSession, dir: String, pct: Int = 10): DataFrame =
    Tables.read(s, dir, "documents")
      .where(hash60(concat(lit("split#"), col("doc_id").cast("string"))) % 100 < pct)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  def stratifiedSampleSql(pct: Int = 10): String =
    s"""SELECT doc_id, lang FROM documents
       |WHERE (${TextOps.hash60Sql("'split#' || doc_id::VARCHAR")}) % 100 < $pct
       |ORDER BY doc_id""".stripMargin

  /** Sequence packing — the pretraining batch-assembly op: assign documents
    * to fixed token-budget packs (context windows) in a deterministic
    * per-source order. Greedy bin packing is inherently sequential, so the
    * distributed form uses the standard streaming-pack relaxation:
    * pack_id = floor(preceding-cumulative-tokens / budget), which packs
    * each bin to ≥ budget − (doc's own tokens) and overflows by at most
    * one document — the contract sequence builders actually use (the
    * trailing partial pack is padded/truncated downstream). Cumulative sum
    * is one window per source (shuffle on source, order within partition);
    * token count = ceil(n_chars/4), the whole-doc form of the ~4-chars/
    * token heuristic (TextOps.textStats estimates per word; here the doc
    * total is all the packer needs).
    */
  def packSequences(s: SparkSession, dir: String, budget: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val toks = ceil(col("n_chars").cast("double") / 4.0).cast("long")
    val packed = Tables.read(s, dir, "documents")
      .select(col("doc_id"), col("source"), toks.as("n_tok"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      // floor(), not a bare cast: Spark long/int division is TRUE division
      // (double), and a DuckDB double→BIGINT cast ROUNDS — explicit floor
      // on both engines is the only order-safe integer-division mirror
      .withColumn("pack_id", floor((col("cum_tok") - col("n_tok")) / budget))
    packed
      .groupBy(col("source"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("source", "pack_id")
  }

  def packSequencesSql(budget: Int = 512): String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, ceil(n_chars / 4.0)::BIGINT AS n_tok
       |  FROM documents),
       |cum AS (
       |  SELECT doc_id, source, n_tok,
       |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
       |  FROM toks)
       |SELECT source, floor((cum_tok - n_tok) / $budget)::BIGINT AS pack_id,
       |  count(*) AS n_docs, sum(n_tok)::BIGINT AS pack_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM cum GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin

  /** Overlapping token-window chunking — the context-window prep step a
    * training/RAG pipeline runs after cleaning (reference analog: the
    * per-condition segmentation in categorize-trail-conditions/src/
    * categorize.py:31-54 slices each report into classifier-sized pieces).
    *
    * Chunk i (1-based) covers tokens `[1+(i-1)·stride, …]` for `window`
    * tokens; `n_chunks = max(⌈(n−window)/stride⌉+1, 1)` — every token is
    * covered, the final chunk may be short, a short document yields one
    * chunk. Stateless per-row generate → map-side at any scale; the only
    * exchange is the presentation orderBy. Window/stride are token counts
    * (a real pipeline would use tokenizer lengths; whitespace tokens are
    * the corpus's contract, TextOps.tokens).
    */
  def chunkDocuments(
      s: SparkSession, dir: String, window: Int = 64, stride: Int = 48): DataFrame =
    chunkDocs(Tables.read(s, dir, "documents"), window, stride)

  /** Frame-parametric core of [[chunkDocuments]] over any (doc_id, text)
    * frame — also the PropertySpec surface.
    */
  private[graft] def chunkDocs(d: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1, s"window/stride must be >= 1: $window/$stride")
    d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_chunks", greatest(
        (ceil((size(col("toks")) - window) / lit(stride.toDouble)) + 1).cast("long"),
        lit(1L)))
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(1L, n_chunks)")).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        expr(s"slice(toks, 1 + (chunk_id - 1) * $stride, $window)").as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_tok"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  def chunkDocumentsSql(window: Int = 64, stride: Int = 48): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |c AS (SELECT doc_id, toks,
       |  unnest(range(1, greatest(ceil((len(toks) - $window) / $stride.0)::BIGINT + 1, 1) + 1))
       |    AS chunk_id
       |  FROM t)
       |SELECT doc_id, chunk_id,
       |  len(list_slice(toks, 1 + (chunk_id - 1) * $stride,
       |    (chunk_id - 1) * $stride + $window))::BIGINT AS n_tok,
       |  array_to_string(list_slice(toks, 1 + (chunk_id - 1) * $stride,
       |    (chunk_id - 1) * $stride + $window), ' ') AS chunk_text
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Training-data hygiene: PII-style scrubbing — redact emails, phone
    * numbers, and residual numeric runs in the raw payload with per-class
    * placeholders and count total redactions. Stateless regexp map-side
    * transform; every pattern is restricted to syntax with identical
    * semantics in Java regex and RE2 (no lookaround, no backreferences),
    * and both engines use leftmost-first alternation, so the single-pass
    * redaction count matches the sequential per-class replacements exactly.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
  val DigitRunRe = "[0-9]+"

  /** Alternation order matters: email before phone before digit run, so the
    * count pass segments the string the same way the replace passes do
    * (placeholders contain no digits or '@', so later passes never re-match
    * earlier replacements).
    */
  private val piiAnyRe = s"$EmailRe|$PhoneRe|$DigitRunRe"

  /** Per-class redaction of one string column (email → phone → digit run). */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      DigitRunRe, "<NUM>")

  /** Total redactions a [[scrubPii]] pass performs on the column. */
  def piiRedactionCount(c: Column): Column =
    regexp_count(c, lit(piiAnyRe)).cast("long")

  def piiScrub(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "events").select(
      col("event_id"),
      scrubPii(col("props")).as("scrubbed_props"),
      piiRedactionCount(col("props")).as("n_redactions"))
      .orderBy("event_id")

  val piiScrubSql: String =
    s"""SELECT event_id,
       |  regexp_replace(regexp_replace(regexp_replace(props,
       |    '$EmailRe', '<EMAIL>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g'),
       |    '$DigitRunRe', '<NUM>', 'g') AS scrubbed_props,
       |  len(regexp_extract_all(props, '$EmailRe|$PhoneRe|$DigitRunRe'))::BIGINT AS n_redactions
       |FROM events ORDER BY event_id""".stripMargin

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")

  /** TF-IDF top-3 terms per document. tf = in-doc count / doc length;
    * idf = ln(N / df) over the corpus. df is a tiny aggregate (≤ |vocab|
    * rows) broadcast back onto the per-doc counts, so the whole query is
    * ONE shuffle on (doc_id, term) plus the WindowGroupLimit top-k — at
    * 100 TB the only large exchange is the term-count one, and the rank
    * prunes per-partition before the final shuffle. Ties break on the
    * term string; exact ties have bit-identical tfidf on both engines
    * (same integer inputs), so the rank order is deterministic.
    */
  def tfIdfTopTerms(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs(s, dir)
      .select(col("doc_id"), TextOps.tokens.as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tok"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"), first(col("n_tok")).as("n_tok"))
    // corpus size as a broadcast 1-row frame, not a driver-side count():
    // the query stays one lazy plan, no eager job at construction
    val nDocs = docs(s, dir).agg(count(lit(1)).cast("double").as("n_docs"))
    // document frequency as a WINDOW over tf, not a second aggregate
    // joined back: tf is unique on (doc_id, term), so count(*) over the
    // term partition IS df — and the corpus is scanned + tokenized ONCE
    // (a tf.groupBy(term) branch would re-derive tf from its own scan:
    // column pruning specializes the two aggregates, defeating
    // ReuseExchange — measured 2 scans; this shape measures 2 total, the
    // tf scan plus the count-only nDocs scan). One extra term-keyed
    // exchange of the compact tf frame replaces the full re-tokenize —
    // the right trade at 100 TB where tokenization dominates.
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        (col("c").cast("double") / col("n_tok")) * log(col("n_docs") / col("df")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term").asc)))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("term"), round(col("tfidf"), 4).as("tfidf"),
        col("rank").cast("long").as("rank"))
      .orderBy("doc_id", "rank")
  }

  def tfIdfTopTermsSql(k: Int = 3): String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, count(*) AS c, any_value(n_tok) AS n_tok
       |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
       |          unnest(string_split(text, ' ')) AS term FROM documents)
       |  GROUP BY doc_id, term),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT doc_id, tf.term,
       |    (c * 1.0 / n_tok) * ln((SELECT n_docs FROM n) * 1.0 / df) AS tfidf
       |  FROM tf JOIN idf ON tf.term = idf.term),
       |ranked AS (
       |  SELECT doc_id, term, tfidf,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
       |  FROM scored)
       |SELECT doc_id, term, round(tfidf, 4) AS tfidf, rank::BIGINT AS rank
       |FROM ranked WHERE rank <= $k ORDER BY doc_id, rank""".stripMargin

  /** Vocabulary stats: top-20 tokens by document frequency with their
    * collection frequency — the inverted-index aggregate feeding stopword
    * lists and tokenizer audits. One shuffle on the token.
    */
  /** End-to-end corpus cleaning verdict — the single keep/drop-with-
    * reasons table a training pipeline publishes, composed from the
    * engine's own tiers (each already oracled on its own):
    *
    *  - `quality_ok`   — [[TextOps.qualityFilter]]'s integer-exact
    *                     composite (length / diversity / top-token /
    *                     dup-token);
    *  - `dedup_ok`     — [[DedupOps.dedupKeepDrop]]'s canonical election
    *                     (memoized cluster machinery — zero extra cost
    *                     here);
    *  - `decontam_ok`  — no 5-gram shared with the held-out slice
    *                     ([[TextOps.decontaminate]]);
    *  - `is_reference` — the doc IS the held-out slice (never trained on).
    *
    * `keep = quality_ok ∧ dedup_ok ∧ decontam_ok ∧ ¬is_reference`. All
    * joins key on doc_id; the component costs are the components' own —
    * this table adds three doc_id-keyed joins over frames that are linear
    * in the corpus.
    */
  def cleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val refs = DedupOps.CrossRefSources
    val q = TextOps.qualityFilter(s, dir)
      .select(col("doc_id"), col("keep").as("quality_ok"))
    val kd = DedupOps.dedupKeepDrop(s, dir)
      .select(col("doc_id"), col("keep").as("dedup_ok"))
    val contam = TextOps.decontaminate(s, dir)
      .select(col("doc_id"), col("n_shared_grams"))
    Tables.read(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(q, "doc_id").join(kd, "doc_id")
      .join(contam, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("source"), col("quality_ok"), col("dedup_ok"),
        (coalesce(col("n_shared_grams"), lit(0L)) === 0L).as("decontam_ok"),
        col("source").isin(refs: _*).as("is_reference"))
      .withColumn("keep",
        col("quality_ok") && col("dedup_ok") && col("decontam_ok") && !col("is_reference"))
      .orderBy("doc_id")
  }

  def cleanCorpusSql(): String = {
    val refList = DedupOps.CrossRefSources.map(x => s"'$x'").mkString(", ")
    s"""WITH q AS (${TextOps.qualityFilterSql}),
       |kd AS (${DedupOps.dedupKeepDropSql()}),
       |contam AS (${TextOps.decontaminateSql})
       |SELECT d.doc_id, d.source, q.keep AS quality_ok, kd.keep AS dedup_ok,
       |  coalesce(contam.n_shared_grams, 0) = 0 AS decontam_ok,
       |  d.source IN ($refList) AS is_reference,
       |  q.keep AND kd.keep AND coalesce(contam.n_shared_grams, 0) = 0
       |    AND d.source NOT IN ($refList) AS keep
       |FROM documents d
       |JOIN q ON q.doc_id = d.doc_id
       |JOIN kd ON kd.doc_id = d.doc_id
       |LEFT JOIN contam ON contam.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** BM25 top-k retrieval (Robertson et al.; the Lucene `1 +` idf variant
    * so idf stays positive at any df): score every document against a
    * fixed query and return the k best. The corpus side is the same
    * single-tokenize tf shape as [[tfIdfTopTerms]], filtered to the query
    * terms BEFORE the aggregate — the per-term exchange carries only
    * matching (doc_id, term) pairs, so at 100 TB the shuffle is
    * `matches × 16 bytes`, not the corpus. df/avgdl/N ride along as
    * window + broadcast scalars. Ranking uses the ROUNDED score (then
    * doc_id) so float summation-order drift can never reorder the two
    * engines' ties.
    */
  val Bm25Query = "spark join window"

  def bm25TopK(
      s: SparkSession, dir: String, query: String = Bm25Query, k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = query.split(" ").distinct.toSeq
    val stats = docs(s, dir).agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(size(TextOps.tokens)).as("avgdl"))
    val tf = docs(s, dir)
      .select(col("doc_id"), TextOps.tokens.as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))).cast("double"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 4).as("score"))
    // Distributed top-k: orderBy+limit plans as TakeOrderedAndProject —
    // each partition keeps its local k best, the driver merges k·p rows —
    // so no partition ever holds every matching doc. The rank window runs
    // AFTER the limit over k rows already in a single partition
    // (SinglePartition satisfies the window's AllTuples requirement, so
    // no exchange is added); the rounded-score + doc_id tiebreak keeps
    // the result hash-identical to a global ranking.
    scored
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .select(col("rank"), col("doc_id"), col("score"))
      .orderBy("rank")
  }

  def bm25TopKSql(
      query: String = Bm25Query, k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val termList = query.split(" ").distinct.map(t => s"'$t'").mkString(", ")
    s"""WITH stats AS (
       |  SELECT count(*)::DOUBLE AS n_docs,
       |    avg(len(string_split(text, ' '))) AS avgdl FROM documents),
       |tf AS (
       |  SELECT doc_id, term, count(*)::DOUBLE AS tf, any_value(dl) AS dl
       |  FROM (SELECT doc_id, len(string_split(text, ' '))::DOUBLE AS dl,
       |          unnest(string_split(text, ' ')) AS term FROM documents)
       |  WHERE term IN ($termList)
       |  GROUP BY doc_id, term),
       |idf AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT doc_id,
       |    round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
       |      (tf * ($k1 + 1)) / (tf + $k1 * (1 - $b + $b * dl / avgdl))), 4) AS score
       |  FROM tf JOIN idf USING (term), stats
       |  GROUP BY doc_id),
       |ranked AS (
       |  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
       |    doc_id, score
       |  FROM scored)
       |SELECT rank, doc_id, score FROM ranked WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  def vocabTopK(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokens.as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy(col("token"))
      .agg(
        countDistinct(col("doc_id")).as("doc_freq"),
        count(lit(1)).as("coll_freq"))
      .orderBy(col("doc_freq").desc, col("coll_freq").desc, col("token"))
      .limit(k)

  def vocabTopKSql(k: Int = 20): String =
    s"""SELECT token, count(DISTINCT doc_id) AS doc_freq, count(*)::BIGINT AS coll_freq
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
       |GROUP BY token
       |ORDER BY doc_freq DESC, coll_freq DESC, token LIMIT $k""".stripMargin

  // ---- count–min sketch frequent items -----------------------------------

  /** Count–min sketch geometry: d deterministic hash rows × w buckets.
    * Sketch size is d·w counters REGARDLESS of corpus size — the mergeable
    * 100 TB vocabulary path next to [[vocabTopK]]'s exact shuffle, the same
    * exact-vs-sketch pairing as [[approxPercentiles]].
    */
  val CmsRows = 4
  val CmsWidth = 1024

  /** Frequent items via a count–min sketch, CHECKED against the exact
    * counts: the sketch is the (r, bucket) → count table built in ONE
    * aggregate over the token stream (map-side partial aggregation IS the
    * sketch merge — each partition's partial sketch is ≤ d·w counters, so
    * the shuffle carries bounded state at any corpus size). The top-k
    * exact tokens then probe the sketch: estimate = min over rows of the
    * token's bucket counter.
    *
    * Oracled shape (like [[approxPercentiles]]): exact coll_freq plus
    * `within_bound` = (est ≥ exact) ∧ (est ≤ exact + ⌈e/w · N⌉) — the CM
    * guarantees (estimate never undercounts; overcount ≤ εN with ε = e/w
    * at probability 1 − e^(−d) per Markov). Deterministic hashes make the
    * observed error reproducible, so the oracle asserts `true` and a
    * sketch drifting out of contract fails the hash compare per run.
    */
  def freqItems(s: SparkSession, dir: String, k: Int = 15): DataFrame = {
    val toks = Tables.read(s, dir, "documents")
      .select(explode(TextOps.tokens).as("token"))
    // d (r, bucket) probes per token, map-side; one shuffle on (r, bucket).
    // The probe hash is INTERNAL-ONLY (the oracle checks the CMS bound,
    // never the hash), so xxhash64 — codegen'd, no md5 — is the right
    // family here, seeded per sketch row; same argument as the n-gram
    // Jaccard join key.
    val rowCols = (0 until CmsRows).map { r =>
      struct(lit(r).as("r"),
        pmod(xxhash64(lit(r), col("token")), lit(CmsWidth.toLong)).as("bucket"))
    }
    val sketch = toks
      .select(explode(array(rowCols: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    // row 0 of the sketch partitions ALL tokens across its buckets, so the
    // token total is a fold over the sketch — no third corpus scan
    val total = sketch.where(col("r") === 0).agg(sum(col("cnt")).as("n_total"))
    val top = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("coll_freq"))
      .orderBy(col("coll_freq").desc, col("token"))
      .limit(k)
    val probes = top.select(
      col("token"), col("coll_freq"),
      explode(array(rowCols: _*)).as("rb"))
      .select(col("token"), col("coll_freq"),
        col("rb.r").as("pr"), col("rb.bucket").as("pbucket"))
    probes
      .join(sketch, col("pr") === col("r") && col("pbucket") === col("bucket"))
      .groupBy(col("token"), col("coll_freq"))
      .agg(min(col("cnt")).as("cms_est"))
      .crossJoin(broadcast(total))
      .select(
        col("token"), col("coll_freq"),
        (col("cms_est") >= col("coll_freq") &&
          col("cms_est") <= col("coll_freq") +
            ceil(lit(math.E / CmsWidth) * col("n_total")).cast("long"))
          .as("within_bound"))
      .orderBy(col("coll_freq").desc, col("token"))
  }

  def freqItemsSql(k: Int = 15): String =
    s"""SELECT token, count(*)::BIGINT AS coll_freq, true AS within_bound
       |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       |GROUP BY token
       |ORDER BY coll_freq DESC, token LIMIT $k""".stripMargin

  // ---- token-budget corpus selection (global prefix sum) -----------------

  /** Greedy token-budget selection: order the corpus by a quality score
    * (unique-token ratio, best first) and keep the maximal prefix whose
    * cumulative token count fits the budget — "give me the best B tokens",
    * the final assembly step after filtering/dedup (the reference's
    * capped-batch discipline, `schedule-jobs/scheduler/tasks.py:28`, at
    * corpus grain).
    *
    * The interesting part is the GLOBAL running sum without a global sort
    * on one partition. TeraSort shape: `repartitionByRange` on the
    * selection key gives totally-ordered partitions; per-partition token
    * subtotals (one tiny row per partition) prefix-sum on the driver and
    * broadcast back as offsets; the running sum inside each partition is
    * an ordinary partitioned window. cum(doc) = partition offset + local
    * running sum — exact, and every stage is parallel: the only
    * SinglePartition construct anywhere is the ≤ numPartitions-row
    * offsets frame. The stats frame carries (doc_id, n_tok, score) only —
    * text never shuffles; `localCheckpoint` pins the range boundaries so
    * the subtotal pass and the window pass see identical partitions.
    */
  def tokenBudgetSelect(s: SparkSession, dir: String, budget: Long = 18000L): DataFrame =
    tokenBudgetSelectOf(s, docs(s, dir), budget)

  /** PER-SESSION FIFOs of the most recent ranged checkpoints (bounded =
    * no session-lifetime block accumulation). Depth 2, not 1: a caller
    * that still holds the PREVIOUS invocation's lazy frame
    * (hold-one-build-next, an A/B compare, a concurrent spec) must not
    * lose its checkpoint blocks the moment a new invocation starts —
    * localCheckpoint lineage cannot be recomputed. Keyed by session so a
    * concurrent tenant's invocations can never evict THIS session's
    * still-held checkpoint (a global FIFO let any third invocation
    * anywhere unpersist a frame a slow consumer still held). Contract
    * per session: a returned frame must be consumed before two further
    * invocations on the SAME session.
    */
  /** Per-session entry: the checkpoint FIFO, the last-touch nanotime, and
    * the count of invocations currently EXECUTING over this session's
    * checkpoints. Every access is inside the [[rangedCheckpoints]]
    * monitor — plain structures on purpose: concurrent collections here
    * would invite a future accessor to skip the monitor and reintroduce
    * the check-then-act races it exists to close. */
  private final class SessionCheckpoints {
    val queue = scala.collection.mutable.Queue.empty[DataFrame]
    var lastUsedNanos: Long = System.nanoTime()
    var inFlight: Int = 0
  }

  private val rangedCheckpoints =
    scala.collection.mutable.Map.empty[SparkSession, SessionCheckpoints]

  /** A tracked session is evictable only after this much inactivity —
    * never merely because the map is full: an arbitrary same-moment
    * eviction could unpersist a checkpoint a CONCURRENT tenant is
    * mid-query on (the cross-tenant failure the per-session keying
    * exists to prevent). A session idle this long with an unconsumed
    * checkpoint has already violated the consume-before-two-more-calls
    * contract. */
  private val SessionIdleEvictMs = 10L * 60 * 1000

  /** Frame-based core of [[tokenBudgetSelect]] — exposed for
    * [[graft.ScaleProbe]]'s growth measurement over synthetic corpora.
    */
  private[graft] def tokenBudgetSelectOf(
      s: SparkSession, d: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = d.select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_uniq"))
      .withColumn("score", col("n_uniq").cast("double") / col("n_tok"))
      .drop("n_uniq")
    val ranged = stats
      .repartitionByRange(col("score").desc, col("doc_id").asc)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    // Bounded retention (see rangedCheckpoints): pin this call's
    // checkpoint, release the oldest beyond depth 2 — within THIS
    // session's queue only. The MAP is bounded by INACTIVITY (only
    // sessions idle past SessionIdleEvictMs drain — never an arbitrary
    // size-triggered eviction) AND by an in-flight count: an invocation
    // still executing over its checkpoint marks the session
    // UNEVICTABLE no matter how long its query runs, so a >10 min
    // single collect can't lose its blocks to a tenant's sweep.
    // Registration and eviction share ONE monitor (plain structures on
    // purpose — see SessionCheckpoints); the critical sections are
    // driver-side bookkeeping only, no Spark job runs inside them.
    val entry = rangedCheckpoints.synchronized {
      val now = System.nanoTime()
      val e = rangedCheckpoints.getOrElseUpdate(s, new SessionCheckpoints)
      e.lastUsedNanos = now
      e.inFlight += 1
      e.queue.enqueue(ranged)
      while (e.queue.size > 2)
        org.apache.spark.sql.graftbridge.Bridge
          .unpersistLocalCheckpoint(e.queue.dequeue())
      val idleCutoff = now - SessionIdleEvictMs * 1000000L
      rangedCheckpoints.filterInPlace { (k, v) =>
        val keep = (k eq s) || v.inFlight > 0 || v.lastUsedNanos >= idleCutoff
        if (!keep) v.queue.foreach(
          org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint)
        keep
      }
      e
    }
    try {
      // bounded metadata collect: one row per shuffle partition
      var acc = 0L
      val offsets = ranged.groupBy(col("pid")).agg(sum(col("n_tok")).as("psum"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
        .map { case (pid, psum) => val off = (pid, acc); acc += psum; off }
      val offDf = s.createDataFrame(offsets.toSeq).toDF("pid", "off")
      val w = Window.partitionBy(col("pid"))
        .orderBy(col("score").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ranged.join(broadcast(offDf), "pid")
        .withColumn("cum_tokens", col("off") + sum(col("n_tok")).over(w))
        .where(col("cum_tokens") <= budget)
        .select(col("doc_id"), col("n_tok"),
          round(col("score"), 6).as("quality"), col("cum_tokens"))
        .orderBy("cum_tokens")
    } finally rangedCheckpoints.synchronized {
      entry.inFlight -= 1
      entry.lastUsedNanos = System.nanoTime()
    }
  }

  def tokenBudgetSelectSql(budget: Long = 18000L): String =
    s"""WITH s AS (
       |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok,
       |    len(list_distinct(string_split(text, ' ')))::BIGINT AS n_uniq
       |  FROM documents),
       |k AS (SELECT doc_id, n_tok, n_uniq::DOUBLE / n_tok AS score FROM s),
       |c AS (
       |  SELECT doc_id, n_tok, score,
       |    (sum(n_tok) OVER (ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_tokens
       |  FROM k)
       |SELECT doc_id, n_tok, round(score, 6) AS quality, cum_tokens
       |FROM c WHERE cum_tokens <= $budget ORDER BY cum_tokens""".stripMargin

  // ---- temperature-reweighted mixture quotas ------------------------------

  /** Temperature sampling over sources (mC4/multilingual discipline): the
    * per-source sampling weight is share^α (α < 1 flattens the head,
    * upsamples the tail), and the doc budget is apportioned over those
    * weights with the same largest-remainder rule as [[apportion]] —
    * except here the mixture comes from the DATA (per-source counts), so
    * the whole computation stays declarative instead of inlining
    * driver-computed quotas.
    *
    * Scale shape: one hash aggregate over the corpus (per-source counts);
    * every frame after it is ≤ |sources| rows, so the scalar-agg
    * cross-joins and the global rank window are bounded by the source
    * vocabulary, not the corpus. Float parity: weights round to 12dp and
    * remainders to 9dp (tie-break only — floor sees the raw quota, so
    * sum(quota) == budget holds exactly), absorbing summation-order
    * drift between engines.
    */
  def mixtureTemperature(s: SparkSession, dir: String,
      budget: Int = 1000, alpha: Double = 0.5): DataFrame =
    mixtureTemperatureOf(s, docs(s, dir), budget, alpha)

  /** Frame-based core of [[mixtureTemperature]] — exposed so specs can
    * drive adversarial source distributions at the budget-exactness
    * contract (sum(quota) == budget for ANY positive counts).
    */
  private[graft] def mixtureTemperatureOf(s: SparkSession, d: DataFrame,
      budget: Int, alpha: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = cnt.agg(sum(col("n_docs")).as("n_total"))
    val wtd = cnt.crossJoin(broadcast(tot))
      .withColumn("share", col("n_docs").cast("double") / col("n_total"))
      .withColumn("wt", round(pow(col("share"), lit(alpha)), 12))
    val wsum = wtd.agg(sum(col("wt")).as("wt_sum"))
    // floor/remainder work on the UNROUNDED exact quota: rounding exact_q
    // first can round a k-5e-10 up to k, making sum(floor) exceed the
    // budget and n_left negative. Only the remainder is rounded (9dp, for
    // cross-engine tie-break parity), and n_left clamps at 0 against the
    // residual fp case where sum(share)≈1 drift still overshoots.
    val exact = wtd.crossJoin(broadcast(wsum))
      .withColumn("exact_q", lit(budget.toDouble) * col("wt") / col("wt_sum"))
      .withColumn("fl", floor(col("exact_q")))
      .withColumn("rem", round(col("exact_q") - col("fl"), 9))
    val left = exact.agg(
      greatest(lit(0L), lit(budget.toLong) - sum(col("fl"))).as("n_left"))
    val wOrd = Window.orderBy(col("rem").desc, col("source"))
    exact.crossJoin(broadcast(left))
      .withColumn("rk", row_number().over(wOrd).cast("long"))
      .withColumn("quota", col("fl") + when(col("rk") <= col("n_left"), 1L).otherwise(0L))
      .select(col("source"), col("n_docs"),
        round(col("share"), 6).as("share"), col("quota"))
      .orderBy("source")
  }

  def mixtureTemperatureSql(budget: Int = 1000, alpha: Double = 0.5): String =
    s"""WITH cnt AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source),
       |tot AS (SELECT sum(n_docs)::BIGINT AS n_total FROM cnt),
       |wtd AS (
       |  SELECT source, n_docs, n_docs::DOUBLE / n_total AS share,
       |    round(pow(n_docs::DOUBLE / n_total, $alpha), 12) AS wt
       |  FROM cnt, tot),
       |ws AS (SELECT sum(wt) AS wt_sum FROM wtd),
       |e AS (
       |  SELECT source, n_docs, share,
       |    $budget * wt / wt_sum AS exact_q
       |  FROM wtd, ws),
       |f AS (SELECT *, floor(exact_q)::BIGINT AS fl,
       |    round(exact_q - floor(exact_q), 9) AS rem FROM e),
       |lft AS (SELECT greatest(0, $budget - sum(fl))::BIGINT AS n_left FROM f),
       |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM f)
       |SELECT source, n_docs, round(share, 6) AS share,
       |  (fl + CASE WHEN rk <= n_left THEN 1 ELSE 0 END)::BIGINT AS quota
       |FROM r, lft ORDER BY source""".stripMargin

  // ---- DSIR importance weights -------------------------------------------

  /** Hashed-feature bucket count for DSIR. Small here because the corpus
    * vocabulary is small; at web scale the paper uses 10⁴ — the op's cost
    * is independent of B except for the B-row broadcast. */
  val DsirBuckets = 128

  /** Unigram + bigram feature stream of a (doc_id, lang, text) frame:
    * (doc_id, lang, b) with b = hash60(feature) mod [[DsirBuckets]].
    * Features keep their multiplicity (DSIR scores term FREQUENCIES, so no
    * array_distinct, unlike the dedup shingles). Bigrams pair each token
    * with its successor via zip_with against the tail slice; the null pad
    * on the last position is filtered on both engines (a 1-token document
    * contributes its unigram only).
    */
  /** Feature array of a materialized `toks` column: unigrams ++ successor
    * bigrams (zip against the tail slice; the null pad on the last
    * position is filtered, so a 1-token doc contributes its unigram only).
    */
  private def dsirFeatureArray: Column = {
    val bigrams = filter(
      zip_with(
        col("toks"),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(1))),
        (a, b) => concat(a, lit(" "), b)),
      x => x.isNotNull)
    concat(col("toks"), bigrams)
  }

  private[graft] def dsirFeatures(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"), TextOps.tokens.as("toks"))
      .select(col("doc_id"), col("lang"), explode(dsirFeatureArray).as("f"))
      .select(col("doc_id"), col("lang"),
        pmod(hash60(col("f")), lit(DsirBuckets.toLong)).as("b"))

  /** Data Selection via Importance Resampling (DSIR — Xie et al. 2023,
    * arXiv:2302.03169): score every document by how much more likely its
    * hashed n-gram features are under a TARGET distribution than under the
    * raw corpus distribution. Feature space = word unigrams + bigrams
    * hashed into [[DsirBuckets]] buckets; both distributions are bucket
    * multinomials with add-one smoothing; a document's weight is its
    * log-likelihood ratio Σ_f (ln p_tgt[b(f)] − ln p_raw[b(f)]). Target
    * here = the English slice (lang = 'en'), the corpus's own metadata
    * standing in for the paper's high-quality target set. The weights
    * compose with the samplers above ([[weightedSample]] /
    * [[tokenBudgetSelect]]) to realize the resampling step.
    *
    * Scale shape: feature extraction is map-side; each bucket histogram is
    * one partial+final aggregate over the exploded features (B-row
    * output); the per-bucket log-ratio table is B rows BROADCAST back;
    * the per-doc sum shuffles map-side-combined (doc_id, partial) pairs.
    * Selection weights for 100 TB cost two feature scans plus a doc-keyed
    * aggregate — nothing materialized grows past B rows.
    *
    * Determinism: the log-ratio is rounded to 6dp at the BUCKET level so
    * both engines sum identical summands; the per-doc sum then lies ON
    * the 1e-6 decimal grid (±1e-12 association drift), so rounding it at
    * the SAME 6dp grain is boundary-safe — the nearest rounding boundary
    * is 5e-7 away. (Rounding coarser, e.g. 4dp, is NOT safe: a sum of
    * 1e-6-grid values can land exactly on a 5e-5 half-boundary, where the
    * two engines' ±1e-12 drift flips the digit — observed on 1/500 docs.)
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    dsirWeightsOf(docs(s, dir), Some(dsirTable(s, dir)))

  /** The trained half of DSIR: the B-row (b, logr) bucket table — the
    * artifact a scorer ships. Train once on the reference corpus, apply
    * map-side anywhere (batch below, [[graft.streaming.StreamingSampler
    * .dsirScoreStream]] over a live ingest).
    */
  private[graft] def dsirLogRatioOf(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    val B = DsirBuckets
    // ONE corpus scan: both histograms fold in a single conditional
    // aggregate, and the totals are sums OVER the B-row histogram — the
    // training pass never touches the corpus twice
    val hist = dsirFeatures(d)
      .groupBy(col("b"))
      .agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tc"),
        count(lit(1)).as("sc"))
    val totals = hist.agg(sum(col("tc")).as("tt"), sum(col("sc")).as("st"))
    s.range(B).select(col("id").as("b"))
      .join(hist, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        round(
          log((coalesce(col("tc"), lit(0L)) + 1).cast("double") /
            (col("tt") + B).cast("double")) -
          log((coalesce(col("sc"), lit(0L)) + 1).cast("double") /
            (col("st") + B).cast("double")), 6).as("logr"))
  }

  /** The collected trained table: logr indexed by bucket. B doubles —
    * the bounded-artifact pattern the streaming scorer and centroid
    * assigner use. */
  private[graft] def dsirTableOf(d: DataFrame): Array[Double] =
    dsirTableFrom(dsirLogRatioOf(d))

  private def dsirTableFrom(logRatio: DataFrame): Array[Double] = {
    val lr = new Array[Double](DsirBuckets)
    logRatio.collect()
      .foreach(r => lr(r.getAs[Long]("b").toInt) = r.getAs[Double]("logr"))
    lr
  }

  /** Session-memoized + durable trained table for a corpus directory:
    * the training scan runs once per corpus version; later sessions load
    * the B-row parquet artifact instead of rescanning. */
  private val dsirTableCache =
    IndexMemo.cache[(SparkSession, String), Array[Double]]()

  private[graft] def dsirTable(s: SparkSession, dir: String): Array[Double] =
    IndexMemo(dsirTableCache, (s, dir)) {
      val name = graft.ops.IndexStore.scopedName("dsir-logratio", dir)
      val df = graft.ops.IndexStore.loadOrBuild(s, name,
        s"${Tables.fileIdent(s, dir, "documents")}|B=$DsirBuckets|tgt=en")(
        dsirLogRatioOf(docs(s, dir)))
      dsirTableFrom(df)
    }

  private[graft] def dsirWeightsOf(
      d: DataFrame, table: Option[Array[Double]] = None): DataFrame = {
    // SCORING, one compiled pass per document (round-18): every feature
    // of a document comes from its own row, so the retired
    // explode → element_at → per-doc sum pipeline (kept below as
    // [[dsirWeightsComposedOf]], the spec's parity reference) paid a
    // generate + a (doc, lang) exchange for a map-side quantity.
    // [[graft.functions.DsirRowExpr]] folds (n_features, Σ logr) in
    // feature order — bit-identical to the partial-aggregate fold, since
    // each doc's exploded features sat in one partition in that order —
    // and the only remaining exchange is the final sort.
    val lr = table.getOrElse(dsirTableOf(d))
    d.select(col("doc_id"), col("lang"), TextOps.tokens.as("toks"))
      .select(col("doc_id"), col("lang"), graft.functions.DsirRowExpressions
        .dsir_row(col("toks"), lr).as("st"))
      .select(col("doc_id"), col("lang"),
        col("st.n_features").as("n_features"),
        round(col("st.lw"), 6).as("dsir_logw"),
        round(col("st.lw") / col("st.n_features"), 6).as("dsir_logw_mean"))
      .orderBy("doc_id")
  }

  /** The retired explode/aggregate scoring pass — the parity reference
    * [[dsirWeightsOf]]'s native fold is pinned against. */
  private[graft] def dsirWeightsComposedOf(
      d: DataFrame, table: Option[Array[Double]] = None): DataFrame = {
    val lrArr = typedLit(table.getOrElse(dsirTableOf(d)).toSeq)
    dsirFeatures(d)
      .select(col("doc_id"), col("lang"),
        element_at(lrArr, (col("b") + 1).cast("int")).as("logr"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_features"), sum(col("logr")).as("lw"))
      .select(col("doc_id"), col("lang"), col("n_features"),
        round(col("lw"), 6).as("dsir_logw"),
        round(col("lw") / col("n_features"), 6).as("dsir_logw_mean"))
      .orderBy("doc_id")
  }

  def dsirWeightsSql: String = {
    val B = DsirBuckets
    val h = TextOps.hash60Sql("f")
    s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       |feats AS (
       |  SELECT doc_id, lang, ($h) % $B AS b
       |  FROM (
       |    SELECT doc_id, lang,
       |      unnest(list_concat(toks,
       |        list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))) AS f
       |    FROM t)),
       |tot AS (
       |  SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS tt,
       |         count(*)::BIGINT AS st
       |  FROM feats),
       |tc AS (SELECT b, count(*)::BIGINT AS tc FROM feats WHERE lang = 'en' GROUP BY b),
       |sc AS (SELECT b, count(*)::BIGINT AS sc FROM feats GROUP BY b),
       |lr AS (
       |  SELECT r.b,
       |    round(ln((coalesce(tc.tc, 0) + 1) * 1.0 / (tot.tt + $B)) -
       |          ln((coalesce(sc.sc, 0) + 1) * 1.0 / (tot.st + $B)), 6) AS logr
       |  FROM (SELECT unnest(range($B)) AS b) r
       |  LEFT JOIN tc ON r.b = tc.b
       |  LEFT JOIN sc ON r.b = sc.b, tot)
       |SELECT f.doc_id, f.lang, count(*)::BIGINT AS n_features,
       |  round(sum(l.logr), 6) AS dsir_logw,
       |  round(sum(l.logr) / count(*), 6) AS dsir_logw_mean
       |FROM feats f JOIN lr l ON f.b = l.b
       |GROUP BY f.doc_id, f.lang
       |ORDER BY f.doc_id""".stripMargin
  }

  // ---- per-source distribution drift -------------------------------------

  /** Distribution-drift monitor: KL divergence of each source's hashed
    * unigram distribution against the whole corpus — the data-ops check
    * that flags an ingest source whose content distribution shifted (a
    * scraper gone wrong, a feed swapped mid-stream) BEFORE it pollutes a
    * training mix. Both distributions are [[DsirBuckets]]-bucket
    * multinomials with add-one smoothing (zero-count buckets contribute
    * their smoothed mass, so KL is finite and every source sums over the
    * same B buckets).
    *
    * Scale shape: one token scan into a (source, bucket) count aggregate
    * (map-side partials, ≤ |sources|·B rows out); everything after is
    * arithmetic over that bounded frame — corpus histogram as a bucket
    * re-aggregate, the sources × B spine as a crossJoin of two bounded
    * sides, one broadcast join each for counts and totals. A 100 TB drift
    * report costs one scan.
    *
    * Determinism: each bucket's KL term is rounded to 6dp, so the
    * per-source sum of B terms lies on the 1e-6 grid and rounding it at
    * the SAME grain is boundary-safe (the dsir lesson).
    */
  def sourceDrift(s: SparkSession, dir: String): DataFrame =
    sourceDriftOf(docs(s, dir))

  /** The KL arithmetic references the bucket-count frame FOUR times
    * (source totals, corpus histogram, corpus total, and the spine join),
    * and the pushed-down null filters differ per consumer, so neither
    * exchange reuse nor AQE stage reuse unified them — the full corpus
    * tokenize+explode+aggregate pipeline ran four times per execution
    * (4 documents scans in the round-19 before-plan). localCheckpoint
    * materializes the BOUNDED counts (≤ sources × [[DsirBuckets]] rows)
    * once per call — still recomputed from parquet on every call — and
    * every consumer reads the checkpoint (guide §3.3). The streaming
    * monitor is untouched: its store already holds these counts
    * materialized.
    *
    * Eager: building the frame runs the bucket-count job at once, through
    * an eager `localCheckpoint`, before any action on the result.
    */
  private[graft] def sourceDriftOf(d: DataFrame): DataFrame =
    klFromSourceBucketCounts(sourceBucketCountsOf(d).localCheckpoint())

  /** (source, b, c) hashed-unigram bucket counts — the counting half
    * shared verbatim with the streaming drift store, so streamed == batch
    * holds by construction on BOTH halves of the op. */
  private[graft] def sourceBucketCountsOf(d: DataFrame): DataFrame =
    d.select(col("source"), explode(TextOps.tokens).as("tok"))
      .select(col("source"),
        pmod(hash60(col("tok")), lit(DsirBuckets.toLong)).as("b"))
      .groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("c"))

  /** The KL arithmetic over a (source, b, c) bucket-count frame — shared
    * by the batch op above and the incremental monitor
    * ([[graft.streaming.StreamingDrift]]), whose mergeable store holds
    * exactly these counts: streamed == batch because the math is this
    * one function either way.
    */
  private[graft] def klFromSourceBucketCounts(srcCnt: DataFrame): DataFrame = {
    val s = srcCnt.sparkSession
    val B = DsirBuckets
    val srcTot = srcCnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val corpusCnt = srcCnt.groupBy(col("b")).agg(sum(col("c")).as("cc"))
    val corpusTot = corpusCnt.agg(sum(col("cc")).as("nn"))
    val spine = srcTot.select(col("source"), col("n"))
      .crossJoin(s.range(B).select(col("id").as("b")))
    spine
      .join(srcCnt, Seq("source", "b"), "left")
      .join(broadcast(corpusCnt), Seq("b"), "left")
      .crossJoin(broadcast(corpusTot))
      .select(col("source"), col("n"),
        ((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("n") + B).cast("double")).as("p"),
        ((coalesce(col("cc"), lit(0L)) + 1).cast("double") /
          (col("nn") + B).cast("double")).as("q"))
      .select(col("source"), col("n"),
        round(col("p") * log(col("p") / col("q")), 6).as("term"))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_tokens"), round(sum(col("term")), 6).as("kl_nats"))
      .orderBy("source")
  }

  def sourceDriftSql: String = {
    val B = DsirBuckets
    val h = TextOps.hash60Sql("tok")
    s"""WITH toks AS (
       |  SELECT source, ($h) % $B AS b
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)),
       |sc AS (SELECT source, b, count(*)::BIGINT AS c FROM toks GROUP BY source, b),
       |st AS (SELECT source, sum(c)::BIGINT AS n FROM sc GROUP BY source),
       |cc AS (SELECT b, sum(c)::BIGINT AS cc FROM sc GROUP BY b),
       |ct AS (SELECT sum(cc)::BIGINT AS nn FROM cc),
       |spine AS (
       |  SELECT st.source, st.n, r.b
       |  FROM st, (SELECT unnest(range($B)) AS b) r),
       |terms AS (
       |  SELECT sp.source, sp.n,
       |    round(
       |      ((coalesce(sc.c, 0) + 1) * 1.0 / (sp.n + $B)) *
       |      ln(((coalesce(sc.c, 0) + 1) * 1.0 / (sp.n + $B)) /
       |         ((coalesce(cc.cc, 0) + 1) * 1.0 / (ct.nn + $B))), 6) AS term
       |  FROM spine sp
       |  LEFT JOIN sc ON sp.source = sc.source AND sp.b = sc.b
       |  LEFT JOIN cc ON sp.b = cc.b, ct)
       |SELECT source, max(n)::BIGINT AS n_tokens,
       |  round(sum(term), 6) AS kl_nats
       |FROM terms GROUP BY source ORDER BY source""".stripMargin
  }
}
