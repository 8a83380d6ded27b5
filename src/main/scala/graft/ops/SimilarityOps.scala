package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{
  ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

import graft.sources.Tables
import TextOps.hash60Sql

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Numeric-parity rules for the DuckDB oracle: vectors are cast to double
  * up front; dot products and norms are LEFT-FOLD sums over the 64 elements
  * in index order on both engines (Spark `aggregate`, DuckDB `list_sum` of a
  * `list_transform`), so scores are bit-identical — ranking never diverges.
  *
  * Scale design: the query side is always the broadcast side; candidates
  * stream map-side. Brute force is the correctness baseline (n·q work);
  * the sign-LSH variant buckets candidates so each query only scores its
  * own bucket — the 100 TB path where q·n/2^p replaces q·n.
  */
object SimilarityOps {

  val Dim = 64

  /** The corpus with `embedding` widened to `array<double>`: an
    * element-wise cast, so null arrays and null elements stay null and the
    * projection stays inside the scan's codegen stage (a lambda form would
    * not). */
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")
      .select(
        col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("vec"))

  private val embSql =
    "SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings"

  /** Left-fold dot product of two equal-length double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, $Dim + 1), i -> $a[i] * $b[i]))"

  /** Native codegen'd single-pass cosine (see
    * [[graft.functions.CosineSimilarity]]); bit-identical to the composed
    * higher-order form (`VectorExpressionSpec.cosineComposed`, the specs'
    * parity reference) by construction.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine_sim(a, b)

  def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  // ---- brute-force cosine top-k ------------------------------------------

  val TopK = 5
  val NQueries = 8

  /** Baseline ANN: broadcast the query set, score every candidate, keep
    * top-k per query via a ranked window (WindowGroupLimit keeps only k per
    * partition before the shuffle).
    */
  def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("q_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("vec"), col("q_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= TopK)
      .select(
        col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  val annBruteForceSql: String =
    s"""WITH e AS ($embSql),
       |q AS (SELECT vec_id AS query_id, vec AS q_vec FROM e WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |    ${cosineSql("vec", "q_vec")} AS cos
       |  FROM e, q WHERE e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
       |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  // ---- hybrid retrieval (RRF fusion) -------------------------------------

  /** Hybrid lexical+vector retrieval via reciprocal-rank fusion
    * (Cormack/Clarke/Büttcher, SIGIR'09): the BM25 top-k for the standing
    * text query ([[CorpusOps.bm25TopK]]) and the cosine top-k for a query
    * vector are fused per candidate as Σ 1/(rrfK + rank), the standard
    * score-free combiner hybrid search engines use (ranks only — no score
    * normalization across incomparable scales). A document missing from
    * one list simply contributes nothing for it.
    *
    * Scale: both halves are already distributed top-ks
    * (TakeOrderedAndProject — each partition keeps k, driver merges k·p);
    * the fusion joins two k-row lists — driver-trivial at any corpus
    * size. Cosines are rounded to 6dp BEFORE ranking so both engines
    * rank identical values (doc_id breaks ties).
    */
  def hybridRetrieval(
      s: SparkSession, dir: String, queryVecId: Long = 0L,
      k: Int = 20, rrfK: Int = 60): DataFrame = {
    val lex = CorpusOps.bm25TopK(s, dir, k = k)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val e = emb(s, dir)
    val qv = e.where(col("vec_id") === queryVecId)
      .select(col("vec").as("q_vec"))
    val wv = Window.orderBy(col("cos").desc, col("vec_id"))
    val vec = e.where(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(qv))
      .withColumn("cos", round(cosine(col("vec"), col("q_vec")), 6))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
      .withColumn("vec_rank", row_number().over(wv).cast("long"))
      .select(col("vec_id").as("doc_id"), col("vec_rank"))
    val wf = Window.orderBy(col("rrf").desc, col("doc_id"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (col("lex_rank") + rrfK), lit(0.0)) +
          coalesce(lit(1.0) / (col("vec_rank") + rrfK), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id")).limit(k)
      .select(
        row_number().over(wf).cast("long").as("rank"),
        col("doc_id"), col("rrf"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      .orderBy("rank")
  }

  def hybridRetrievalSql(
      queryVecId: Long = 0L, k: Int = 20, rrfK: Int = 60): String =
    s"""WITH e AS ($embSql),
       |lex AS (SELECT doc_id, rank AS lex_rank FROM (${CorpusOps.bm25TopKSql(k = k)})),
       |qv AS (SELECT vec AS q_vec FROM e WHERE vec_id = $queryVecId),
       |vs AS (
       |  SELECT vec_id, round(${cosineSql("vec", "q_vec")}, 6) AS cos
       |  FROM e, qv WHERE vec_id <> $queryVecId),
       |vr AS (
       |  SELECT * FROM (
       |    SELECT vec_id AS doc_id,
       |      row_number() OVER (ORDER BY cos DESC, vec_id) AS vec_rank
       |    FROM vs)
       |  WHERE vec_rank <= $k),
       |f AS (
       |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
       |    coalesce(l.lex_rank, 0)::BIGINT AS lex_rank,
       |    coalesce(v.vec_rank, 0)::BIGINT AS vec_rank,
       |    round(
       |      (CASE WHEN l.lex_rank IS NULL THEN 0.0 ELSE 1.0 / (l.lex_rank + $rrfK) END) +
       |      (CASE WHEN v.vec_rank IS NULL THEN 0.0 ELSE 1.0 / (v.vec_rank + $rrfK) END),
       |      6) AS rrf
       |  FROM lex l FULL OUTER JOIN vr v ON l.doc_id = v.doc_id)
       |SELECT * FROM (
       |  SELECT row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank,
       |    doc_id, rrf, lex_rank, vec_rank
       |  FROM f)
       |WHERE rank <= $k ORDER BY rank""".stripMargin

  // ---- hard-negative mining ----------------------------------------------

  /** Contrastive-training pair mining: for each anchor vector, the hardest
    * negative (most-similar vector with a DIFFERENT label) and hardest
    * positive (least-similar vector with the SAME label) — the batch
    * construction step of triplet/InfoNCE training. One broadcast of the
    * anchor set and ONE hash aggregate over the scored corpus: both
    * extremes are conditional `min/max(struct(cos, id))` so the pass is
    * map-side-combining and never ranks or re-scans (the negated-id field
    * makes the struct max break cosine ties toward the SMALLEST id, the
    * same tie rule as the min side). Cosine is rounded before the
    * aggregate so both engines compare identical values. At 100 TB the
    * anchor set is batched; the corpus-side shape is unchanged.
    */
  val HnAnchors = 16

  def hardNegatives(s: SparkSession, dir: String): DataFrame =
    hardNegativesFrom(emb(s, dir))

  /** Core of [[hardNegatives]] over any (vec_id, label, vec) frame. An
    * anchor whose label covers the whole corpus has no negative and emits
    * NO row (there is no triplet to train on) — the same rule the oracle's
    * neg-driven select applies, so a degenerate label distribution cannot
    * diverge the two engines.
    */
  def hardNegativesFrom(e: DataFrame): DataFrame = {
    val a = e.where(col("vec_id") < HnAnchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
        col("vec").as("a_vec"))
    e.crossJoin(broadcast(a))
      .where(col("vec_id") =!= col("anchor_id"))
      .withColumn("cos", round(cosine(col("vec"), col("a_vec")), 6))
      .groupBy(col("anchor_id"))
      .agg(
        max(when(col("label") =!= col("a_label"),
          struct(col("cos"), (-col("vec_id")).as("nid")))).as("neg"),
        min(when(col("label") === col("a_label"),
          struct(col("cos"), col("vec_id").as("pid")))).as("pos"))
      .where(col("neg").isNotNull)
      .select(
        col("anchor_id"),
        (-col("neg.nid")).as("neg_id"), col("neg.cos").as("neg_cos"),
        col("pos.pid").as("pos_id"), col("pos.cos").as("pos_cos"))
      .orderBy("anchor_id")
  }

  val hardNegativesSql: String =
    s"""WITH e AS ($embSql),
       |a AS (SELECT vec_id AS anchor_id, label AS a_label, vec AS a_vec
       |      FROM e WHERE vec_id < $HnAnchors),
       |scored AS (
       |  SELECT anchor_id, a_label, e.vec_id, e.label,
       |    round(${cosineSql("vec", "a_vec")}, 6) AS cos
       |  FROM e, a WHERE e.vec_id <> a.anchor_id),
       |neg AS (
       |  SELECT anchor_id, vec_id AS neg_id, cos AS neg_cos,
       |    row_number() OVER (PARTITION BY anchor_id
       |      ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM scored WHERE label <> a_label),
       |pos AS (
       |  SELECT anchor_id, vec_id AS pos_id, cos AS pos_cos,
       |    row_number() OVER (PARTITION BY anchor_id
       |      ORDER BY cos ASC, vec_id ASC) AS rn
       |  FROM scored WHERE label = a_label)
       |SELECT n.anchor_id, n.neg_id, n.neg_cos, p.pos_id, p.pos_cos
       |FROM neg n LEFT JOIN pos p ON p.anchor_id = n.anchor_id AND p.rn = 1
       |WHERE n.rn = 1 ORDER BY n.anchor_id""".stripMargin

  // ---- sign-LSH bucketed ANN ---------------------------------------------

  /** L independent hash tables × P hyperplanes each (2^P buckets per
    * table), with multi-probe up to Hamming distance 2. Parameters were
    * tuned by measurement against brute-force ground truth on this corpus:
    * recall@3 = 0.958 (sf0.01) / 0.917 (sf0.1), up from 0.54 with the
    * round-1 single table. Per table a query probes 1 + P + C(P,2) = 37 of
    * 256 buckets; candidate cost scales as L·37/2^P of the corpus per
    * query, so at real corpus sizes P grows (e.g. P=16 → 2.3% per probe
    * set) while the plan shape below is unchanged.
    */
  val LshTables = 6
  val LshPlanes = 8

  /** Deterministic pseudo-random hyperplane weights for (global plane g,
    * dim d) in [-1, 1): md5-derived so the oracle reproduces them exactly.
    * Table t uses global planes [t·P, (t+1)·P). The planes are CONSTANTS,
    * computed once at plan-build time and embedded as literals —
    * recomputing L·P·Dim md5s per row in the expression tree would pay for
    * values that never change. (At cluster scale this is the
    * broadcast-the-model pattern.)
    */
  private[ops] lazy val planeWeights: Seq[Seq[Double]] = {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    (0 until LshTables * LshPlanes).map { g =>
      (1 to Dim).map { d =>
        val h = BigInt(md5hex(s"${g}_$d").substring(0, 15), 16)
        ((h % 2001) - 1000).toDouble / 1000.0
      }
    }
  }

  /** Bucket id within table `t`: sign of vec·plane per local plane → bit.
    * Evaluated through the NATIVE codegen'd dot product — the RAW dot, not
    * cosine: for a zero-norm vector cosine is NaN (0/0) so `cos >= 0` would
    * flip every bit to 0 while the oracle's `dot >= 0` says 1 — a silent
    * signature-parity divergence. The raw dot has no such edge case and
    * costs one array pass (the interpreted `aggregate`/`zip_with` fold
    * costs ~75 µs per dot vs the native single pass — measured 7.2 s →
    * <1 s for the corpus sig build).
    */
  private def lshTableBucket(vec: Column, t: Int): Column =
    (0 until LshPlanes).map { p =>
      when(graft.functions.VectorExpressions.dot_product(
          vec, typedLit(planeWeights(t * LshPlanes + p))) >= 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** All L table bucket ids as one array column (map-side, one pass). */
  def lshSignatures(vec: Column): Column =
    array((0 until LshTables).map(t => lshTableBucket(vec, t)): _*)

  /** XOR masks for multi-probe at Hamming distance ≤ 2 (exact bucket, all
    * single-bit flips, all two-bit flips): 1 + P + P(P−1)/2 probes.
    */
  private[ops] val probeMasks: Seq[Long] =
    0L +: ((0 until LshPlanes).map(p => 1L << p) ++
      (for { a <- 0 until LshPlanes; b <- a + 1 until LshPlanes }
        yield (1L << a) | (1L << b)))

  /** (vec_id, vec, sigs) with the L signatures MATERIALIZED once per
    * (session, input) — the LSH index build, shared by [[annLshBucketed]],
    * [[embeddingNearDup]] and [[annRecall]].
    *
    * The materialization barrier (localCheckpoint) is LOAD-BEARING, not a
    * cache nicety: deriving the 37-probe expansion directly from a `sigs`
    * projection lets CollapseProject inline the 48-dot-product signature
    * expression into every one of the L·37 probe fields — ~10k interpreted
    * array folds PER ROW (measured 15–60 s at sf0.1; the repo's known
    * higher-order-lambda CSE trap). Checkpointing pins signatures to one
    * computation per row. At 100 TB this is the signatures table a real
    * pipeline materializes to storage once per corpus version.
    */
  private val sigCache =
    IndexMemo.cache[(SparkSession, String), DataFrame]()

  private def signatures(s: SparkSession, dir: String): DataFrame = {
    IndexMemo(sigCache, (s, dir)) {
      // A small embeddings file scans as ONE partition, which would run
      // every downstream probe explode + candidate join single-threaded
      // (measured: the whole 1.8M-collision pipeline in one task). Spread
      // the index across the cluster when the scan under-partitions; a
      // 100 TB scan already arrives with thousands of splits and skips
      // the shuffle.
      val e = emb(s, dir)
      val par = s.sparkContext.defaultParallelism
      val spread = if (e.rdd.getNumPartitions < par) e.repartition(par) else e
      spread.withColumn("sigs", lshSignatures(col("vec"))).localCheckpoint()
    }
  }

  /** Oracle-side signature CTEs: `wt` materializes the L·P plane weight
    * vectors ONCE (vs per-row md5 recompute), `sig` is (vec_id, t, bucket).
    * The per-plane dot product is a list_transform over range(1, Dim+1) —
    * the same left-fold element order as Spark's `aggregate`, so signs are
    * bit-identical.
    */
  private val lshSigCtesSql: String = {
    val w = s"(((${hash60Sql("g::VARCHAR || '_' || d::VARCHAR")}) % 2001) - 1000) / 1000.0"
    s"""e AS ($embSql),
       |wt AS (
       |  SELECT g, list(w ORDER BY d) AS wvec FROM (
       |    SELECT g, d, $w AS w
       |    FROM (SELECT unnest(range(0, ${LshTables * LshPlanes})) AS g),
       |         (SELECT unnest(range(1, $Dim + 1)) AS d))
       |  GROUP BY g),
       |sig AS (
       |  SELECT vec_id, t, sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS bucket
       |  FROM (
       |    SELECT e.vec_id, (g // $LshPlanes) AS t, (g % $LshPlanes) AS p,
       |      list_sum(list_transform(range(1, $Dim + 1), d -> vec[d] * wvec[d])) AS dot
       |    FROM e, wt)
       |  GROUP BY vec_id, t)""".stripMargin
  }

  private val probeMasksSql: String = probeMasks.mkString("[", ", ", "]")

  /** Multi-table multi-probe bucketed ANN: each query unions candidates
    * from its own bucket and every bucket within Hamming distance 2, in
    * each of the L tables, then exact-scores only those. Collisions are
    * scored map-side (codegen'd single-pass cosine) and de-duplicated by
    * (query, candidate) with a max-agg — the duplicate factor is ≤ L·37
    * and the post-score shuffle carries 24-byte rows, so scoring-then-
    * dedup beats a distinct-then-refetch of 256-byte vectors. Output shape
    * matches brute force so recall is directly measurable (see
    * [[annRecall]]).
    */
  def annLshBucketed(s: SparkSession, dir: String): DataFrame = {
    val e = signatures(s, dir)
    val corpus = e.select(
      col("vec_id"), col("vec"), posexplode(col("sigs")).as(Seq("t", "bucket")))
    // probe expansion as explode(signature) × explode(mask) — two cheap
    // generators and one XOR, not a 222-field literal array (whose codegen
    // class costs ~20 s of Janino compile on first run)
    val q = e.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("q_vec"),
        posexplode(col("sigs")).as(Seq("qt", "sig")))
      .select(col("query_id"), col("q_vec"), col("qt"), col("sig"),
        explode(typedLit(probeMasks)).as("m"))
      .select(col("query_id"), col("q_vec"), col("qt"),
        col("sig").bitwiseXOR(col("m")).as("probe_bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    corpus.join(broadcast(q),
        col("t") === col("qt") && col("bucket") === col("probe_bucket") &&
          col("vec_id") =!= col("query_id"))
      .withColumn("pair_cos", cosine(col("vec"), col("q_vec")))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(max(col("pair_cos")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select(
        col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  val annLshBucketedSql: String =
    s"""WITH $lshSigCtesSql,
       |q AS (
       |  SELECT s.vec_id AS query_id, e.vec AS q_vec, s.t,
       |    xor(s.bucket, m.m) AS probe_bucket
       |  FROM sig s
       |  JOIN e ON e.vec_id = s.vec_id,
       |       (SELECT unnest($probeMasksSql) AS m) m
       |  WHERE s.vec_id < $NQueries),
       |cand AS (
       |  SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id
       |  FROM sig s JOIN q ON s.t = q.t AND s.bucket = q.probe_bucket
       |    AND s.vec_id <> q.query_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id, ${cosineSql("en.vec", "eq.vec")} AS cos
       |  FROM cand c
       |  JOIN e en ON en.vec_id = c.neighbor_id
       |  JOIN e eq ON eq.vec_id = c.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // ---- label-centroid assignment -----------------------------------------

  /** Per-label centroids (per-dim avg, ROUNDED to 6dp so both engines
    * proceed from identical centroids; the [[meanUpdate]] of k-means).
    * A trained artifact like [[kmeansCentroids]], so it is built ONCE per
    * (session, input) behind [[IndexMemo]] — the full-corpus mean is
    * the expensive half of `q_centroid_assign`; re-deriving it per run pays
    * that twice for a 10-row table every consumer could broadcast.
    */
  private val labelCentroidCache =
    IndexMemo.cache[(SparkSession, String), DataFrame]()

  private def centroids(s: SparkSession, dir: String): DataFrame =
    IndexMemo(labelCentroidCache, (s, dir))(
      meanUpdate(emb(s, dir).withColumnRenamed("label", "c_label"),
        Seq("c_label"), "vec", Dim)
        .localCheckpoint())

  /** Every vector's nearest centroid (its IVF cell). */
  private def assignments(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("c_label"))
    emb(s, dir).crossJoin(broadcast(centroids(s, dir)))
      .withColumn("cos", cosine(col("vec"), col("c_vec")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("vec"), col("c_label").as("cell"))
  }

  def centroidAssign(s: SparkSession, dir: String): DataFrame =
    assignments(s, dir)
      .select(
        col("vec_id"), col("label"),
        col("cell").as("assigned_label"),
        (col("label") === col("cell")).as("is_match"))
      .orderBy("vec_id")

  /** IVF ANN: the k-means centroid table (see [[kmeansCentroids]]) is the
    * coarse quantizer. Each query probes its `nprobe` nearest cells and
    * scores ONLY vectors assigned there — the q·n·(nprobe/k) scale path
    * (vs brute force's q·n), complementary to the sign-LSH variant.
    *
    * nprobe=3 over k=8 Lloyd-refined cells measures recall@3 = 1.00
    * (sf0.01) / 0.958 (sf0.1) vs brute-force ground truth — up from 0.58
    * with round 1's label-centroid cells at nprobe=2. A farthest-point
    * (k-means++-style) seeding was prototyped and measured WORSE here
    * (0.67): the first k vectors already spread across the label clusters,
    * while farthest-point picks outliers as seeds. Kept the measured
    * winner. Output shape matches brute force so recall is directly
    * measurable (see [[annRecall]]).
    */
  val IvfProbes = 3

  /** (vec_id, vec, cell): every vector's coarse cell — kmeansAssign with
    * the IVF projection, shared by [[annIvf]] and [[annIvfPq]] so the
    * tie-break (cos desc, cid) lives in ONE place next to its oracle.
    */
  private[graft] def coarseCells(s: SparkSession, dir: String): DataFrame =
    kmeansAssign(emb(s, dir), kmeansCands(s, dir))
      .select(col("vec_id"), col("vec"), col("cid").as("cell"))

  /** (query_id, q_vec, probe_cell): each query's nprobe nearest cells —
    * shared probe logic for both IVF variants.
    */
  private def probeCells(s: SparkSession, dir: String): DataFrame = {
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("c_cos").desc, col("cid"))
    emb(s, dir).where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("q_vec"))
      .crossJoin(broadcast(kmeansCentroids(s, dir)))
      .withColumn("c_cos", cosine(col("q_vec"), col("c_vec")))
      .withColumn("c_rn", row_number().over(probeW))
      .where(col("c_rn") <= IvfProbes)
      .select(col("query_id"), col("q_vec"), col("cid").as("probe_cell"))
  }

  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    coarseCells(s, dir)
      .join(broadcast(probeCells(s, dir)),
        col("cell") === col("probe_cell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("vec"), col("q_vec")))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .where(col("rank") <= 3)
      .select(
        col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  // ---- deterministic k-means ---------------------------------------------

  val KmeansK = 8
  val KmeansIters = 3

  /** Deterministic spherical k-means (cosine assignment, 3 fixed Lloyd
    * iterations): seeds = the first k vectors by id, centroids re-averaged
    * per dim and ROUNDED to 6dp each round so the DuckDB oracle (same
    * rounds unrolled) proceeds from identical values. The index-build op
    * behind a real IVF.
    *
    * Scale: per round, one map-side assignment pass (the k centroids ride
    * in the plan as the [[nearest]] candidate literal), one shuffle for the
    * per-cell means (a fixed-width HashAggregate, k rows out), and a
    * k-row collect that becomes the next round's literal — which also cuts
    * the lineage. Two Spark jobs per round.
    */
  private[graft] def kmeansAssign(e: DataFrame, cands: Column): DataFrame =
    // ONE projection, no exchange: the native kernel scores the k
    // candidates and keeps the best with the (cos desc, cid asc) order the
    // retired max(struct(cos, -cid, vec)) aggregate and row_number window
    // encoded (LlmOpsSpec "nearest-centroid kernel ..." pins all three
    // equal). The vector never enters an aggregate buffer.
    e.withColumn("best", graft.functions.VectorExpressions.nearest(col("vec"), cands, "cosine"))
      .select(col("vec_id"), col("vec"), col("best.cid").as("cid"),
        col("best.score").as("cos"))

  /** (cid, c_vec) rows → the candidate literal [[kmeansAssign]] scores.
    * Never empty: a vector always elects a cell, and a non-empty literal
    * lets the planner see `cid` as non-null (no inferred `isnotnull`
    * filter that would evaluate the kernel a second time). */
  private def candidates(cents: Seq[Row]): Column = {
    require(cents.nonEmpty, "no centroids to assign against")
    graft.functions.VectorExpressions.candidates(cents)
  }

  /** A (cid, c_vec) centroid frame, collected, as that literal. */
  private[graft] def centroidCands(cents: DataFrame): Column =
    candidates(centroidRows(cents).toSeq)

  private val CentroidSchema = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("c_vec", ArrayType(DoubleType))))

  private def centroidRows(cents: DataFrame): Array[Row] =
    cents.select(col("cid").cast("long"), col("c_vec")).collect()

  /** The Lloyd update: per-`keys` mean of every coordinate of `v`, 6dp.
    * ONE groupBy with `width` fixed-width avg(v[d]) aggregates — a
    * HashAggregate with map-side partials and one shuffle; no posexplode,
    * no (key, d) regroup, no collect_list. A null coordinate is skipped by
    * its avg, as the per-coordinate groupBy skipped it, and a group whose
    * every vector is null yields no centroid, as before (the count is
    * checked after the aggregate: a filter on `v` itself would re-run the
    * scan's cast). At width 64 the partial buffer (129 fields) is over
    * Spark's whole-stage field limit, so the kmeans update runs unfused;
    * the PQ update (width 4) is whole-stage codegen'd.
    */
  private def meanUpdate(assigned: DataFrame, keys: Seq[String], v: String,
      width: Int): DataFrame =
    assigned.groupBy(keys.map(col): _*)
      .agg(count(col(v)).as("n_vec"), array((0 until width).map(d =>
        round(avg(get(col(v), lit(d))), 6)): _*).as("c_vec"))
      .where(col("n_vec") > 0)
      .drop("n_vec")

  private def widthOf(cents: Seq[Row]): Int =
    cents.map(r => if (r.isNullAt(1)) 0 else r.getSeq[Any](1).length).max

  /** The trained quantizer (cid, c_vec), built ONCE per (session, input)
    * and persisted — [[kmeans]], [[annIvf]] and [[annRecall]] all read the
    * same k×Dim table, mirroring production where an IVF index is built
    * once per corpus version and every query-time consumer loads the
    * materialized centroids. The cache is k rows — trivially bounded.
    */
  private val centroidCache =
    IndexMemo.cache[(SparkSession, String), (DataFrame, Seq[Row])]()

  /** Artifact name carrying the sf-dir tag — see the DedupOps twin. */
  private def artifactName(base: String, dir: String): String =
    IndexStore.scopedName(base, dir)

  /** Identity suffix naming how the quantizers are trained: artifacts the
    * retired crossJoin/window training wrote are a different build, so
    * they miss instead of being served to this code. */
  private val TrainForm = "|train=kernel"

  /** A trained quantizer through [[IndexStore.loadOrBuild]]: the artifact
    * scan, and its rows for the candidate literal — the training rows on
    * a build, the collected artifact on a load (parquet doubles round-trip
    * exactly, so both give the same literal). */
  private def trainedArtifact(s: SparkSession, name: String, identity: String,
      schema: StructType)(train: => Seq[Row])(rowsOf: DataFrame => Seq[Row])
      : (DataFrame, Seq[Row]) = {
    var built: Option[Seq[Row]] = None
    val df = IndexStore.loadOrBuild(s, name, identity) {
      val rows = train
      built = Some(rows)
      localFrame(s, rows, schema)
    }
    (df, built.getOrElse(rowsOf(df)))
  }

  private def kmeansTrained(s: SparkSession, dir: String): (DataFrame, Seq[Row]) =
    IndexMemo(centroidCache, (s, dir))(
      trainedArtifact(s, artifactName("ivf-centroids", dir),
        s"${Tables.fileIdent(dir, "embeddings")}|k=$KmeansK|iters=$KmeansIters$TrainForm",
        CentroidSchema)(computeKmeansCentroids(s, dir))(centroidRows(_).toSeq))

  private[graft] def kmeansCentroids(s: SparkSession, dir: String): DataFrame =
    kmeansTrained(s, dir)._1

  /** The trained centroids as the [[kmeansAssign]] candidate literal; its
    * rows are kept with the artifact, so building a query plan over the
    * quantizer runs no job. */
  private[graft] def kmeansCands(s: SparkSession, dir: String): Column =
    candidates(kmeansTrained(s, dir)._2)

  /** (vec_id, vec, nvec) of the first vectors by id: they seed both
    * quantizers (k-means takes vec_id < KmeansK, PQ the subvectors of
    * vec_id < PqK), so a cold IVF-PQ build reads them in one job. */
  private val seedCache = IndexMemo.cache[(SparkSession, String), Seq[Row]]()

  private def seedVectors(s: SparkSession, dir: String): Seq[Row] =
    IndexMemo(seedCache, (s, dir))(
      pqNormalized(s, dir).where(col("vec_id") < math.max(KmeansK, PqK))
        .select(col("vec_id"), col("vec"), col("nvec")).collect().toSeq)

  private def computeKmeansCentroids(s: SparkSession, dir: String): Seq[Row] = {
    val e = emb(s, dir)
    var cents = seedVectors(s, dir).filter(_.getLong(0) < KmeansK)
      .map(r => Row(r.getLong(0), r.get(1)))
    for (_ <- 1 to KmeansIters)
      cents = meanUpdate(kmeansAssign(e, candidates(cents)), Seq("cid"), "vec",
        widthOf(cents)).collect().toSeq
    cents.sortBy(_.getLong(0))
  }

  /** Driver-side rows as a one-partition frame (one artifact file). */
  private def localFrame(s: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)

  def kmeans(s: SparkSession, dir: String): DataFrame =
    kmeansAssign(emb(s, dir), kmeansCands(s, dir))
      .groupBy(col("cid"))
      .agg(
        count(lit(1)).as("n_members"),
        round(avg(col("cos")), 4).as("avg_cosine"))
      .orderBy("cid")

  private def kmAssignCteSql(name: String, centCte: String): String =
    s"""$name AS (
       |  SELECT vec_id, vec, cid, cos FROM (
       |    SELECT e.vec_id, e.vec, c.cid, ${cosineSql("vec", "c_vec")} AS cos,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("vec", "c_vec")} DESC, c.cid) AS rn
       |    FROM e, $centCte c)
       |  WHERE rn = 1)""".stripMargin

  private def kmUpdateCteSql(name: String, assignCte: String): String =
    s"""$name AS (
       |  SELECT cid, list(round(cx, 6) ORDER BY d) AS c_vec FROM (
       |    SELECT cid, d, avg(vec[d]) AS cx
       |    FROM $assignCte, (SELECT unnest(range(1, $Dim + 1)) AS d)
       |    GROUP BY cid, d)
       |  GROUP BY cid)""".stripMargin

  /** Unrolled Lloyd rounds ending in `afinal` (the assignment to the final
    * centroids) — shared by the kmeans and IVF oracles.
    */
  private val kmeansCtesSql: String = {
    val rounds = (1 to KmeansIters).map { i =>
      kmAssignCteSql(s"a$i", s"c${i - 1}") + ",\n" + kmUpdateCteSql(s"c$i", s"a$i")
    }.mkString(",\n")
    s"""e AS ($embSql),
       |c0 AS (SELECT vec_id AS cid, vec AS c_vec FROM e WHERE vec_id < $KmeansK),
       |$rounds,
       |${kmAssignCteSql("afinal", s"c$KmeansIters")}""".stripMargin
  }

  val kmeansSql: String =
    s"""WITH $kmeansCtesSql
       |SELECT cid, count(*) AS n_members, round(avg(cos), 4) AS avg_cosine
       |FROM afinal GROUP BY cid ORDER BY cid""".stripMargin

  /** Cluster-balanced sampling: the m most-representative vectors per
    * k-means cell (highest cosine to their centroid) — the cluster-pruning
    * step of embedding-based corpus curation (keep a balanced,
    * prototype-centered subset instead of a frequency-biased one; the
    * SemDeDup/DiverseEvol family's selection primitive over the same
    * cells [[semDedup]] dedups in).
    *
    * Scale shape: assignment is map-side against broadcast centroids; the
    * per-cell top-m is a ranked window with a CONSTANT bound, so
    * WindowGroupLimit keeps ≤ m rows per cell per partition BEFORE the
    * single shuffle on cid (same discipline as the samplers, pinned in
    * spec).
    */
  def clusterSample(s: SparkSession, dir: String, m: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("cid")).orderBy(col("cos").desc, col("vec_id"))
    kmeansAssign(emb(s, dir), kmeansCands(s, dir))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= m)
      .select(col("cid"), col("rank"), col("vec_id"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("cid", "rank")
  }

  // ---- quantizer staleness monitor ---------------------------------------

  /** Residual-drift threshold in 1e-4 residual units (0.05 cosine
    * residual) and the minimum per-window cell support below which no
    * verdict is issued. */
  val StalenessThresholdBp = 500L
  val StalenessMinSupport = 5L

  /** Assignment residual (1 − cos to the elected centroid) scaled to 1e-4
    * integer units with explicit floor(x+0.5) — HALF_UP on both engines
    * (Spark round() vs DuckDB round() differ at half boundaries; the
    * recorded quantizer-parity rule). Integer residuals make every
    * downstream mean/threshold comparison exact.
    *
    * NaN cosine (zero-norm vector) books the MAXIMUM residual (2·10⁴ —
    * 1−cos reaches 2.0 for anticorrelated vectors, so 10⁴ would rank a
    * degenerate arrival BELOW a strongly anticorrelated one): degenerate
    * arrivals must push a cell toward retrain, never vanish — and the
    * guard keeps this column, the streaming twin's Scala computation,
    * and the oracle's CASE in agreement (an unguarded NaN→long cast
    * throws under ANSI here and would zero on the streaming side: three
    * different answers for one input). */
  private def residIntCol =
    when(isnan(col("cos")), lit(20000L))
      .otherwise(floor((lit(1.0) - col("cos")) * 10000 + lit(0.5)).cast("long"))

  /** Shared staleness verdict over per-cell (n_base, n_inc, rs_base,
    * rs_inc) counts — the SAME projection serves the batch op and the
    * streaming store report, so the two can never disagree on what
    * "stale" means. The flag is integer cross-multiplication
    * (rs_inc·n_base − rs_base·n_inc > threshold·n_inc·n_base): exact in
    * longs at any realistic window (overflow bound ~2⁶³; a 10⁹-row
    * window per cell would move this to DECIMAL, a type widening not a
    * protocol change).
    */
  private[graft] def stalenessProject(g: DataFrame,
      thresholdBp: Long = StalenessThresholdBp,
      minSupport: Long = StalenessMinSupport): DataFrame =
    g.select(col("cid"), col("n_base"), col("n_inc"),
      when(col("n_base") > 0,
        floor(col("rs_base") * lit(1.0) / col("n_base") + lit(0.5)).cast("long"))
        .otherwise(lit(0L)).as("resid_base_bp"),
      when(col("n_inc") > 0,
        floor(col("rs_inc") * lit(1.0) / col("n_inc") + lit(0.5)).cast("long"))
        .otherwise(lit(0L)).as("resid_inc_bp"),
      (col("n_base") >= minSupport && col("n_inc") >= minSupport &&
        (col("rs_inc") * col("n_base") - col("rs_base") * col("n_inc")) >
          lit(thresholdBp) * col("n_inc") * col("n_base")).as("stale"))

  /** Per-cell (n, resid_sum) of the quantizer at TRAIN time — the baseline
    * the streaming monitor compares arrivals against ("build once, query
    * many" needs a when-to-retrain signal; this is its reference state).
    * One map-side assignment pass + one k-row aggregate.
    */
  def quantizerBaselineStats(s: SparkSession, dir: String): DataFrame =
    kmeansAssign(emb(s, dir), kmeansCands(s, dir))
      .select(col("cid"), residIntCol.as("resid_i"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("resid_i")).as("resid_sum"))

  /** Batch quantizer-staleness monitor (`q_quantizer_drift`): split the
    * corpus into two deterministic halves (even ids = the window the
    * quantizer "was trained for", odd ids = the arrivals window) and
    * compare per-cell mean assignment residuals. A cell whose incoming
    * residual exceeds baseline by the threshold at sufficient support is
    * flagged stale — retrain territory. ONE assignment scan (the split is
    * a conditional aggregate, not two passes), one k-row shuffle.
    */
  def quantizerDrift(s: SparkSession, dir: String): DataFrame = {
    val a = kmeansAssign(emb(s, dir), kmeansCands(s, dir))
      .select(col("cid"), pmod(col("vec_id"), lit(2)).as("win"),
        residIntCol.as("resid_i"))
    val g = a.groupBy(col("cid")).agg(
      sum(when(col("win") === 0, lit(1L)).otherwise(lit(0L))).as("n_base"),
      sum(when(col("win") === 1, lit(1L)).otherwise(lit(0L))).as("n_inc"),
      sum(when(col("win") === 0, col("resid_i")).otherwise(lit(0L))).as("rs_base"),
      sum(when(col("win") === 1, col("resid_i")).otherwise(lit(0L))).as("rs_inc"))
    stalenessProject(g).orderBy("cid")
  }

  val quantizerDriftSql: String =
    s"""WITH $kmeansCtesSql,
       |r AS (
       |  SELECT cid, vec_id % 2 AS win,
       |    CASE WHEN isnan(cos) THEN 20000
       |         ELSE CAST(floor((1 - cos) * 10000 + 0.5) AS BIGINT)
       |    END AS resid_i
       |  FROM afinal),
       |g AS (
       |  SELECT cid,
       |    sum(CASE WHEN win = 0 THEN 1 ELSE 0 END)::BIGINT AS n_base,
       |    sum(CASE WHEN win = 1 THEN 1 ELSE 0 END)::BIGINT AS n_inc,
       |    sum(CASE WHEN win = 0 THEN resid_i ELSE 0 END)::BIGINT AS rs_base,
       |    sum(CASE WHEN win = 1 THEN resid_i ELSE 0 END)::BIGINT AS rs_inc
       |  FROM r GROUP BY cid)
       |SELECT cid, n_base, n_inc,
       |  CASE WHEN n_base > 0
       |    THEN CAST(floor(rs_base * 1.0 / n_base + 0.5) AS BIGINT) ELSE 0 END
       |    AS resid_base_bp,
       |  CASE WHEN n_inc > 0
       |    THEN CAST(floor(rs_inc * 1.0 / n_inc + 0.5) AS BIGINT) ELSE 0 END
       |    AS resid_inc_bp,
       |  (n_base >= $StalenessMinSupport AND n_inc >= $StalenessMinSupport AND
       |   rs_inc * n_base - rs_base * n_inc > $StalenessThresholdBp * n_inc * n_base)
       |    AS stale
       |FROM g ORDER BY cid""".stripMargin

  // ---- quantizer retrain (closes the drift-monitor loop) ------------------

  /** Outcome of one [[quantizerRetrain]] run. `centroids` is the updated
    * quantizer (same k, same cid space) the caller persists for query
    * time; `committed` is false when nothing was stale OR the txn
    * watermark proved the batch already applied (replay). */
  case class RetrainResult(
      committed: Boolean,
      staleCells: Seq[Long],
      centroids: DataFrame)

  /** RETRAIN the quantizer on a drifted window and re-encode ONLY the
    * affected vectors — the operator [[quantizerDrift]]'s monitor calls
    * for. The loop this closes: build centroids once → serve queries →
    * the monitor flags cells whose ARRIVING vectors assign with residuals
    * far above the cell's train-time baseline → this op re-fits exactly
    * those cells on the drifted window and transactionally merges the
    * re-assignments, leaving every healthy cell (and its members'
    * assignments) untouched.
    *
    * Mechanics, all deterministic:
    *
    *  1. Assign `base` (the window the quantizer was trained on) and
    *     `arrivals` (the drifted window) to the CURRENT `cents`; flag
    *     stale cells with the engine's one staleness verdict
    *     ([[stalenessProject]] — integer cross-multiplication, the same
    *     math the batch monitor and the streaming store report share).
    *  2. Re-fit k_stale centroids on the stale cells' ARRIVAL members
    *     (the drifted window is the new truth for that region) with the
    *     same spherical-Lloyd discipline as [[kmeansCentroids]]: seeds =
    *     first k_stale by vec_id, fixed `iters`, per-dim means rounded
    *     6dp, each round's k_stale centroids collected to the driver.
    *     The retrained centroids REUSE the stale cids (ascending), so the
    *     cid space — and every
    *     downstream consumer keyed on it — is stable.
    *  3. Re-assign the affected vectors (stale cells' base members +
    *     every arrival) against the UPDATED centroid set and MERGE the
    *     (vec_id, cid, resid_bp) rows into `assignTable` under `txn` —
    *     a replayed retrain batch is a no-op by the same watermark as
    *     any ingest.
    *
    * Scale: assignments are map-side against the k-row centroid
    * literal; each Lloyd round shuffles per-cell partial sums;
    * the merge touches only key-overlapping files. Nothing here is
    * O(corpus) beyond the two assignment scans the monitor itself needs.
    */
  def quantizerRetrain(
      s: SparkSession,
      assignTable: String,
      base: DataFrame,
      arrivals: DataFrame,
      cents: DataFrame,
      iters: Int = KmeansIters,
      thresholdBp: Long = StalenessThresholdBp,
      minSupport: Long = StalenessMinSupport,
      txn: Option[(String, Long)] = None): RetrainResult = {
    val centRows = centroidRows(cents).toSeq
    val aBase = kmeansAssign(base, candidates(centRows))
      .select(col("vec_id"), col("vec"), col("cid"), residIntCol.as("resid_i"))
      .localCheckpoint()
    val aArr = kmeansAssign(arrivals, candidates(centRows))
      .select(col("vec_id"), col("vec"), col("cid"), residIntCol.as("resid_i"))
      .localCheckpoint()
    try {
      val g = aBase.withColumn("win", lit(0))
        .unionByName(aArr.withColumn("win", lit(1)))
        .groupBy(col("cid")).agg(
          sum(when(col("win") === 0, lit(1L)).otherwise(lit(0L))).as("n_base"),
          sum(when(col("win") === 1, lit(1L)).otherwise(lit(0L))).as("n_inc"),
          sum(when(col("win") === 0, col("resid_i")).otherwise(lit(0L))).as("rs_base"),
          sum(when(col("win") === 1, col("resid_i")).otherwise(lit(0L))).as("rs_inc"))
      val stale = stalenessProject(g, thresholdBp, minSupport)
        .where(col("stale"))
        .select(col("cid")).as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.toSeq // bounded: ≤ k cells
      if (stale.isEmpty) return RetrainResult(false, Seq.empty, cents)

      // ---- re-fit k_stale centroids on the stale cells' arrivals ----------
      val staleSet = stale.toSet
      val driftedMembers = aArr
        .where(col("cid").isin(stale: _*))
        .select(col("vec_id"), col("vec"))
        .localCheckpoint()
      try {
        val kStale = stale.size
        // seeds: first k_stale drifted vectors by id, mapped onto the
        // stale cids ascending — cid space stays stable
        val seeds = driftedMembers.orderBy(col("vec_id")).limit(kStale)
          .collect().sortBy(_.getLong(0))
        require(seeds.length == kStale,
          s"drifted window has ${seeds.length} members for $kStale stale " +
            "cells — not enough data to re-fit; widen the window")
        var refit: Seq[Row] = seeds.toSeq.zip(stale).map { case (r, cid) => Row(cid, r.get(1)) }
        for (_ <- 1 to iters) {
          // a cell that won no member this round would vanish from the
          // mean-update's groupBy, silently SHRINKING the centroid set —
          // carry its previous centroid forward instead: the cid space
          // is documented stable and downstream consumers key on it
          val next = meanUpdate(kmeansAssign(driftedMembers, candidates(refit)),
            Seq("cid"), "vec", widthOf(refit)).collect().map(r => r.getLong(0) -> r).toMap
          refit = refit.map(r => next.getOrElse(r.getLong(0), r))
        }
        val updatedRows = centRows.filterNot(r => staleSet(r.getLong(0))) ++ refit
        val updated = localFrame(s, updatedRows.sortBy(_.getLong(0)), CentroidSchema)

        // ---- re-encode affected vectors, txn-guarded ------------------------
        val affected = aBase.where(col("cid").isin(stale: _*))
          .select(col("vec_id"), col("vec"))
          .unionByName(aArr.select(col("vec_id"), col("vec")))
        val reassigned = kmeansAssign(affected, candidates(updatedRows))
          .select(col("vec_id"), col("cid"), residIntCol.as("resid_bp"))
        val committed = MergeTable.mergeUpsert(s, assignTable, reassigned,
          Seq("vec_id"), Seq("vec_id"), txn = txn)
        RetrainResult(committed, stale, updated)
      } finally org.apache.spark.sql.graftbridge.Bridge
        .unpersistLocalCheckpoint(driftedMembers)
    } finally {
      org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(aBase)
      org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(aArr)
    }
  }

  def clusterSampleSql(m: Int = 3): String =
    s"""WITH $kmeansCtesSql
       |SELECT cid, rank, vec_id, round(cos, 6) AS cosine FROM (
       |  SELECT cid, vec_id, cos,
       |    row_number() OVER (PARTITION BY cid ORDER BY cos DESC, vec_id) AS rank
       |  FROM afinal)
       |WHERE rank <= $m ORDER BY cid, rank""".stripMargin

  val annIvfSql: String =
    s"""WITH $kmeansCtesSql,
       |probes AS (
       |  SELECT query_id, q_vec, cid AS probe_cell FROM (
       |    SELECT e.vec_id AS query_id, e.vec AS q_vec, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("vec", "c_vec")} DESC, c.cid) AS c_rn
       |    FROM e, c$KmeansIters c WHERE e.vec_id < $NQueries)
       |  WHERE c_rn <= $IvfProbes),
       |scored AS (
       |  SELECT query_id, a.vec_id AS neighbor_id,
       |    ${cosineSql("a.vec", "q_vec")} AS cos
       |  FROM afinal a JOIN probes p
       |    ON a.cid = p.probe_cell AND a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // ---- ANN recall vs brute-force ground truth ----------------------------

  /** Recall@3 of each approximate index vs the exact brute-force top-3 —
    * the measured guarantee the two ANN variants ship with. One row per
    * method; `recall` is hits/(NQueries·3). Both engines compute the full
    * pipelines independently, so a hash match here pins not just the
    * recall VALUE but every rank the approximate indexes produced.
    */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val gt = annBruteForce(s, dir).where(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val total = NQueries * 3
    def recallOf(method: String, res: DataFrame): DataFrame =
      res.select(col("query_id"), col("neighbor_id"))
        .join(gt, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(
          lit(method).as("method"), col("hits"),
          lit(total.toLong).as("total"),
          round(col("hits") / lit(total.toDouble), 4).as("recall"))
    recallOf("ivf", annIvf(s, dir))
      .unionByName(recallOf("lsh_bucketed", annLshBucketed(s, dir)))
      .orderBy("method")
  }

  // ---- embedding-cosine near-dup -----------------------------------------

  /** Embedding-space near-duplicate PAIRS: candidates = vector pairs whose
    * sign-LSH signatures land within Hamming distance 2 in ANY of the L
    * tables (the corpus×corpus analogue of [[annLshBucketed]]'s
    * multi-probe), verified by exact cosine ≥ τ. Candidate recall measured
    * vs the exact all-pairs answer: 0.857 (sf0.01) / 0.986 (sf0.1).
    *
    * Scale: the probe side explodes to L·37 24-byte (id, table, bucket)
    * rows per vector — vectors themselves never ride the candidate join.
    * Verified pairs re-fetch their two vectors by key (AQE broadcasts the
    * pair side when small). Candidates ∝ signature collisions, never n².
    *
    * τ defaults to 0.45 — tuned to THIS synthetic corpus, whose most
    * similar pair sits at cosine 0.51 (real corpora with planted dups
    * would run τ ≈ 0.9, where the same buckets discriminate far more
    * sharply).
    */
  val EmbDupThreshold = 0.45

  /** Raw (pre-dedup) candidate collisions: one row per (probe, index)
    * bucket hit — at most L·37 per pair; deduped downstream AFTER the
    * cosine cut (see [[embeddingNearDup]]).
    */
  private def embeddingCandidatesRaw(s: SparkSession, dir: String): DataFrame = {
    val e = signatures(s, dir)
    val exact = e.select(
      col("vec_id"), posexplode(col("sigs")).as(Seq("t", "bucket")))
    // explode(signature) × explode(mask), see [[annLshBucketed]]
    val probe = e.select(
        col("vec_id").as("a_id"), posexplode(col("sigs")).as(Seq("pt", "sig")))
      .select(col("a_id"), col("pt"), col("sig"),
        explode(typedLit(probeMasks)).as("m"))
      .select(col("a_id"), col("pt"),
        col("sig").bitwiseXOR(col("m")).as("probe_bucket"))
    probe.join(exact,
        col("pt") === col("t") && col("probe_bucket") === col("bucket") &&
          col("a_id") < col("vec_id"))
      .select(col("a_id"), col("vec_id").as("b_id"))
  }

  def embeddingNearDup(
      s: SparkSession, dir: String,
      threshold: Double = EmbDupThreshold): DataFrame = {
    // Score-then-dedup (same trade [[annLshBucketed]] makes): the raw
    // collision stream goes straight to the vector joins and the exact
    // cosine filter, and the per-pair dedup runs AFTER the τ cut — a
    // distinct over the few surviving pairs instead of a full shuffle of
    // every candidate pair before re-fetch (measured ~1.1 s of the old
    // 2.7 s warm at sf0.1). Duplicate collisions score identically, so
    // the post-filter distinct yields exactly one row per pair.
    val cand = embeddingCandidatesRaw(s, dir)
    val va = emb(s, dir).select(col("vec_id").as("a_id"), col("vec").as("vec_a"))
    val vb = emb(s, dir).select(col("vec_id").as("b_id"), col("vec").as("vec_b"))
    cand.join(va, "a_id").join(vb, "b_id")
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .where(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
      .distinct()
      .orderBy("a_id", "b_id")
  }

  def embeddingNearDupSql(threshold: Double = EmbDupThreshold): String =
    s"""WITH $lshSigCtesSql,
       |probe AS (
       |  SELECT s.vec_id AS a_id, s.t, xor(s.bucket, m.m) AS probe_bucket
       |  FROM sig s, (SELECT unnest($probeMasksSql) AS m) m),
       |cand AS (
       |  SELECT DISTINCT p.a_id, s.vec_id AS b_id
       |  FROM probe p JOIN sig s ON s.t = p.t AND s.bucket = p.probe_bucket
       |    AND p.a_id < s.vec_id),
       |scored AS (
       |  SELECT c.a_id, c.b_id, ${cosineSql("ea.vec", "eb.vec")} AS cos
       |  FROM cand c
       |  JOIN e ea ON ea.vec_id = c.a_id
       |  JOIN e eb ON eb.vec_id = c.b_id)
       |SELECT a_id, b_id, round(cos, 6) AS cosine
       |FROM scored WHERE cos >= $threshold ORDER BY a_id, b_id""".stripMargin

  // ---- semantic dedup (cluster-then-pairwise, SemDeDup) ------------------

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with k-means, then compare each
    * vector ONLY against other members of its own cluster — a pair is a
    * semantic duplicate when its exact cosine ≥ τ, and within each
    * duplicate group the lowest vec_id is kept (a vector is dropped iff
    * some EARLIER cluster member sits within τ).
    *
    * Output: one row per vector with its cluster, its max cosine to any
    * earlier member of the same cluster (null for the cluster's first
    * member), and the keep verdict — so the hash-compare pins every
    * intra-cluster pairwise maximum, not just the final keep set.
    *
    * Scale: this is the whole point of the clustering pass — pairwise cost
    * drops from n² to Σ n_c² with n_c ≈ n/k, and k grows with the corpus so
    * cluster size stays bounded. The join shuffles both sides on cid (a
    * co-partitioned self-join); centroids are the memoized k×Dim broadcast
    * ([[kmeansCentroids]]), so warm calls add exactly one shuffle. At
    * 100 TB the same shape holds: no stage ever sees a cross-cluster pair.
    * τ reuses [[EmbDupThreshold]] — tuned to this synthetic corpus (real
    * corpora with planted dups would run τ ≈ 0.9).
    *
    * Eager: building the frame runs the kmeans assignment job at once,
    * through an eager `localCheckpoint`, before any action on the result
    * (and trains the centroids first if they are not memoized yet). The
    * returned plan reads the checkpoint.
    */
  def semDedup(
      s: SparkSession, dir: String,
      threshold: Double = EmbDupThreshold): DataFrame = {
    // assignment referenced THREE times below (both self-join sides + the
    // left output spine); the subtrees pick up different pushed filters,
    // so neither Catalyst exchange reuse nor AQE stage reuse can unify
    // them and the scan+assign pipeline ran three times per execution.
    // localCheckpoint materializes the bounded (vec_id, vec, cid) frame
    // once per call, when this frame is built (recomputed from parquet on
    // every call — nothing crosses runs); all three consumers read the
    // checkpoint (guide §3.3: materialize to stop duplicate subtrees).
    val assigned = kmeansAssign(emb(s, dir), kmeansCands(s, dir))
      .select(col("vec_id"), col("vec"), col("cid"))
      .localCheckpoint()
    val earlier = assigned.select(
      col("cid").as("b_cid"), col("vec_id").as("b_id"), col("vec").as("b_vec"))
    val maxPrior = assigned
      .join(earlier,
        col("cid") === col("b_cid") && col("b_id") < col("vec_id"))
      .groupBy(col("vec_id"))
      .agg(max(cosine(col("vec"), col("b_vec"))).as("max_cos"))
    assigned.join(maxPrior, Seq("vec_id"), "left")
      .select(
        col("vec_id"), col("cid"),
        round(col("max_cos"), 6).as("max_prior_cos"),
        coalesce(col("max_cos") < threshold, lit(true)).as("keep"))
      .orderBy("vec_id")
  }

  def semDedupSql(threshold: Double = EmbDupThreshold): String =
    s"""WITH $kmeansCtesSql,
       |prior AS (
       |  SELECT a.vec_id, max(${cosineSql("a.vec", "b.vec")}) AS max_cos
       |  FROM afinal a JOIN afinal b
       |    ON a.cid = b.cid AND b.vec_id < a.vec_id
       |  GROUP BY a.vec_id)
       |SELECT f.vec_id, f.cid,
       |  round(p.max_cos, 6) AS max_prior_cos,
       |  coalesce(p.max_cos < $threshold, true) AS keep
       |FROM afinal f LEFT JOIN prior p ON p.vec_id = f.vec_id
       |ORDER BY f.vec_id""".stripMargin

  /** kNN-graph construction (cell-restricted top-1): for every vector, its
    * most-similar neighbor WITHIN its IVF cell — the building block of
    * SemDeDup-style curation and graph-based corpus analysis, and the
    * approximate-kNN-graph shape (exact within a cell, cells from the
    * memoized quantizer) that scales as Σ n_c² instead of n². One
    * conditional struct-extreme aggregate elects the neighbor (max cos,
    * ties to the smallest id — the [[hardNegatives]] device); singleton
    * cells surface with a null neighbor rather than vanishing.
    *
    * Eager, as [[semDedup]]: building the frame runs the assignment job at
    * once, through an eager `localCheckpoint`.
    */
  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    // same three-consumer checkpoint rationale as [[semDedup]]
    val assigned = kmeansAssign(emb(s, dir), kmeansCands(s, dir))
      .select(col("vec_id"), col("vec"), col("cid"))
      .localCheckpoint()
    val other = assigned.select(
      col("cid").as("o_cid"), col("vec_id").as("o_id"), col("vec").as("o_vec"))
    val nn = assigned
      .join(other, col("cid") === col("o_cid") && col("o_id") =!= col("vec_id"))
      .withColumn("cos", round(cosine(col("vec"), col("o_vec")), 6))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("o_id")).as("nid"))).as("nn"))
    assigned.select(col("vec_id"), col("cid"))
      .join(nn, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        (-col("nn.nid")).as("nn_id"), col("nn.cos").as("nn_cos"))
      .orderBy("vec_id")
  }

  def knnGraphSql: String =
    s"""WITH $kmeansCtesSql,
       |pairs AS (
       |  SELECT a.vec_id, a.cid, b.vec_id AS o_id,
       |    round(${cosineSql("a.vec", "b.vec")}, 6) AS cos
       |  FROM afinal a JOIN afinal b
       |    ON a.cid = b.cid AND b.vec_id <> a.vec_id),
       |nn AS (
       |  SELECT vec_id, o_id, cos,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, o_id ASC) AS rn
       |  FROM pairs)
       |SELECT f.vec_id, f.cid, nn.o_id AS nn_id, nn.cos AS nn_cos
       |FROM afinal f LEFT JOIN nn ON nn.vec_id = f.vec_id AND nn.rn = 1
       |ORDER BY f.vec_id""".stripMargin

  val annRecallSql: String = {
    val total = NQueries * 3
    def leg(method: String, sql: String): String =
      s"""SELECT '$method' AS method, count(*) AS hits, ${total}::BIGINT AS total,
         |  round(count(*) / ${total}.0, 4) AS recall
         |FROM ($sql) r
         |JOIN gt ON r.query_id = gt.query_id AND r.neighbor_id = gt.neighbor_id""".stripMargin
    s"""WITH gt AS (
       |  SELECT query_id, neighbor_id FROM ($annBruteForceSql) b WHERE rank <= 3)
       |${leg("ivf", annIvfSql)}
       |UNION ALL
       |${leg("lsh_bucketed", annLshBucketedSql)}
       |ORDER BY method""".stripMargin
  }

  val centroidAssignSql: String =
    s"""WITH e AS ($embSql),
       |flat AS (
       |  SELECT label, d, avg(vec[d]) AS cx
       |  FROM e, (SELECT unnest(range(1, $Dim + 1)) AS d)
       |  GROUP BY label, d),
       |cent AS (
       |  SELECT label AS c_label, list(round(cx, 6) ORDER BY d) AS c_vec
       |  FROM flat GROUP BY label),
       |scored AS (
       |  SELECT vec_id, label, c_label, ${cosineSql("vec", "c_vec")} AS cos
       |  FROM e, cent),
       |ranked AS (
       |  SELECT vec_id, label, c_label, cos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label) AS rn
       |  FROM scored)
       |SELECT vec_id, label, c_label AS assigned_label, label = c_label AS is_match
       |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---- int8 embedding quantization ---------------------------------------

  /** Symmetric per-vector int8 quantization — the serving-side compression
    * every embedding store applies (4 bytes -> 1 byte per dim): scale =
    * max|x| / 127, code = clamp(floor(x/scale + 0.5), ±127). Entirely
    * map-side (the scale is an array fold, no shuffle) — at 100 TB this
    * runs at scan speed as a projection. Rounding is an explicit
    * `floor(x + 0.5)` on BOTH engines, sidestepping round()'s half-even /
    * half-up ambiguity at code boundaries.
    */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("scale",
        greatest(
          aggregate(col("vec"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0,
          lit(1e-12)))
      .select(col("vec_id"), col("scale"), posexplode(col("vec")).as(Seq("p", "x")))
      .select(
        col("vec_id"), (col("p") + 1).as("d"),
        round(col("scale"), 9).as("scale"),
        greatest(least(floor(col("x") / col("scale") + 0.5), lit(127.0)), lit(-127.0))
          .cast("long").as("qcode"))
      .orderBy("vec_id", "d")

  val quantizeInt8Sql: String =
    s"""WITH e AS ($embSql),
       |sc AS (
       |  SELECT vec_id, vec,
       |    greatest(list_max(list_transform(vec, x -> abs(x))) / 127.0, 1e-12) AS scale
       |  FROM e)
       |SELECT vec_id, d, round(scale, 9) AS scale,
       |  greatest(least(floor(vec[d] / scale + 0.5), 127.0), -127.0)::BIGINT AS qcode
       |FROM sc, (SELECT unnest(range(1, $Dim + 1)) AS d)
       |ORDER BY vec_id, d""".stripMargin

  /** Matryoshka-style dimension truncation audit: keep the first k dims and
    * report how much of each vector's energy (L2 mass) the prefix retains —
    * the metric that decides whether truncated embeddings are usable for
    * coarse search (the matryoshka-representation training contract).
    * Map-side only; float→double casts are exact so both engines fold the
    * identical doubles in the identical order, 6dp absorbs fold residue.
    */
  def matryoshkaEnergy(s: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val energy = (v: Column) => aggregate(v, lit(0.0), (a, x) => a + x * x)
    emb(s, dir)
      .select(col("vec_id"),
        sqrt(energy(slice(col("vec"), 1, k))).as("sub"),
        sqrt(energy(col("vec"))).as("full"))
      .select(
        col("vec_id"),
        round(col("sub"), 6).as("sub_norm"),
        round(col("full"), 6).as("full_norm"),
        round(col("sub") / col("full"), 6).as("energy_kept"))
      .orderBy("vec_id")
  }

  def matryoshkaEnergySql(k: Int = 16): String =
    s"""WITH e AS ($embSql),
       |n AS (
       |  SELECT vec_id,
       |    sqrt(list_sum(list_transform(list_slice(vec, 1, $k), x -> x * x))) AS sub,
       |    sqrt(list_sum(list_transform(vec, x -> x * x))) AS "full"
       |  FROM e)
       |SELECT vec_id, round(sub, 6) AS sub_norm, round("full", 6) AS full_norm,
       |  round(sub / "full", 6) AS energy_kept
       |FROM n ORDER BY vec_id""".stripMargin

  // ---- product quantization (PQ-ADC) -------------------------------------

  /** PQ constants: m=16 subspaces of 4 dims, 16-entry L2 codebook per
    * subspace, 2 Lloyd rounds (unrolled in the oracle). A 64-float vector
    * compresses to 16 one-byte codes (16× compression) — the memory
    * transform that lets a 100 TB embedding corpus live in cluster RAM
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011). Parameters tuned by measurement: recall@3 after re-rank
    * = 0.92 / 0.96 / 0.92 at sf0.001/0.01/0.1 (m=8 gave 0.83, m=4 gave
    * 0.3 — the spec pins ≥0.9).
    */
  val PqM = 16
  val SubDim: Int = Dim / PqM
  val PqK = 16
  val PqIters = 2
  val PqShortlist = 64

  private def subvec(c: Column, j: Int): Column = slice(c, j * SubDim + 1, SubDim)

  /** Squared-L2 between equal-length double arrays (PQ's native metric) —
    * the codegen'd single-pass [[graft.functions.L2SquaredDistance]].
    */
  def l2sq(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.l2_sq(a, b)

  def l2sqSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, $SubDim + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** Per-subspace codebooks: deterministic L2 k-means (seeds = subvectors
    * of the first k ids, per-round 6dp rounding), trained once per
    * (session, input) and persisted — PQ mirrors the IVF pattern: train
    * once per corpus version, every consumer loads the materialized
    * codebooks. Output: (j, cid, c_vec).
    */
  private val codebookCache =
    IndexMemo.cache[(SparkSession, String), (DataFrame, Seq[Row])]()

  /** Nearest codeword per (vec_id, j) by squared L2, ties to the smaller
    * cid — the [[graft.functions.NearestCentroid]] kernel against subspace
    * j's codebook, one map-side projection (no join on j, no
    * (vec_id, j) window). `books` is the per-j candidate array
    * ([[codebookCands]]).
    */
  private[graft] def pqAssign(sub: DataFrame, books: Column): DataFrame =
    sub.withColumn("best", graft.functions.VectorExpressions
        .nearest(col("sv"), books.getItem(col("j")), "l2"))
      .select(col("vec_id"), col("j"), col("sv"), col("best.cid").as("cid"))

  /** (j, cid, c_vec) rows → one candidate array per subspace j. */
  private def codebookCands(books: Seq[Row]): Column = {
    val byJ = books.groupBy(_.getInt(0))
    require((0 until PqM).forall(byJ.contains), "a PQ subspace has no codebook")
    graft.functions.VectorExpressions.candidateSets((0 until PqM).map(j =>
      byJ(j).map(r => Row(r.getLong(1), r.get(2)))))
  }

  private val CodebookSchema =
    StructType(StructField("j", IntegerType, nullable = false) +: CentroidSchema.fields.toSeq)

  private def codebookRows(books: DataFrame): Array[Row] =
    books.select(col("j").cast("int"), col("cid").cast("long"), col("c_vec")).collect()

  private def pqTrained(s: SparkSession, dir: String): (DataFrame, Seq[Row]) =
    IndexMemo(codebookCache, (s, dir))(
      trainedArtifact(s, artifactName("pq-codebooks", dir),
        s"${Tables.fileIdent(dir, "embeddings")}|m=$PqM|k=$PqK|iters=$PqIters$TrainForm",
        CodebookSchema)(computePqCodebooks(s, dir))(codebookRows(_).toSeq))

  private[graft] def pqCodebooks(s: SparkSession, dir: String): DataFrame =
    pqTrained(s, dir)._1

  /** The codebooks as the per-subspace [[pqAssign]] candidate literal. */
  private[graft] def pqCands(s: SparkSession, dir: String): Column =
    codebookCands(pqTrained(s, dir)._2)

  /** Same Lloyd loop as [[computeKmeansCentroids]], per subspace: each
    * round is one map-side [[pqAssign]] pass, one (j, cid) mean shuffle,
    * and an m·k-row collect. */
  private def computePqCodebooks(s: SparkSession, dir: String): Seq[Row] = {
    val sub = pqSubvectors(s, dir)
    // subvector j of a seed is a copy of nvec[j·SubDim, (j+1)·SubDim), as
    // `slice` takes it
    var books = for {
      r <- seedVectors(s, dir) if r.getLong(0) < PqK
      nvec = r.getSeq[Any](2)
      j <- 0 until PqM
    } yield Row(j, r.getLong(0), nvec.slice(j * SubDim, (j + 1) * SubDim))
    for (_ <- 1 to PqIters)
      books = meanUpdate(pqAssign(sub, codebookCands(books)), Seq("j", "cid"), "sv",
        SubDim).collect().toSeq
    books.sortBy(r => (r.getInt(0), r.getLong(1)))
  }

  /** Encoded corpus (vec_id, codes[m]) with codes[j] = the nearest
    * codeword of subspace j — the PQ codes table, built once per (session,
    * input) and persisted like the codebooks: both ADC consumers
    * ([[annPqAdc]], [[annIvfPq]]) read the same 16-codes-per-vector table
    * instead of re-encoding the corpus. THIS is the production layout — m
    * small ints per vector, the 16×-compressed corpus a 100 TB ADC scan
    * reads — and the encode writes it directly, so no consumer folds the
    * long form back per vector.
    */
  private val codesCache =
    IndexMemo.cache[(SparkSession, String), DataFrame]()

  private def pqCodesWide(s: SparkSession, dir: String): DataFrame =
    IndexMemo(codesCache, (s, dir))(
      IndexStore.loadOrBuild(s, artifactName("pq-codes", dir),
        s"${Tables.fileIdent(dir, "embeddings")}|m=$PqM|k=$PqK|iters=$PqIters$TrainForm")(
        pqEncode(s, dir)))

  /** The long (vec_id, j, cid) normal form of the codes table, the shape
    * the oracle and the saved index use: a map-side posexplode. */
  private[graft] def pqCodes(s: SparkSession, dir: String): DataFrame =
    pqCodesWide(s, dir)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "cid")))

  /** The codes build [[pqCodesWide]] persists: ONE projection over the
    * normalized vectors, m [[pqAssign]]-kernel elections per row against
    * the trained codebooks (no explode, no window, no regroup). */
  private[graft] def pqEncode(s: SparkSession, dir: String): DataFrame = {
    val books = pqCands(s, dir)
    pqNormalized(s, dir).select(col("vec_id"),
      array((0 until PqM).map(j => graft.functions.VectorExpressions
        .nearest(subvec(col("nvec"), j), books.getItem(j), "l2")
        .getField("cid")): _*).as("codes"))
  }

  /** (vec_id, vec, nvec): each vector and its L2-NORMALIZED form. Normalization first makes
    * squared-L2 order-equivalent to cosine (‖a−b‖² = 2 − 2·cos on the unit
    * sphere), so ADC ranks agree with the cosine ground truth the other
    * ANN variants use.
    */
  private def pqNormalized(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("nrm", sqrt(dot(col("vec"), col("vec"))))
      .select(col("vec_id"), col("vec"), transform(col("vec"), x => x / col("nrm")).as("nvec"))

  /** (vec_id, j, sv): [[pqNormalized]] exploded into its m subvectors. */
  private[graft] def pqSubvectors(s: SparkSession, dir: String): DataFrame =
    pqNormalized(s, dir)
      .select(
        col("vec_id"),
        explode(array((0 until PqM).map(j =>
          struct(lit(j).as("j"), subvec(col("nvec"), j).as("sv"))): _*)).as("p"))
      .select(col("vec_id"), col("p.j").as("j"), col("p.sv").as("sv"))

  /** PQ-ADC top-3: encode every vector as m codebook ids (map-side after a
    * broadcast of the m·k codebooks), build the per-query distance lookup
    * table (q × m × k rows — broadcast), and rank candidates by the
    * asymmetric distance Σ_j table[j, code_j]. The sum folds the m
    * sub-distances IN SUBSPACE ORDER on both engines (sorted array fold
    * here, ORDER BY j list in the oracle) so reassociation can't flip a
    * rank. Scan cost per query is m lookups per candidate instead of a
    * 64-dim dot product; composition with the IVF cells of [[annIvf]]
    * (probe cells, then ADC within) is the full IVF-PQ layout.
    */
  def annPqAdc(s: SparkSession, dir: String): DataFrame =
    adcShortlistRerank(s, dir, cand = None)

  /** Wide per-query ADC lookup table: (query_id, dtab[m·k]) with
    * dtab[j·k + cid] = d2(query subvector j, codebook entry cid) — the
    * flat distance table a real ADC kernel indexes. q rows, broadcast.
    *
    * One projection over the q query vectors against the DENSE codebook
    * literal (k slots per subspace), not a join on j into a per-query
    * regroup: k-means may STARVE a codebook entry (the update step emits
    * no row for an empty cluster), and a flat table with a silent gap
    * shifts every lookup after it. A starved slot holds an inert sentinel
    * (1e18) — never read, because [[pqAssign]] only ever codes against
    * EXISTING centroids, so no `codes[j]` can reference a starved cid; a
    * sentinel (not null) keeps both engines' list semantics trivially
    * index-aligned. Each d2 is the same `l2_sq` of the same subvector and
    * codeword as before, so the table is bit-identical.
    */
  private val lutWideCache =
    IndexMemo.cache[(SparkSession, String), DataFrame]()

  private def pqLutWide(s: SparkSession, dir: String): DataFrame =
    // memoized + persisted: q rows of m·k doubles, re-scanned and
    // re-broadcast on every execution otherwise
    IndexMemo(lutWideCache, (s, dir)) {
      val books = pqTrained(s, dir)._2.groupBy(_.getInt(0))
        .map { case (j, rows) => j -> rows.map(r => r.getLong(1).toInt -> r.get(2)).toMap }
      val dense = org.apache.spark.sql.graftbridge.Bridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          (0 until PqM).map(j => (0 until PqK).map(cid => books.get(j).flatMap(_.get(cid)).orNull)),
          ArrayType(ArrayType(ArrayType(DoubleType)))))
      pqNormalized(s, dir).where(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"),
          flatten(array((0 until PqM).map(j => transform(dense.getItem(j),
            c => coalesce(l2sq(subvec(col("nvec"), j), c), lit(1e18)))): _*)).as("dtab"))
        .persist()
    }

  /** The shared ADC tail used by [[annPqAdc]] (cand = None → every
    * (query, vector) pair) and [[annIvfPq]] (cand = the probed-cell
    * members): ADC sum folded IN SUBSPACE ORDER, `PqShortlist` shortlist,
    * exact cosine re-rank, top-3. One implementation, one tie-break,
    * mirrored by one oracle tail.
    *
    * Scale shape: the scan side carries only (vec_id, codes[m]) — m small
    * ints per corpus vector — and each query's flat distance table rides
    * in as a broadcast row; the ADC sum is a MAP-SIDE fixed-order fold
    * (j = 0..m−1, so reassociation can't flip a rank vs the oracle's
    * ORDER BY j list_sum), m array lookups per candidate, no shuffle until
    * the per-query shortlist. The previous long-form shape joined codes to
    * the LUT on (j, cid) — an n·m·q-row shuffle into an m-way
    * collect_list per pair — which at 100 TB moves m rows per
    * (vector, query) where this moves one.
    */
  private def adcShortlistRerank(
      s: SparkSession, dir: String, cand: Option[DataFrame],
      codesOverride: Option[DataFrame] = None): DataFrame = {
    val lutW = pqLutWide(s, dir)
    val codes = codesOverride.getOrElse(pqCodesWide(s, dir))
    val pairs = cand match {
      case Some(c) => c.join(codes, "vec_id")
        .join(broadcast(lutW), "query_id")
      case None => codes
        .crossJoin(broadcast(lutW))
        .where(col("vec_id") =!= col("query_id"))
    }
    val shortW = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2").asc, col("vec_id"))
    // native one-loop ADC sum (round-18): the composed fold (kept in
    // VectorExpressionSpec as `adcFoldComposed`, the parity reference) was
    // an interpreted HigherOrderFunction allocating an m-element sequence
    // + lambda rows per (candidate, query) PAIR — the exact stream whose
    // row count IS the ADC scan. Same left-fold order, bit-identical sums.
    val shortlist = pairs
      .withColumn("adc_d2", graft.functions.VectorExpressions
        .adc_sum(col("codes"), col("dtab"), PqK))
      .withColumn("srank", row_number().over(shortW))
      .where(col("srank") <= PqShortlist)
    // exact re-rank of the shortlist: fetch the ORIGINAL vectors by key
    // (codes/LUT never carried them) and score the true cosine
    val e = emb(s, dir)
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    shortlist
      .join(e.select(col("vec_id"), col("vec")), "vec_id")
      .join(broadcast(e.where(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("vec").as("q_vec"))), "query_id")
      .withColumn("cos", cosine(col("vec"), col("q_vec")))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  // ---- incremental index maintenance --------------------------------------

  /** `q_ann_incremental`: the PQ codes live in a TRANSACTIONAL
    * [[MergeTable]] and the index grows incrementally — wave 0 indexes
    * half the corpus, wave 1 encodes the other half against the FROZEN
    * codebooks and MERGEs it in (txn-guarded, so a replayed ingest batch
    * can't double-index). The ADC query then runs over the incremental
    * table and must equal the single-shot index BIT-FOR-BIT — the oracle
    * is [[annPqAdcSql]] verbatim. This is the "add new vectors after
    * training" path the durable-index tier needs: encoding is per-vector
    * map-side against the broadcast codebooks, the merge touches only
    * key-range-overlapping files, and un-indexing a vector is the same
    * table's keyed DELETE.
    */
  def annPqAdcIncremental(s: SparkSession, dir: String): DataFrame = {
    val table = MergeTable.scratchTable(s, dir, "incr-pq-codes") { t =>
      val wide = pqCodesWide(s, dir)
      MergeTable.mergeUpsert(s, t, wide.where(pmod(col("vec_id"), lit(2)) === 0),
        Seq("vec_id"), Seq("vec_id"), txn = Some(("ann-ingest", 0L)))
      MergeTable.mergeUpsert(s, t, wide.where(pmod(col("vec_id"), lit(2)) === 1),
        Seq("vec_id"), Seq("vec_id"), txn = Some(("ann-ingest", 1L)))
    }
    adcShortlistRerank(s, dir, cand = None,
      codesOverride = Some(MergeTable.read(s, table)))
  }

  private def pqAssignCteSql(name: String, subCte: String, centCte: String): String =
    s"""$name AS (
       |  SELECT vec_id, j, sv, cid, d2 FROM (
       |    SELECT s.vec_id, s.j, s.sv, c.cid, ${l2sqSql("sv", "c_vec")} AS d2,
       |      row_number() OVER (PARTITION BY s.vec_id, s.j
       |        ORDER BY ${l2sqSql("sv", "c_vec")} ASC, c.cid) AS rn
       |    FROM $subCte s JOIN $centCte c ON s.j = c.j)
       |  WHERE rn = 1)""".stripMargin

  private def pqUpdateCteSql(name: String, assignCte: String): String =
    s"""$name AS (
       |  SELECT j, cid, list(round(cx, 6) ORDER BY d) AS c_vec FROM (
       |    SELECT j, cid, d, avg(sv[d]) AS cx
       |    FROM $assignCte, (SELECT unnest(range(1, $SubDim + 1)) AS d)
       |    GROUP BY j, cid, d)
       |  GROUP BY j, cid)""".stripMargin

  val annPqAdcSql: String = {
    val rounds = (1 to PqIters).map { i =>
      pqAssignCteSql(s"pa$i", "sub", s"pc${i - 1}") + ",\n" +
        pqUpdateCteSql(s"pc$i", s"pa$i")
    }.mkString(",\n")
    s"""WITH e AS ($embSql),
       |n AS (
       |  SELECT vec_id,
       |    list_transform(vec, x -> x / sqrt(${dotSql("vec", "vec")})) AS nvec
       |  FROM e),
       |sub AS (
       |  SELECT vec_id, j, list_slice(nvec, j * $SubDim + 1, (j + 1) * $SubDim) AS sv
       |  FROM n, (SELECT unnest(range(0, $PqM)) AS j)),
       |pc0 AS (SELECT j, vec_id AS cid, sv AS c_vec FROM sub WHERE vec_id < $PqK),
       |$rounds,
       |${pqAssignCteSql("codes", "sub", s"pc$PqIters")},
       |lut AS (
       |  SELECT s.vec_id AS query_id, s.j, c.cid, ${l2sqSql("sv", "c_vec")} AS d2
       |  FROM sub s JOIN pc$PqIters c ON s.j = c.j
       |  WHERE s.vec_id < $NQueries),
       |codesw AS (SELECT vec_id, list(cid ORDER BY j) AS codes FROM codes GROUP BY vec_id),
       |lutw AS (
       |  SELECT q.query_id, list(coalesce(l.d2, 1e18) ORDER BY sp.j, sp.cid) AS dtab
       |  FROM (SELECT DISTINCT query_id FROM lut) q
       |  CROSS JOIN (
       |    SELECT j1.j, c1.cid
       |    FROM (SELECT unnest(range($PqM)) AS j) j1,
       |         (SELECT unnest(range($PqK)) AS cid) c1) sp
       |  LEFT JOIN lut l ON l.query_id = q.query_id AND l.j = sp.j AND l.cid = sp.cid
       |  GROUP BY q.query_id),
       |adc AS (
       |  SELECT l.query_id, k.vec_id,
       |    list_sum(list_transform(range(0, $PqM),
       |      j -> l.dtab[j * $PqK + k.codes[j + 1] + 1])) AS adc_d2
       |  FROM codesw k, lutw l
       |  WHERE k.vec_id <> l.query_id),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_d2 ASC, vec_id) AS srank
       |    FROM adc)
       |  WHERE srank <= $PqShortlist),
       |rer AS (
       |  SELECT s.query_id, s.vec_id, ${cosineSql("en.vec", "eq.vec")} AS cos
       |  FROM short s
       |  JOIN e en ON s.vec_id = en.vec_id
       |  JOIN e eq ON s.query_id = eq.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, vec_id) AS rank
       |  FROM rer)
       |SELECT query_id, rank::BIGINT AS rank, vec_id AS neighbor_id,
       |  round(cos, 6) AS cosine
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  // ---- IVF × PQ composition ----------------------------------------------

  /** The full FAISS-style IVFADC layout, composed from the two trained
    * index halves this engine already materializes: the k-means coarse
    * quantizer ([[kmeansCentroids]]) restricts each query to its nprobe
    * cells, and ADC over the PQ codes ([[pqCodebooks]]) scores ONLY those
    * cells' members, with the usual exact re-rank of the shortlist. At
    * 100 TB this is the query path: per query, (nprobe/k)·n candidates ×
    * m byte-lookups, plus `PqShortlist` exact cosines — the corpus is
    * touched only through its 16-byte codes and the probed cells.
    */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val cand = coarseCells(s, dir).select(col("vec_id"), col("cell"))
      .join(broadcast(probeCells(s, dir).select(col("query_id"), col("probe_cell"))),
        col("cell") === col("probe_cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    adcShortlistRerank(s, dir, cand = Some(cand))
  }

  val annIvfPqSql: String = {
    val rounds = (1 to PqIters).map { i =>
      pqAssignCteSql(s"pa$i", "sub", s"pc${i - 1}") + ",\n" +
        pqUpdateCteSql(s"pc$i", s"pa$i")
    }.mkString(",\n")
    s"""WITH $kmeansCtesSql,
       |probes AS (
       |  SELECT query_id, cid AS probe_cell FROM (
       |    SELECT e.vec_id AS query_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("vec", "c_vec")} DESC, c.cid) AS c_rn
       |    FROM e, c$KmeansIters c WHERE e.vec_id < $NQueries)
       |  WHERE c_rn <= $IvfProbes),
       |nrm AS (
       |  SELECT vec_id,
       |    list_transform(vec, x -> x / sqrt(${dotSql("vec", "vec")})) AS nvec
       |  FROM e),
       |sub AS (
       |  SELECT vec_id, j, list_slice(nvec, j * $SubDim + 1, (j + 1) * $SubDim) AS sv
       |  FROM nrm, (SELECT unnest(range(0, $PqM)) AS j)),
       |pc0 AS (SELECT j, vec_id AS cid, sv AS c_vec FROM sub WHERE vec_id < $PqK),
       |$rounds,
       |${pqAssignCteSql("codes", "sub", s"pc$PqIters")},
       |lut AS (
       |  SELECT s.vec_id AS query_id, s.j, c.cid, ${l2sqSql("sv", "c_vec")} AS d2
       |  FROM sub s JOIN pc$PqIters c ON s.j = c.j
       |  WHERE s.vec_id < $NQueries),
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM afinal a JOIN probes p
       |    ON a.cid = p.probe_cell AND a.vec_id <> p.query_id),
       |codesw AS (SELECT vec_id, list(cid ORDER BY j) AS codes FROM codes GROUP BY vec_id),
       |lutw AS (
       |  SELECT q.query_id, list(coalesce(l.d2, 1e18) ORDER BY sp.j, sp.cid) AS dtab
       |  FROM (SELECT DISTINCT query_id FROM lut) q
       |  CROSS JOIN (
       |    SELECT j1.j, c1.cid
       |    FROM (SELECT unnest(range($PqM)) AS j) j1,
       |         (SELECT unnest(range($PqK)) AS cid) c1) sp
       |  LEFT JOIN lut l ON l.query_id = q.query_id AND l.j = sp.j AND l.cid = sp.cid
       |  GROUP BY q.query_id),
       |adc AS (
       |  SELECT c.query_id, c.vec_id,
       |    list_sum(list_transform(range(0, $PqM),
       |      j -> l.dtab[j * $PqK + k.codes[j + 1] + 1])) AS adc_d2
       |  FROM cand c
       |  JOIN codesw k ON c.vec_id = k.vec_id
       |  JOIN lutw l ON l.query_id = c.query_id),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_d2 ASC, vec_id) AS srank
       |    FROM adc)
       |  WHERE srank <= $PqShortlist),
       |rer AS (
       |  SELECT s.query_id, s.vec_id, ${cosineSql("en.vec", "eq.vec")} AS cos
       |  FROM short s
       |  JOIN e en ON s.vec_id = en.vec_id
       |  JOIN e eq ON s.query_id = eq.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, vec_id) AS rank
       |  FROM rer)
       |SELECT query_id, rank::BIGINT AS rank, vec_id AS neighbor_id,
       |  round(cos, 6) AS cosine
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }
}
