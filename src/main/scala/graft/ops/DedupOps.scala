package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import TextOps.{hash60, hash60Sql}

/** Document deduplication for a training-data pipeline, at four fidelity
  * levels (SURVEY north-star ops): exact hash, n-gram Jaccard, MinHash+LSH,
  * SimHash. All hashing is the md5-prefix 60-bit int so every stage has an
  * exact DuckDB oracle.
  *
  * Scale design:
  *  - exact dedup: one shuffle on the content hash (never on the text).
  *  - pairwise Jaccard joins on the SHINGLE (inverted-index join), never a
  *    doc×doc cross join; the per-source partitioning bounds candidate
  *    fan-out the way a real pipeline buckets by shard.
  *  - MinHash/LSH: signatures are computed map-side in one pass (nested
  *    higher-order lambdas, no explode), the only shuffles are the band
  *    bucket join and the verification join — both on short keys. This is
  *    the 100 TB path: candidate pairs ∝ collisions, not n².
  *  - SimHash: fingerprint is map-side; near-dup candidates compare by
  *    XOR popcount within buckets.
  */
object DedupOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")

  // ---- exact dedup --------------------------------------------------------

  /** Exact dedup by content hash: canonical = min doc_id per hash. The
    * groupBy key is the 32-char md5, not the document body — at 100 TB the
    * shuffle moves 32 bytes/doc.
    */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id_kept"), count(lit(1)).as("n_copies"))
      .select(col("doc_id_kept"), col("n_copies"), col("text_hash"))
      .orderBy("doc_id_kept")

  val exactDedupSql: String =
    """SELECT min(doc_id) AS doc_id_kept, count(*) AS n_copies, md5(text) AS text_hash
      |FROM documents GROUP BY md5(text) ORDER BY doc_id_kept""".stripMargin

  /** Normalization-aware exact dedup (the Gopher/MassiveText "fuzzy exact"
    * tier between [[exactDedup]] and MinHash): documents are keyed by the
    * md5 of their NORMALIZED text — lowercased, punctuation replaced by
    * space, whitespace collapsed, trimmed — so trivially reformatted
    * copies (casing, punctuation, spacing) collapse into one group that
    * the raw hash misses. `n_raw_variants` counts the distinct RAW hashes
    * each normalized group absorbed (> 1 ⟺ normalization did work).
    * Same 100 TB shape as [[exactDedup]]: normalization is map-side, the
    * one shuffle carries a 32-byte hash per document, and the variant
    * count is a distinct over ≤ n_copies hashes per group.
    */
  def normalizedDedup(s: SparkSession, dir: String): DataFrame =
    normalizedDedupOf(docs(s, dir))

  /** Core form over any (doc_id, text) frame — spec-driven with planted
    * reformatted copies (the real corpus has none). */
  private[graft] def normalizedDedupOf(d: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    d
      .select(col("doc_id"), md5(col("text")).as("raw_hash"), md5(norm).as("norm_hash"))
      .groupBy(col("norm_hash"))
      .agg(
        min(col("doc_id")).as("doc_id_kept"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("raw_hash")).as("n_raw_variants"))
      .select(col("doc_id_kept"), col("n_copies"), col("n_raw_variants"),
        col("norm_hash"))
      .orderBy("doc_id_kept")
  }

  val normalizedDedupSql: String =
    """SELECT min(doc_id) AS doc_id_kept, count(*) AS n_copies,
      |  count(DISTINCT md5(text)) AS n_raw_variants,
      |  md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash
      |FROM documents
      |GROUP BY norm_hash ORDER BY doc_id_kept""".stripMargin

  // ---- shared shingling ---------------------------------------------------

  /** Distinct word-bigram shingles of a materialized `toks` array column.
    * Bigrams (not unigrams) because the corpus shares a small vocabulary —
    * unigram sets barely discriminate; bigram Jaccard separates the planted
    * near-dups (≥0.5) from random pairs (≈0.03) by an order of magnitude.
    *
    * MUST be applied over an already-selected `toks` attribute: inlining
    * `split(text)` into the lambda re-splits per element (O(n²)/row).
    */
  def bigramShingles: Column =
    // try_element_at: a 1-token document probes index 2 of a 1-element
    // array, which THROWS under ANSI mode — the null → concat_ws skips it
    // and yields the bare token, exactly the oracle's
    // `|| coalesce(' ' || next, '')` (pinned by the PropertySpec naive
    // recount, whose generator does produce 1-token docs)
    expr(
      """array_distinct(transform(
        |  sequence(1, greatest(size(toks) - 1, 1)),
        |  i -> concat_ws(' ', element_at(toks, i), try_element_at(toks, i + 1))))""".stripMargin)

  /** THE oracle-side shingle list — single source of truth interpolated by
    * every dedup oracle below. `|| coalesce(' ' || next, '')` reproduces
    * Spark's concat_ws null-skipping exactly: a 1-token document yields the
    * bare token on BOTH engines (the degenerate case the corpus never hits
    * today, pinned so a future corpus with short docs cannot diverge).
    */
  val shingleListSql: String =
    """list_distinct(list_transform(
      |  range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1),
      |  i -> string_split(text, ' ')[i] || coalesce(' ' || string_split(text, ' ')[i + 1], '')))""".stripMargin

  /** Exploded (doc_id, source, shingle) inverted index — tokens
    * materialized first (see [[bigramShingles]]), computed ONCE per
    * (session, input) and persisted: it is the shared input of the n-gram
    * Jaccard self-join (which references it 3× in one plan), the MinHash
    * signature/verify stages and the SimHash vote — without sharing, one
    * bench/verify process re-splits and re-explodes the corpus ~6×. Same
    * production pattern as [[verifiedNearDupPairs]]: at 100 TB the
    * tokenized index is materialized to storage once per run and every
    * dedup stage reads the materialization.
    */
  private val shingleCache =
    IndexMemo.cache[(SparkSession, String), DataFrame]()

  /** Exploded (doc_id, source, shingle) index of an arbitrary
    * (doc_id, source, text) frame — the uncached form [[shingleIndex]]
    * memoizes, also used directly by [[graft.ScaleProbe]] on synthetic
    * corpora.
    */
  private[graft] def shingleIndexOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("source"), TextOps.tokens.as("toks"))
      .select(col("doc_id"), col("source"), explode(bigramShingles).as("shingle"))

  private[graft] def shingleIndex(s: SparkSession, dir: String): DataFrame =
    IndexMemo(shingleCache, (s, dir))(shingleIndexOf(docs(s, dir)).persist())

  private val shingleIndexSql: String =
    s"""SELECT doc_id, source, unnest($shingleListSql) AS shingle
       |FROM documents""".stripMargin

  // ---- n-gram Jaccard near-dup -------------------------------------------

  /** Pairwise bigram-Jaccard near-duplicates within each source shard:
    * inverted-index self-join on the shingle → common counts → exact
    * rational Jaccard (int arithmetic on both engines — no float boundary
    * risk at the threshold).
    */
  def ngramJaccardDedup(s: SparkSession, dir: String, threshold: Double = 0.3): DataFrame = {
    // join key = 64-bit hash of (source, shingle): the self-join shuffle
    // moves 16-byte rows instead of source+shingle strings. xxhash64 is
    // internal-only (never compared against the oracle); a collision
    // inflating a common-count has probability ~rows²/2⁶⁴ — immaterial.
    val idx = shingleIndex(s, dir)
      .select(col("doc_id"), xxhash64(col("source"), col("shingle")).as("k"))
    val counts = idx.groupBy(col("doc_id").as("c_doc")).agg(count(lit(1)).as("n_sh"))
    val a = idx.select(col("doc_id").as("doc_a"), col("k"))
    val b = idx.select(col("doc_id").as("doc_b"), col("k").as("k_b"))
    val common = a.join(
      b,
      col("k") === col("k_b") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    // counts has ONE ROW PER DOCUMENT — linear in the corpus — so the two
    // joins are deliberately unhinted: AQE broadcasts while the aggregate
    // is small and falls back to a doc_id shuffle join at corpus scale
    // (a forced broadcast would push 10⁹⁺ rows through the driver at 100 TB)
    common
      .join(counts.as("ca"), col("doc_a") === col("ca.c_doc"))
      .withColumnRenamed("n_sh", "n_a").drop("c_doc")
      .join(counts.as("cb"), col("doc_b") === col("cb.c_doc"))
      .withColumnRenamed("n_sh", "n_b").drop("c_doc")
      .withColumn(
        "jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  def ngramJaccardDedupSql(threshold: Double = 0.3): String =
    s"""WITH idx AS ($shingleIndexSql),
       |counts AS (SELECT doc_id AS c_doc, count(*) AS n_sh FROM idx GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM idx a JOIN idx b
       |    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common), 4) AS jaccard
       |FROM common
       |JOIN counts ca ON doc_a = ca.c_doc
       |JOIN counts cb ON doc_b = cb.c_doc
       |WHERE n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- MinHash + LSH near-dup --------------------------------------------

  val MinhashK = 8        // signature length
  val LshBands = 4        // bands of rows=2 → candidate iff a full band matches

  /** MinHash prime modulus and the k affine hash functions
    * sig_j = (A(j)·(h mod P) + B(j)) mod P over the base shingle hash h.
    * ONE md5 per shingle + k integer ops replaces k md5s per shingle (8×
    * fewer digests on the hot path); the affine family is the textbook
    * universal-hash construction and both engines reproduce it exactly in
    * 64-bit integer arithmetic (operands < 2⁶²).
    */
  val MinhashP = 2147483647L // 2³¹ − 1
  def minhashA(j: Int): Long = 976369L * (2L * j + 1) % MinhashP
  def minhashB(j: Int): Long = 1013904223L * (j + 1) % MinhashP

  /** Full MinHash/LSH pipeline, map-reduce form: explode shingles once
    * (split/md5 each evaluated exactly once per shingle — a nested
    * higher-order-function form re-evaluates `split(text)` per lambda
    * element, which is O(n²)/row and 20× slower), cross with the k affine
    * seeds, min-reduce to (doc, band) keys, bucket-join colliding bands,
    * verify candidates with exact bigram Jaccard. Output = verified
    * near-dup pairs. The bucket join is the only quadratic-ish step and it
    * only sees collisions.
    */
  def minhashLshDedup(s: SparkSession, dir: String, threshold: Double = 0.3): DataFrame =
    verifiedNearDupPairs(s, dir, threshold).orderBy("doc_a", "doc_b")

  /** The verified near-dup pair table, computed ONCE per (session, input,
    * threshold) and persisted — `q_dedup_minhash_lsh` projects it and
    * `q_dedup_clusters` builds components over it, so a process running both
    * pays the MinHash pipeline once. This mirrors production: at 100 TB the
    * pair table is materialized to storage once per run and every downstream
    * consumer (cluster formation, kept/dropped lists, audits) reads the
    * materialization, never recomputes. The cache is bounded: pairs ∝
    * verified near-dups, orders of magnitude smaller than the corpus.
    */
  private val pairsCache =
    IndexMemo.cache[(SparkSession, String, Double), DataFrame]()

  /** Artifact name carrying the sf-dir tag so [[IndexStore.loadOrBuild]]'s
    * stale-generation cleanup never evicts a DIFFERENT scale factor's
    * artifact, only an older generation of this one.
    */
  private def artifactName(base: String, dir: String): String =
    IndexStore.scopedName(base, dir)

  def verifiedNearDupPairs(
      s: SparkSession, dir: String, threshold: Double = 0.3): DataFrame =
    IndexMemo(pairsCache, (s, dir, threshold))(
      // caller-variable params live in the NAME, not just the identity:
      // the stale-generation sweep deletes same-name siblings, and two
      // thresholds must be two artifacts, not one thrashing slot
      IndexStore.loadOrBuild(s, artifactName(s"neardup-pairs-t$threshold", dir),
        s"${Tables.fileIdent(dir, "documents")}|k=$MinhashK|b=$LshBands")(
        computeMinhashLsh(s, dir, threshold)))

  /** MinHash band-collision CANDIDATE pairs (pre-verification) from a
    * shingle index: (doc, shingle) hashed once; all k affine mins computed
    * as k aggregate columns over the SAME frame (no ×k row blowup), one
    * shuffle on doc_id; band keys assembled map-side. Exposed (via
    * [[minhashCandidatePairs]]) so candidate growth vs corpus size is
    * measurable — the quantity that decides whether the band join survives
    * a 100× scale-up.
    */
  private def minhashCandidatesFromIndex(idx: DataFrame): DataFrame = {
    val base = idx
      .select(col("doc_id"), (hash60(col("shingle")) % MinhashP).as("h1"))
    val sigAggs = (0 until MinhashK).map { j =>
      min((col("h1") * minhashA(j) + minhashB(j)) % MinhashP).as(s"s$j")
    }
    val sigs = base.groupBy(col("doc_id")).agg(sigAggs.head, sigAggs.tail: _*)
    val bandKeys = (0 until LshBands).map { b =>
      concat_ws(":", lit(b).cast("string"),
        col(s"s${2 * b}").cast("string"), col(s"s${2 * b + 1}").cast("string"))
    }
    val bands = sigs.select(
      col("doc_id"), explode(array(bandKeys: _*)).as("band_key"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Diagnostic surface for [[graft.ScaleProbe]]: candidate pairs of an
    * arbitrary (doc_id, source, text) frame.
    */
  private[graft] def minhashCandidatePairs(d: DataFrame): DataFrame =
    minhashCandidatesFromIndex(shingleIndexOf(d))

  private def computeMinhashLsh(s: SparkSession, dir: String, threshold: Double): DataFrame = {
    val cand = minhashCandidatesFromIndex(shingleIndex(s, dir))
    // verify candidates with exact Jaccard over the shingle sets (collected
    // from the fast exploded index — rows are already distinct per doc)
    val sh = shingleIndex(s, dir)
      .groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("sh_set"))
    cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .withColumnRenamed("sh_set", "sh_a")
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumnRenamed("sh_set", "sh_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn(
        "jaccard",
        col("n_common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_common")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Oracle form of the signature (nested lambdas are fine for DuckDB at
    * oracle scale; values are identical to the exploded pipeline).
    */
  val minhashSignatureSql: String = {
    val as = (0 until MinhashK).map(minhashA).mkString("[", ", ", "]")
    val bs = (0 until MinhashK).map(minhashB).mkString("[", ", ", "]")
    val h1 = s"(${hash60Sql("sh")}) % $MinhashP"
    s"""list_transform(range(0, $MinhashK),
       |  j -> list_min(list_transform(sh_set,
       |         sh -> ($as[(j + 1)::INTEGER] * ($h1) + $bs[(j + 1)::INTEGER]) % $MinhashP)))""".stripMargin
  }

  def minhashLshDedupSql(threshold: Double = 0.3): String =
    s"""WITH d AS (
       |  SELECT doc_id, $shingleListSql AS sh_set
       |  FROM documents),
       |sigs AS (SELECT doc_id, $minhashSignatureSql AS sig FROM d),
       |bands AS (
       |  SELECT doc_id, unnest(list_transform(range(0, $LshBands),
       |    b -> b::VARCHAR || ':' || sig[b*2 + 1]::VARCHAR || ':' || sig[b*2 + 2]::VARCHAR)) AS band_key
       |  FROM sigs),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.band_key = y.band_key AND x.doc_id < y.doc_id),
       |verified AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(da.sh_set, db.sh_set)) * 1.0 /
       |      (len(da.sh_set) + len(db.sh_set) - len(list_intersect(da.sh_set, db.sh_set))) AS j
       |  FROM cand JOIN d da ON doc_a = da.doc_id JOIN d db ON doc_b = db.doc_id)
       |SELECT doc_a, doc_b, round(j, 4) AS jaccard FROM verified
       |WHERE j >= $threshold ORDER BY doc_a, doc_b""".stripMargin

  // ---- near-dup cluster formation ----------------------------------------

  /** Final dedup step: group verified near-dup PAIRS into CLUSTERS
    * (connected components) and elect the minimum doc_id as each cluster's
    * canonical document — what a dedup pipeline actually keeps/drops.
    *
    * Components via min-label propagation WITH POINTER JUMPING, iterated
    * to FIXPOINT: each round every node takes the minimum label over
    * itself and its neighbors, then follows its label's own label one
    * more hop (path halving — the contraction step that turns the
    * O(diameter) plain propagation into O(log diameter) rounds), and the
    * loop ends only when a round changes NO label — checked with one
    * cheap count per round on an already-checkpointed frame. Fixpoint =
    * EXACT components: a fixed round budget would silently split any
    * chain longer than the budget (template-heavy corpora produce
    * exactly such chains at 100 TB) and the error would poison keep/drop,
    * weights, and the leakage-safe cluster split downstream. Each round
    * is joins + a min-agg over the EDGE set only (∝ near-dup pairs, not
    * corpus size) — at 100 TB this state is trivially small even when
    * the corpus is not; the oracle states the same fixpoint as a
    * recursive transitive-closure CTE, not an unrolled round count.
    */
  /** Clusters and keep/drop memos: `q_dedup_clusters`, `q_dedup_keepdrop`
    * and `q_dedup_stats` all sit on the label-propagation output — without
    * sharing, each call re-runs the 5 eager localCheckpoint rounds (the
    * round-5 q_dedup_stats pathology: 17 s for "one extra aggregate").
    * Both are DURABLE via [[IndexStore.loadOrBuild]]: at 100 TB these are
    * the materialized dedup-decision tables a pipeline publishes once per
    * corpus version, and every later process (and every composition in
    * THIS process — [[dedupStats]], [[dedupWeights]], the clean cascade)
    * reads a plain bounded parquet scan instead of re-deriving or dragging
    * a deep cached lineage through its plan (the round-7 warm-path
    * regression: composites over the in-memory memo paid seconds in a
    * session with 130 queries of accumulated cache/GC state).
    */
  private val clusterCache =
    IndexMemo.cache[(SparkSession, String), DataFrame]()
  private val keepDropCache =
    IndexMemo.cache[(SparkSession, String), DataFrame]()

  def nearDupClusters(s: SparkSession, dir: String): DataFrame =
    IndexMemo(clusterCache, (s, dir))(
      IndexStore.loadOrBuild(s, artifactName("neardup-clusters-cc", dir),
        Tables.fileIdent(dir, "documents"))(
        computeNearDupClusters(s, dir))
        .orderBy("doc_id"))

  private def computeNearDupClusters(s: SparkSession, dir: String): DataFrame =
    // shares the persisted pair table with q_dedup_minhash_lsh — see
    // [[verifiedNearDupPairs]]
    connectedComponents(
      verifiedNearDupPairs(s, dir).select(col("doc_a"), col("doc_b")))
      .select(col("doc").as("doc_id"), col("cluster").as("cluster_id"),
        (col("doc") === col("cluster")).as("is_canonical"))

  /** Hard bound on label-propagation rounds — a runaway guard, not a
    * truncation: with path halving the label distance to the component
    * minimum at least halves per round, so 48 rounds covers any graph
    * with diameter < 2⁴⁸. Hitting it is a fail-stop bug signal, never a
    * silently split cluster. */
  val CcMaxRounds = 48

  /** Effective round cap — `CcMaxRounds` in production; a spec lowers it
    * to exercise the fail-stop without a diameter-2⁴⁸ graph. */
  @volatile private[graft] var ccRoundCap: Int = CcMaxRounds

  /** EXACT connected components of the undirected graph given as one-
    * directional `(doc_a, doc_b)` pairs: (doc, cluster) with cluster =
    * the component's minimum doc id. See [[nearDupClusters]] for the
    * algorithm contract; shared with the planted-chain spec.
    */
  private[graft] def connectedComponents(pairsIn: DataFrame): DataFrame =
    connectedComponentsWithRounds(pairsIn)._1

  /** [[connectedComponents]] plus the number of rounds the fixpoint loop
    * ran — the quantity the log-diameter convergence claim rests on
    * (measured by [[graft.ScaleProbe]], pinned by the planted-chain spec).
    */
  private[graft] def connectedComponentsWithRounds(
      pairsIn: DataFrame): (DataFrame, Int) = {
    val pairs = pairsIn.select(col("doc_a"), col("doc_b"))
    // ITERATIVE ALGORITHM: lineage MUST be truncated each round
    // (localCheckpoint) — lazy iteration would embed the whole upstream
    // pipeline 2^rounds times into one plan. Same rule as any Pregel-
    // style loop on Spark.
    val edges = pairs.unionByName(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint()
    var labels = edges.select(col("doc_a").as("doc")).distinct()
      .withColumn("cluster", col("doc"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      // `require`, not `assert`: the runaway guard is load-bearing
      // (fail-stop vs silent truncation is the whole contract) and must
      // survive -Xdisable-assertions / -Xelide-below builds
      require(rounds <= ccRoundCap,
        s"connected components did not converge in $ccRoundCap rounds")
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc", "nbr"), col("doc_b") === col("nbr"))
        .select(col("doc_a").as("doc"), col("cluster"))
      val prop = labels.unionByName(viaNeighbors)
        .groupBy(col("doc"))
        .agg(min(col("cluster")).as("cluster"))
      // path halving: labels only ever decrease, and every label IS a
      // node (it starts as a doc id and min() preserves membership), so
      // following cluster → label(cluster) is always defined and takes
      // the min-label shortcut the plain propagation would need a full
      // extra hop sequence for
      val next = prop
        .join(prop.select(col("doc").as("c2"), col("cluster").as("cc")),
          col("cluster") === col("c2"), "left")
        .select(col("doc"),
          least(col("cluster"), coalesce(col("cc"), col("cluster"))).as("cluster"))
        .localCheckpoint()
      // fixpoint check: ONE count over the (edge-set-sized) label frames
      changed = next.join(labels.withColumnRenamed("cluster", "prev"), "doc")
        .where(col("cluster") =!= col("prev")).count()
      org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(labels)
      labels = next
    }
    (labels, rounds)
  }

  /** The dedup pipeline's END PRODUCT: a per-document keep/drop decision.
    * Near-dup clusters (shared pair table) elect ONE canonical member by
    * QUALITY — highest type-token ratio, doc_id on ties — not by min id:
    * a real training-data pipeline keeps the best copy, not the first.
    * Unclustered documents keep themselves. Output covers the whole
    * corpus: (doc_id, cluster_id, keep, canonical_id).
    *
    * Scale: clusters/quality join on doc_id (one shuffle), the canonical
    * election is a per-cluster window over cluster members only (∝
    * near-dups), and the corpus-wide left join keys on doc_id.
    */
  def dedupKeepDrop(s: SparkSession, dir: String): DataFrame =
    IndexMemo(keepDropCache, (s, dir))(
      IndexStore.loadOrBuild(s, artifactName("dedup-keepdrop", dir),
        Tables.fileIdent(dir, "documents"))(computeDedupKeepDrop(s, dir))
        .orderBy("doc_id"))

  private def computeDedupKeepDrop(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = nearDupClusters(s, dir)
      .select(col("doc_id"), col("cluster_id"))
      .join(TextOps.textStats(s, dir).select(col("doc_id"), col("type_token_ratio")),
        "doc_id")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("type_token_ratio").desc, col("doc_id"))
    val ranked = members.withColumn("rn", row_number().over(w))
    val canon = ranked.where(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_id"))
    docs(s, dir).select(col("doc_id"))
      .join(ranked.select(col("doc_id"), col("cluster_id"), col("rn")), Seq("doc_id"), "left")
      .join(canon, Seq("cluster_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("rn") === 1, lit(true)).as("keep"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
  }

  def dedupKeepDropSql(): String =
    s"""WITH cl AS (${nearDupClustersSql()}),
       |q AS (
       |  SELECT doc_id,
       |    round(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS ttr
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
       |m AS (
       |  SELECT cl.doc_id, cl.cluster_id, q.ttr
       |  FROM cl JOIN q ON cl.doc_id = q.doc_id),
       |r AS (
       |  SELECT doc_id, cluster_id,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY ttr DESC, doc_id) AS rn
       |  FROM m),
       |c AS (SELECT cluster_id, doc_id AS canonical_id FROM r WHERE rn = 1)
       |SELECT d.doc_id,
       |  coalesce(r.cluster_id, d.doc_id) AS cluster_id,
       |  coalesce(r.rn = 1, TRUE) AS keep,
       |  coalesce(c.canonical_id, d.doc_id) AS canonical_id
       |FROM documents d
       |LEFT JOIN r ON d.doc_id = r.doc_id
       |LEFT JOIN c ON r.cluster_id = c.cluster_id
       |ORDER BY d.doc_id""".stripMargin

  /** Per-source dedup report — the summary a dedup stage actually
    * publishes: docs, near-dup drops, distinct clusters, and drop rate
    * per source shard. Pure composition over [[dedupKeepDrop]] (whose
    * pair machinery is IndexMemo-shared), so the extra cost is one
    * source-keyed aggregate.
    */
  def dedupStats(s: SparkSession, dir: String): DataFrame =
    dedupKeepDrop(s, dir)
      .join(docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        round(sum(when(!col("keep"), 1.0).otherwise(0.0)) / count(lit(1)), 4)
          .as("drop_rate"))
      .orderBy("source")

  def dedupStatsSql(): String =
    s"""WITH kd AS (${dedupKeepDropSql()})
       |SELECT source, count(*) AS n_docs,
       |  sum(CASE WHEN NOT keep THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       |  count(DISTINCT cluster_id) AS n_clusters,
       |  round(sum(CASE WHEN NOT keep THEN 1.0 ELSE 0.0 END) / count(*), 4) AS drop_rate
       |FROM kd JOIN documents USING (doc_id)
       |GROUP BY source ORDER BY source""".stripMargin

  /** SOFT dedup: instead of dropping near-duplicates, weight each document
    * by 1/|cluster| so a training sampler sees every cluster with equal
    * total mass — the alternative pipelines use when duplicates carry
    * signal (popularity) they don't want to erase entirely. Pure
    * composition over the memoized [[dedupKeepDrop]]: one cluster-size
    * aggregate + a doc-keyed join back, both ∝ corpus rows with bounded
    * per-key state — the same 100 TB shape as [[dedupStats]].
    */
  def dedupWeights(s: SparkSession, dir: String): DataFrame = {
    val kd = dedupKeepDrop(s, dir).select(col("doc_id"), col("cluster_id"))
    val sizes = kd.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    kd.join(sizes, "cluster_id")
      .select(
        col("doc_id"), col("cluster_id"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"))
      .orderBy("doc_id")
  }

  def dedupWeightsSql(): String =
    s"""WITH kd AS (${dedupKeepDropSql()}),
       |sz AS (
       |  SELECT cluster_id, count(*) AS cluster_size
       |  FROM kd GROUP BY cluster_id)
       |SELECT kd.doc_id, kd.cluster_id, sz.cluster_size,
       |  round(1.0 / sz.cluster_size, 6) AS weight
       |FROM kd JOIN sz USING (cluster_id)
       |ORDER BY kd.doc_id""".stripMargin

  /** Leakage-safe train/val/test split: the split unit is the NEAR-DUP
    * CLUSTER, not the document — a seeded hash of cluster_id lands every
    * member of a cluster in the same split, so a near-duplicate of a
    * training document can never leak into validation or test (the
    * contamination mode plain random splits are blind to; singleton
    * documents are their own cluster via [[dedupKeepDrop]]'s coalesce).
    * 80/10/10 by hash bucket: deterministic in (corpus version, seed),
    * stable under re-partitioning and retries — no `rand()`.
    *
    * Scale: one map-side hash over the memoized keep/drop table; the
    * split decision never shuffles (the presentation orderBy is the only
    * exchange). Re-splitting 100 TB is a metadata-cost scan.
    */
  def clusterSplit(s: SparkSession, dir: String, seed: Int = 42): DataFrame =
    dedupKeepDrop(s, dir)
      .select(col("doc_id"), col("cluster_id"))
      .withColumn("bucket",
        pmod(hash60(concat_ws(":", col("cluster_id"), lit(seed))), lit(100L)))
      .select(
        col("doc_id"), col("cluster_id"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  def clusterSplitSql(seed: Int = 42): String =
    s"""WITH kd AS (${dedupKeepDropSql()}),
       |b AS (
       |  SELECT doc_id, cluster_id,
       |    (${hash60Sql(s"cluster_id::VARCHAR || ':$seed'")}) % 100 AS bucket
       |  FROM kd)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin

  /** Fixpoint oracle: TRUE connected components as a recursive
    * transitive-closure CTE (standard SQL `WITH RECURSIVE`, UNION-dedup
    * semantics guarantees termination) — component label = min reachable
    * doc id, the same fixpoint [[connectedComponents]] iterates to. No
    * unrolled round count anywhere, so a green hash proves ground truth,
    * not just engine-vs-oracle round parity. */
  def nearDupClustersSql(): String = {
    val base = minhashLshDedupSql()
    s"""WITH RECURSIVE pairs AS ($base),
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs),
       |reach(doc, r) AS (
       |  SELECT DISTINCT doc_a, doc_a FROM edges
       |  UNION
       |  SELECT reach.doc, e.doc_b
       |  FROM reach JOIN edges e ON reach.r = e.doc_a)
       |SELECT doc AS doc_id, min(r) AS cluster_id,
       |  doc = min(r) AS is_canonical
       |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin
  }

  // ---- SimHash fingerprint ------------------------------------------------

  val SimhashBits = 32

  /** 32-bit SimHash per document, computed in the native
    * [[graft.functions.SimhashRowFp]] pass — every shingle of a document
    * comes from ONE row, so the fingerprint needs no explode and no
    * shuffle at all (the retired vote-aggregate form survives as
    * [[simhashesOfDocs]], the PropertySpec/ScaleProbe surface pinning the
    * packed-vote math, and as the DuckDB oracle). `n_set_bits` is
    * `bit_count` of the fingerprint, exactly the majority-vote set count.
    */
  def simhashFingerprint(s: SparkSession, dir: String): DataFrame =
    nativeFingerprints(s, dir, SimhashBits)
      .withColumn("n_set_bits", expr("bit_count(simhash)").cast("long"))
      .orderBy("doc_id")

  /** (doc_id, simhash) for the whole corpus via the compiled per-row
    * expression — one scan, zero exchanges; bit-parity with the
    * vote-aggregate form is pinned by `q_simhash_row_fp`'s oracle and
    * LlmOpsSpec's lanes/subset cases.
    *
    * The fingerprint is [[graft.functions.PinnedEval]]-pinned: the band
    * join's key-nullability inference (`isnotnull(bv)`) otherwise pushes
    * below this projection as `isnotnull(simhash_row(…))`, re-running the
    * whole tokenize-shingle-hash pass a second time per row per join side
    * (the guide-§4.4 duplication; plan diff in
    * plans/r18/q_dedup_simhash_pairs_{before,after}.txt).
    */
  private def nativeFingerprints(
      s: SparkSession, dir: String, bits: Int, salt: String = ""): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextOps.tokens.as("toks"))
      .select(col("doc_id"), graft.functions.PinnedEval
        .pinned(graft.functions.SimhashExpressions
          .simhash_row(col("toks"), bits, salt)).as("simhash"))

  /** (doc_id, simhash, n_set_bits) over `bits` fingerprint bits for an
    * arbitrary shingle index — shared by the fingerprint query, the
    * near-pair bucket join, and (at other widths) [[graft.ScaleProbe]].
    * `bits` must be ≤ 60 (hash60 has no higher bits to vote on).
    */
  // ---- packed bit-vote aggregation ---------------------------------------
  //
  // The naive vote pass is one sum(±1) aggregate column PER BIT — 60 bits
  // ⇒ 60 columns, the two-lane 120-bit form ⇒ 120, which is over Spark's
  // whole-stage-codegen field limit (spark.sql.codegen.maxFields = 100):
  // the hash aggregate falls out of codegen into interpreted eval with a
  // 120-slot buffer per group (measured 71 s vs ~2 s at sf0.1 — the
  // round-5 bench pathology). The ±1 vote is redundant information:
  //   sum(±1 over shingles) > 0  ⟺  2 · (#shingles with bit set) > n,
  // so per bit we only need the ONES-COUNT, and ones-counts pack — three
  // 20-bit fields per aggregated long. 60 bits ⇒ 20 packed columns + one
  // shingle count; 120 bits ⇒ 41 columns total. Every stage stays inside
  // whole-stage codegen (pinned in PlanAuditSpec) and the agg buffer
  // shrinks 3×.

  /** Field geometry: 3 ones-counts per long, 20 bits each. A field
    * saturates at 2²⁰ shingles per document (≈1M word-bigrams — a ~4 MB
    * document; corpus docs carry ~10² shingles, and a pipeline at that
    * doc size shards documents before fingerprinting them).
    */
  private val VoteFieldBits = 20
  private val VoteFieldsPerLong = 3
  private val VoteFieldMask = (1L << VoteFieldBits) - 1

  /** Packed ones-count aggregate columns for `bits` low bits of hash
    * column `h`: packed column j sums, over the group, the 0/1 values of
    * bits (3j, 3j+1, 3j+2) of `h` placed at 20-bit offsets.
    */
  private def packedVoteAggs(h: String, bits: Int, prefix: String): Seq[Column] = {
    val nLongs = (bits + VoteFieldsPerLong - 1) / VoteFieldsPerLong
    (0 until nLongs).map { j =>
      val terms = (0 until VoteFieldsPerLong)
        .map(i => (i, j * VoteFieldsPerLong + i))
        .filter { case (_, b) => b < bits }
        .map { case (i, b) =>
          s"shiftleft(shiftright($h, $b) & 1, ${i * VoteFieldBits})"
        }
      sum(expr(terms.mkString(" + "))).as(s"$prefix$j")
    }
  }

  /** Majority vote for bit b from the packed columns: set iff strictly
    * more than half the group's shingles have the bit set — exactly
    * sum(±1) > 0, the form the DuckDB oracle computes.
    */
  private def voteBitSet(prefix: String, b: Int, nShingles: Column): Column = {
    val j = b / VoteFieldsPerLong
    val off = (b % VoteFieldsPerLong) * VoteFieldBits
    (expr(s"shiftright($prefix$j, $off)").bitwiseAND(lit(VoteFieldMask)) * 2) > nShingles
  }

  private def simhashesFromIndex(idx: DataFrame, bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 60, s"simhash bits must be in [1, 60], got $bits")
    val perShingle = idx.select(col("doc_id"), hash60(col("shingle")).as("h"))
    val aggs = packedVoteAggs("h", bits, "p") :+ count(lit(1)).as("n_sh")
    val votes = perShingle.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val n = col("n_sh")
    val fingerprint = (0 until bits)
      .map(b => when(voteBitSet("p", b, n), lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    val nSet = (0 until bits)
      .map(b => when(voteBitSet("p", b, n), 1L).otherwise(0L))
      .reduce(_ + _)
    votes.select(
      col("doc_id"), fingerprint.as("simhash"), nSet.as("n_set_bits"))
  }

  private def simhashes(s: SparkSession, dir: String): DataFrame =
    simhashesFromIndex(shingleIndex(s, dir), SimhashBits)

  /** Test/probe surface: packed-vote fingerprints of an arbitrary
    * (doc_id, source, text) frame at any width — PropertySpec recomputes
    * them naively on the driver to pin the bit-packing math.
    */
  private[graft] def simhashesOfDocs(d: DataFrame, bits: Int): DataFrame =
    simhashesFromIndex(shingleIndexOf(d), bits)

  /** SimHash near-duplicate PAIRS: band the 32-bit fingerprint into 4
    * bytes and bucket-join on (band, value) — by pigeonhole, any pair at
    * Hamming ≤ 3 differs in at most 3 of the 4 bands, so at least one
    * band matches exactly and the bucket join is LOSSLESS at the default
    * threshold (not an approximation). Candidates are verified with
    * `bit_count(a ^ b)`. At 100 TB the join key is a (band, byte) pair —
    * candidates ∝ band collisions, never doc×doc, the same scale shape as
    * the MinHash band join.
    */
  /** Band-bucket candidate join over a (doc_id, simhash) frame: `nBands`
    * bands of `bandBits` bits each, candidates = pairs agreeing exactly on
    * ≥1 band, annotated with the full-fingerprint Hamming distance. The
    * bucket space per band is 2^bandBits — the parameter that controls
    * random-collision growth: n²/2^bandBits pairs per band for uniform
    * fingerprints, so bandBits must grow with log₂(corpus) (measured in
    * ScaleProbe / ROADMAP.md).
    */
  private def simhashBandJoin(
      fp: DataFrame, nBands: Int, bandBits: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        expr(s"shiftright(simhash, ${bandBits * b}) & $mask").as("bv"))
    }
    val bands = fp.select(
      col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("bd"))
      .select(col("doc_id"), col("simhash"),
        col("bd.band").as("band"), col("bd.bv").as("bv"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").cast("long").as("hamming"))
      .distinct()
  }

  /** Diagnostic surface for [[graft.ScaleProbe]]: raw band-collision
    * candidates (no Hamming threshold) of an arbitrary (doc_id, source,
    * text) frame at a chosen fingerprint width / band width. bits/bandBits
    * bands keep the pigeonhole guarantee for Hamming ≤ bits/bandBits − 1.
    */
  private[graft] def simhashCandidatePairs(
      d: DataFrame, bits: Int = SimhashBits, bandBits: Int = 8): DataFrame =
    simhashBandJoin(
      simhashesFromIndex(shingleIndexOf(d), bits).select(col("doc_id"), col("simhash")),
      bits / bandBits, bandBits)

  def simhashNearPairs(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    simhashBandJoin(nativeFingerprints(s, dir, SimhashBits), 4, 8)
      .where(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")

  /** The SCALE parameterization of [[simhashNearPairs]] as a first-class
    * op: 60-bit fingerprints banded 4×15 bits. Same lossless pigeonhole
    * guarantee for Hamming ≤ 3, but the per-band bucket space is 2¹⁵ not
    * 2⁸ — ScaleProbe measured 144× fewer random band collisions at 50k
    * docs (ROADMAP.md), the difference between a quadratic and a
    * near-linear candidate stage. 60-bit Hamming ≤ 3 is a stricter
    * similarity bar than 32-bit Hamming ≤ 3 (same absolute bit budget over
    * ~2× the bits), so this finds a subset of the narrow query's pairs.
    */
  val SimhashWideBits = 60
  val SimhashWideBandBits = 15

  def simhashNearPairsWide(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    simhashBandJoin(
      nativeFingerprints(s, dir, SimhashWideBits),
      SimhashWideBits / SimhashWideBandBits, SimhashWideBandBits)
      .where(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")

  /** 120-bit SimHash in TWO independent 60-bit lanes — the >10⁶-docs/shard
    * parameterization the single-long fingerprint cannot reach (hash60 has
    * no bits above 60, so bandBits caps at 15 with 4 bands ⇒ bucket space
    * 2¹⁵ ≈ n²-growth past ~10⁶ docs/shard; ROADMAP round-4 table). Lane 1
    * re-hashes each shingle with a salt prefix, so the lanes are
    * independent draws; 4 bands of 30 bits (2 per lane) keep the lossless
    * pigeonhole guarantee for Hamming ≤ 3 while the per-band bucket space
    * grows to 2³⁰ — random collisions n²/2³⁰, negligible to ~10⁹ docs/shard
    * (model measured past bandBits 15 in ScaleProbe / ROADMAP).
    *
    * Scale shape unchanged from the narrow op: BOTH lanes' bit-votes are
    * aggregate columns of the SAME groupBy (one shuffle on doc_id for 120
    * votes), bands explode 4 rows/doc, candidates ∝ band collisions.
    */
  val Simhash128LaneBits = 60
  val Simhash128BandBits = 30
  private val Lane1Salt = "L2#"

  /** (doc_id, simhash0, simhash1): two independent 60-bit lanes voted in a
    * single aggregate pass over the shingle index.
    */
  private def simhashLanes(idx: DataFrame): DataFrame = {
    val bits = Simhash128LaneBits
    val hashed = idx.select(
      col("doc_id"),
      hash60(col("shingle")).as("h0"),
      hash60(concat(lit(Lane1Salt), col("shingle"))).as("h1"))
    // 41 aggregate columns (2 × 20 packed + count), not 120 sum(±1)s —
    // see the packed-vote section above: 120 fields forced this aggregate
    // out of whole-stage codegen (the round-5 71 s bench pathology).
    val aggs = packedVoteAggs("h0", bits, "a") ++
      packedVoteAggs("h1", bits, "b") :+ count(lit(1)).as("n_sh")
    val votes = hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val n = col("n_sh")
    val fps = Seq("a" -> "simhash0", "b" -> "simhash1").map { case (pfx, out) =>
      (0 until bits)
        .map(b => when(voteBitSet(pfx, b, n), lit(1L << b)).otherwise(0L))
        .reduce(_ + _).as(out)
    }
    votes.select(col("doc_id") +: fps: _*)
  }

  /** Test/probe surface: the raw two-lane fingerprints. */
  private[graft] def simhashLanes128(s: SparkSession, dir: String): DataFrame =
    simhashLanes(shingleIndex(s, dir))

  def simhashNearPairsWide128(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val bandBits = Simhash128BandBits
    val perLane = Simhash128LaneBits / bandBits // 2 bands per lane
    val mask = (1L << bandBits) - 1
    val bandCols = (0 to 1).flatMap { lane =>
      (0 until perLane).map { b =>
        struct(lit(lane * perLane + b).as("band"),
          expr(s"shiftright(simhash$lane, ${bandBits * b}) & $mask").as("bv"))
      }
    }
    // two independent lanes = two native per-row draws (lane 1 salted);
    // the vote-aggregate twin (simhashLanes128) remains the test surface.
    // Both lanes PinnedEval-pinned like [[nativeFingerprints]]: the band
    // join's inferred isnotnull(bv) otherwise clones BOTH per-row
    // fingerprint passes into a pushed filter (4 evaluations per doc per
    // side instead of 2)
    val fp = docs(s, dir)
      .select(col("doc_id"), TextOps.tokens.as("toks"))
      .select(col("doc_id"),
        graft.functions.PinnedEval.pinned(graft.functions.SimhashExpressions
          .simhash_row(col("toks"), Simhash128LaneBits)).as("simhash0"),
        graft.functions.PinnedEval.pinned(graft.functions.SimhashExpressions
          .simhash_row(col("toks"), Simhash128LaneBits, Lane1Salt)).as("simhash1"))
    val bands = fp.select(
      col("doc_id"), col("simhash0"), col("simhash1"),
      explode(array(bandCols: _*)).as("bd"))
      .select(col("doc_id"), col("simhash0"), col("simhash1"),
        col("bd.band").as("band"), col("bd.bv").as("bv"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        (expr("bit_count(x.simhash0 ^ y.simhash0)") +
          expr("bit_count(x.simhash1 ^ y.simhash1)")).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  def simhashNearPairsWide128Sql(maxHamming: Int = 3): String = {
    val bits = Simhash128LaneBits
    val bandBits = Simhash128BandBits
    val perLane = bits / bandBits
    val mask = (1L << bandBits) - 1
    val h0 = hash60Sql("sh")
    val h1 = hash60Sql(s"'$Lane1Salt' || sh")
    s"""WITH e AS (
       |  SELECT doc_id, unnest($shingleListSql) AS sh FROM documents),
       |hs AS (SELECT doc_id, $h0 AS h0, $h1 AS h1 FROM e),
       |votes AS (
       |  SELECT doc_id, bit,
       |    sum(CASE WHEN (h0 >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v0,
       |    sum(CASE WHEN (h1 >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v1
       |  FROM hs, (SELECT unnest(range(0, $bits)) AS bit)
       |  GROUP BY doc_id, bit),
       |fp AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN v0 > 0 THEN 1::BIGINT << bit ELSE 0 END)::BIGINT AS simhash0,
       |    sum(CASE WHEN v1 > 0 THEN 1::BIGINT << bit ELSE 0 END)::BIGINT AS simhash1
       |  FROM votes GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, simhash0, simhash1, lane * $perLane + b AS band,
       |    ((CASE WHEN lane = 0 THEN simhash0 ELSE simhash1 END) >> (b * $bandBits)) & $mask AS bv
       |  FROM fp, (SELECT unnest(range(0, 2)) AS lane),
       |       (SELECT unnest(range(0, $perLane)) AS b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    (bit_count(xor(x.simhash0, y.simhash0)) +
       |     bit_count(xor(x.simhash1, y.simhash1)))::BIGINT AS hamming
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, hamming FROM cand
       |WHERE hamming <= $maxHamming ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- duplicate-span stats ----------------------------------------------

  /** Per-document duplicated-span signal — the exact-substring-dedup
    * measurement of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better", the NearDup/ExactSubstr split) at n-gram
    * granularity: for every document, the fraction of its `gram`-token
    * windows that also occur in at least one OTHER document. A pipeline
    * trims or downweights docs with high `dup_frac`; the per-gram document
    * frequency is computed on 8-byte hashes (never text), so the two
    * shuffles move `positions × 8 bytes` and the df join is a plain
    * hash-join on longs at any corpus size.
    */
  def duplicateSpanStats(s: SparkSession, dir: String, gram: Int = 10): DataFrame =
    duplicateSpanStatsOf(docs(s, dir), gram)

  /** Frame-based core of [[duplicateSpanStats]] — exposed so SkewSpec can
    * plant a boilerplate gram shared by every document and pin the
    * hot-key-safe shape.
    *
    * Skew hardening (the round-7 watch item): a boilerplate gram repeated
    * across millions of documents must never concentrate on one task. The
    * per-(h, doc_id) pre-aggregate spreads a hot `h` over its documents;
    * the df count over those distinct pairs is partial-aggregated map-side
    * (≤ one row per partition per gram enters the shuffle); and the only
    * place all rows of a hot `h` meet — the df join probe — is a plain
    * equi-join AQE's skew-join split can subdivide, unlike a
    * `Window.partitionBy(h)`, which is irreparably single-partition-per-key.
    * The (h, doc_id) exchange is built once and reused by both branches
    * (ReusedExchange — the explode pipeline runs once).
    */
  private[graft] def duplicateSpanStatsOf(d: DataFrame, gram: Int): DataFrame = {
    val grams = d
      .select(col("doc_id"), explode(graft.functions.SimhashExpressions
        .gram_hash60s(split(col("text"), " "), gram)).as("h"))
    val pairs = grams.groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("n_pos"))
    // df = rows per h over the distinct pairs. Phrased over n_pos (≥ 1 by
    // construction, so least(n_pos, 1) ≡ 1) instead of count(1): a plain
    // count lets column pruning drop n_pos from THIS branch's copy of the
    // pre-aggregate, the two subtrees stop being identical, and the
    // (h, doc_id) exchange is built twice — referencing n_pos keeps both
    // branches on ONE exchange (ReusedExchange, pinned in SkewSpec).
    val dfh = pairs.groupBy(col("h"))
      .agg(sum(least(col("n_pos"), lit(1L))).as("df"))
    pairs.join(dfh, "h")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n_pos")).as("n_grams"),
        sum(when(col("df") >= 2, col("n_pos")).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup") / col("n_grams"), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  def duplicateSpanStatsSql(gram: Int = 10): String = {
    val h = hash60Sql(s"array_to_string(list_slice(toks, i, i + ${gram - 1}), ' ')")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, greatest(len(toks) - ${gram - 1}, 1) + 1),
       |      i -> $h)) AS h
       |  FROM t),
       |df AS (
       |  SELECT h, count(DISTINCT doc_id) AS df FROM g GROUP BY h)
       |SELECT g.doc_id, count(*) AS n_grams,
       |  sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
       |  round(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) / count(*), 4) AS dup_frac
       |FROM g JOIN df ON g.h = df.h
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin
  }

  /** Duplicated-span REMOVAL — the end product the span signal exists for
    * (Lee et al. 2022's ExactSubstr dedup rewrites documents instead of
    * dropping them): every token that falls inside any `gram`-token window
    * occurring in ≥ 2 documents is cut, and the document is reassembled
    * from the surviving tokens. Output per doc: token counts before/after
    * and the scrubbed text.
    *
    * Scale shape: the df aggregate and the start-position join both move
    * 8-byte gram hashes (never text), exactly like [[duplicateSpanStats]];
    * the rewrite itself is a map-side lambda over (tokens, covered
    * positions). Covered positions are expanded per doc from its dup-window
    * starts — bounded by doc length, no shuffle. Per-doc costs are linear:
    * "shared by ≥ 2 docs" is min(doc) ≠ max(doc) (one cheap agg, not a
    * countDistinct), and surviving positions come from hash-based
    * `array_except` over the position range — O(tokens + covered), not the
    * O(tokens × covered) of a per-token array_contains probe.
    */
  def duplicateSpanScrub(s: SparkSession, dir: String, gram: Int = 10): DataFrame =
    duplicateSpanScrubOf(docs(s, dir), gram)

  /** Frame-based core of [[duplicateSpanScrub]] — exposed for
    * [[graft.ScaleProbe]]'s growth measurement over synthetic corpora.
    */
  /** (doc_id, start, h): every `gram`-token window of every document as a
    * 1-based start position + 60-bit hash — 24-byte rows, never text.
    * Shared by the batch scrub and its streaming twin.
    */
  private[graft] def gramPositions(d: DataFrame, gram: Int): DataFrame =
    d
      .where(col("doc_id").isNotNull)
      .select(col("doc_id"),
        posexplode(graft.functions.SimhashExpressions
          .gram_hash60s(split(col("text"), " "), gram)))
      .select(col("doc_id"), (col("pos") + 1).as("start"), col("col").as("h"))

  /** The per-doc duplicated-window starts frame (doc_id, ss: array<int>)
    * — extracted so the parity spec can drive both rewrite forms from the
    * identical input.
    *
    * "in ≥ 2 distinct docs" ⟺ the per-(h, doc_id) PRE-AGGREGATE has ≥ 2
    * rows for h — NOT a Window.partitionBy(h): a boilerplate gram repeated
    * across millions of docs makes the window's one-partition-per-key
    * shape a hot task no optimizer can split, while here the hot h is
    * spread over its documents in the first aggregate, count partials
    * collapse it map-side in the second, and the rejoin is an equi-join
    * AQE skew-split can subdivide. The member-doc count is phrased over
    * `starts` (non-empty by construction, so least(size, 1) ≡ 1) rather
    * than count(1): a plain count lets column pruning drop `starts` from
    * this branch's copy of the pre-aggregate, the two subtrees stop being
    * identical, and the shared (h, doc_id) exchange is built twice —
    * referencing starts keeps both branches on ONE exchange
    * (ReusedExchange, pinned in SkewSpec). */
  private[graft] def dupStartsOf(d: DataFrame, gram: Int): DataFrame = {
    val grams = gramPositions(d, gram)
    val perDoc = grams.groupBy(col("h"), col("doc_id"))
      .agg(collect_list(col("start")).as("starts"))
    val dupH = perDoc.groupBy(col("h"))
      .agg(sum(least(size(col("starts")), lit(1)).cast("long")).as("n_docs"))
      .where(col("n_docs") >= 2)
      .select(col("h"))
    perDoc
      .join(dupH, "h")
      .groupBy(col("doc_id"))
      .agg(flatten(collect_list(col("starts"))).as("ss"))
  }

  private[graft] def duplicateSpanScrubOf(d: DataFrame, gram: Int): DataFrame = {
    // explicit isNotNull (inside gramPositions): the per-doc reassembly
    // join infers it on ITS branch only, which would desynchronize the two
    // copies of the shared pre-aggregate subtree and defeat ReusedExchange
    // — stating it once in the shared scan keeps both branches
    // byte-identical
    // dup-start derivation in [[dupStartsOf]] — see its scale notes
    applySpanScrub(d, dupStartsOf(d, gram), gram).orderBy("doc_id")
  }

  /** The rewrite half of the span scrub, shared with the STREAMING twin:
    * given per-doc duplicated window starts `dupStarts` = (doc_id,
    * ss: array<int>), cut every token covered by a duplicated window and
    * reassemble. Map-side per doc after the left join — covered positions
    * expand from this doc's starts only (bounded by doc length), and the
    * surviving-position projection is hash-based `array_except` over the
    * position range: O(tokens + covered), not O(tokens × covered).
    */
  private[graft] def applySpanScrub(
      d: DataFrame, dupStarts: DataFrame, gram: Int): DataFrame =
    d
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .join(dupStarts, Seq("doc_id"), "left")
      // one compiled pass over (tokens, duplicated-window starts): cover
      // mask + survivor join, replacing the interpreted three-lambda chain
      // (expand covered → array_except → element_at projection) that
      // allocated three intermediate arrays per doc — same O(tokens +
      // covered), parity pinned against the composed form in LlmOpsSpec
      .withColumn("sc", graft.functions.SpanScrubExpressions
        .span_scrub(col("toks"), col("ss"), gram))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")).cast("long") - col("sc.n_kept")).as("n_removed"),
        col("sc.clean_text").as("clean_text"))

  def duplicateSpanScrubSql(gram: Int = 10): String = {
    val h = hash60Sql(s"array_to_string(list_slice(toks, start, start + ${gram - 1}), ' ')")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, toks,
       |    unnest(range(1, greatest(len(toks) - ${gram - 1}, 1) + 1)) AS start
       |  FROM t),
       |gh AS (SELECT doc_id, start, $h AS h FROM g),
       |dup AS (
       |  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df FROM gh GROUP BY h)
       |  WHERE df >= 2),
       |ss AS (
       |  SELECT doc_id,
       |    list_distinct(flatten(list_transform(list(DISTINCT start),
       |      s -> range(s, s + $gram)))) AS covered
       |  FROM gh JOIN dup USING (h) GROUP BY doc_id),
       |c AS (
       |  SELECT t.doc_id, t.toks,
       |    list_filter(t.toks,
       |      (x, p) -> NOT list_contains(coalesce(ss.covered, []), p)) AS clean
       |  FROM t LEFT JOIN ss ON t.doc_id = ss.doc_id)
       |SELECT doc_id, len(toks)::BIGINT AS n_tokens,
       |  (len(toks) - len(clean))::BIGINT AS n_removed,
       |  coalesce(array_to_string(clean, ' '), '') AS clean_text
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // ---- cross-corpus dedup -------------------------------------------------

  /** Sources forming the frozen REFERENCE corpus — the same slice the
    * decontamination ops treat as held-out (TextOps.isEval).
    */
  val CrossRefSources: Seq[String] = Seq("src0", "src1")

  /** Cross-corpus dedup: flag documents of the INCOMING slice (source ∉
    * reference) that duplicate the frozen reference corpus — the "dedupe
    * the new crawl against what we already trained on" step (reference
    * analog: the skip-if-already-categorized gate,
    * categorize-trail-conditions/src/db.py:24-27, generalized from ids to
    * content). Two detectors, each its own `kind` row:
    *
    *  - `exact`: identical text (60-bit md5-prefix content hash — the
    *    shuffle moves 8 bytes/doc, never text);
    *  - `near`:  60-bit SimHash Hamming ≤ maxHamming via the 4×15-bit
    *    band join — lossless by pigeonhole at the default threshold, and
    *    candidates are reference-band collisions only, never n², so the
    *    incoming side streams against a bounded reference band table at
    *    100 TB. An exact duplicate is also a near duplicate (Hamming 0) —
    *    both rows appear; `kind` names the detector that fired.
    *
    * Output: one row per (incoming doc, kind): the match count and the
    * smallest matching reference id.
    */
  def crossCorpusDedup(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val isRef = col("source").isin(CrossRefSources: _*)
    val byText = docs(s, dir).select(
      col("doc_id"), col("source"), hash60(col("text")).as("th"))
    val exact = byText.where(!isRef).as("n")
      .join(byText.where(isRef).as("r"), col("n.th") === col("r.th"))
      .select(col("n.doc_id").as("doc_id"), lit("exact").as("kind"),
        col("r.doc_id").as("ref_id"))

    val bandBits = SimhashWideBandBits
    val nBands = SimhashWideBits / bandBits
    val mask = (1L << bandBits) - 1
    // Each side filters on source BELOW the fingerprint projection (the
    // side predicate keeps reaching the parquet scan as a pushed filter)
    // and the fingerprint itself is PinnedEval-pinned like
    // [[nativeFingerprints]]: the band join's inferred isnotnull(bv)
    // otherwise clones the whole fingerprint pass into a pushed filter on
    // BOTH join sides (the before-plan showed simhash_row twice per side).
    def bandsOf(sidePred: Column) = docs(s, dir)
      .where(sidePred)
      .select(col("doc_id"), col("source"), TextOps.tokens.as("toks"))
      .select(col("doc_id"), col("source"), graft.functions.PinnedEval
        .pinned(graft.functions.SimhashExpressions
          .simhash_row(col("toks"), SimhashWideBits)).as("simhash"))
      .select(
        col("doc_id"), col("source"), col("simhash"),
        explode(array((0 until nBands).map { b =>
          struct(lit(b).as("band"),
            expr(s"shiftright(simhash, ${bandBits * b}) & $mask").as("bv"))
        }: _*)).as("bd"))
      .select(col("doc_id"), col("source"), col("simhash"),
        col("bd.band").as("band"), col("bd.bv").as("bv"))
    val near = bandsOf(!isRef).as("n")
      .join(bandsOf(isRef).as("r"),
        col("n.band") === col("r.band") && col("n.bv") === col("r.bv"))
      .where(expr("bit_count(n.simhash ^ r.simhash)") <= maxHamming)
      .select(col("n.doc_id").as("doc_id"), lit("near").as("kind"),
        col("r.doc_id").as("ref_id"))
      .distinct()

    exact.unionByName(near)
      .groupBy(col("doc_id"), col("kind"))
      .agg(count(lit(1)).as("n_refs"), min(col("ref_id")).as("first_ref"))
      .orderBy("doc_id", "kind")
  }

  def crossCorpusDedupSql(maxHamming: Int = 3): String = {
    val h = hash60Sql("sh")
    val bits = SimhashWideBits
    val bandBits = SimhashWideBandBits
    val nBands = bits / bandBits
    val mask = (1L << bandBits) - 1
    val refList = CrossRefSources.map(x => s"'$x'").mkString(", ")
    s"""WITH src AS (
       |  SELECT doc_id, source, ${hash60Sql("text")} AS th FROM documents),
       |e AS (SELECT doc_id, unnest($shingleListSql) AS sh FROM documents),
       |hs AS (SELECT doc_id, $h AS h FROM e),
       |votes AS (
       |  SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM hs, (SELECT unnest(range(0, $bits)) AS bit)
       |  GROUP BY doc_id, bit),
       |fp AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN vote > 0 THEN 1::BIGINT << bit ELSE 0 END)::BIGINT AS simhash
       |  FROM votes GROUP BY doc_id),
       |bands AS (
       |  SELECT f.doc_id, s.source, f.simhash, b,
       |    (f.simhash >> (b * $bandBits)) & $mask AS bv
       |  FROM fp f JOIN src s ON s.doc_id = f.doc_id,
       |       (SELECT unnest(range(0, $nBands)) AS b)),
       |exact AS (
       |  SELECT n.doc_id AS doc_id, 'exact' AS kind, r.doc_id AS ref_id
       |  FROM src n JOIN src r ON n.th = r.th
       |  WHERE n.source NOT IN ($refList) AND r.source IN ($refList)),
       |near AS (
       |  SELECT DISTINCT n.doc_id AS doc_id, 'near' AS kind, r.doc_id AS ref_id
       |  FROM bands n JOIN bands r ON n.b = r.b AND n.bv = r.bv
       |  WHERE n.source NOT IN ($refList) AND r.source IN ($refList)
       |    AND bit_count(xor(n.simhash, r.simhash)) <= $maxHamming),
       |flagged AS (
       |  SELECT * FROM exact UNION ALL SELECT * FROM near)
       |SELECT doc_id, kind, count(*) AS n_refs, min(ref_id) AS first_ref
       |FROM flagged GROUP BY doc_id, kind ORDER BY doc_id, kind""".stripMargin
  }

  private def simhashNearPairsSqlAt(
      maxHamming: Int, bits: Int, bandBits: Int): String = {
    val h = hash60Sql("sh")
    val nBands = bits / bandBits
    val mask = (1L << bandBits) - 1
    s"""WITH e AS (
       |  SELECT doc_id, unnest($shingleListSql) AS sh FROM documents),
       |hs AS (SELECT doc_id, $h AS h FROM e),
       |votes AS (
       |  SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM hs, (SELECT unnest(range(0, $bits)) AS bit)
       |  GROUP BY doc_id, bit),
       |fp AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN vote > 0 THEN 1::BIGINT << bit ELSE 0 END)::BIGINT AS simhash
       |  FROM votes GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, simhash, b, (simhash >> (b * $bandBits)) & $mask AS bv
       |  FROM fp, (SELECT unnest(range(0, $nBands)) AS b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, hamming FROM cand
       |WHERE hamming <= $maxHamming ORDER BY doc_a, doc_b""".stripMargin
  }

  def simhashNearPairsSql(maxHamming: Int = 3): String =
    simhashNearPairsSqlAt(maxHamming, SimhashBits, 8)

  def simhashNearPairsWideSql(maxHamming: Int = 3): String =
    simhashNearPairsSqlAt(maxHamming, SimhashWideBits, SimhashWideBandBits)

  /** 60-bit fingerprints-only oracle (doc_id, simhash) — the DuckDB twin
    * of the WIDE vote, used by `q_simhash_row_fp` to pin the per-ROW
    * streaming fingerprint expression ([[graft.streaming.StreamingDedup]])
    * against the relational vote on both engines.
    */
  val simhashWideFingerprintSql: String = {
    val h = hash60Sql("sh")
    s"""WITH e AS (
       |  SELECT doc_id, unnest($shingleListSql) AS sh FROM documents),
       |hs AS (SELECT doc_id, $h AS h FROM e),
       |votes AS (
       |  SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM hs, (SELECT unnest(range(0, $SimhashWideBits)) AS bit)
       |  GROUP BY doc_id, bit)
       |SELECT doc_id,
       |  sum(CASE WHEN vote > 0 THEN 1::BIGINT << bit ELSE 0 END)::BIGINT AS simhash
       |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val simhashFingerprintSql: String = {
    val h = hash60Sql("sh")
    s"""WITH e AS (
       |  SELECT doc_id, unnest($shingleListSql) AS sh
       |  FROM documents),
       |hs AS (SELECT doc_id, $h AS h FROM e),
       |votes AS (
       |  SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM hs, (SELECT unnest(range(0, $SimhashBits)) AS bit)
       |  GROUP BY doc_id, bit)
       |SELECT doc_id,
       |  sum(CASE WHEN vote > 0 THEN 1::BIGINT << bit ELSE 0 END)::BIGINT AS simhash,
       |  sum(CASE WHEN vote > 0 THEN 1 ELSE 0 END)::BIGINT AS n_set_bits
       |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }
}
