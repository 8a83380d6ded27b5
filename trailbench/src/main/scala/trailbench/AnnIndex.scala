package trailbench

import org.apache.spark.sql.SparkSession

import graft.ops.SimilarityOps

/** The ANN part of the `store_rw` workload (see `Main`): a corpus
  * version is indexed once, then queried, next to the store. Each
  * set-up repetition lands one block of a seeded corpus with planted
  * clusters; the set-up then builds the index cold, with one `annIvfPq`
  * (index build plus queries), which is part of `setup_s`. One operation
  * is a warm `annIvfPq`. The traced run adds one `knnGraph` over the
  * corpus.
  *
  * A cold build costs about 6 s whatever the corpus size (it is mostly
  * per-job cost), so one per run is what the run budget allows.
  *
  * Checks: recall@3 of every result against the exact top-3 is at least
  * 0.9 (the repository's `q_ann_recall` gate); every returned neighbour's
  * cosine equals the exact cosine of that pair; a warm result equals the
  * cold one; the graph has one row per vector.
  */
final class AnnIndex(spark: SparkSession, opts: Opts) extends Workload(opts) {
  private val (vectors, clusters, groupSize, spread) =
    if (opts.tiny) (400, 8, 4, 0.5) else (1000, 8, 4, 0.5)
  private val Queries = SimilarityOps.NQueries
  private val dir = s"${opts.work}/corpus"
  private val vecs = Gen.corpus(Gen.mix(opts.seed, 1000), vectors, clusters, groupSize, spread)

  val primary = "query"

  private type Result = Seq[(Long, Long, Long, Double)]
  private var cold: Result = Seq.empty
  private var buildS = Double.NaN
  private var graphed = false

  private def ann(): Result = SimilarityOps.annIvfPq(spark, dir).collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  /** Exact top-3 neighbour ids per query, ties broken by id. */
  private lazy val truth: Map[Long, Set[Long]] =
    (0 until Queries).map { q =>
      q.toLong -> vecs.indices.filter(_ != q)
        .sortBy(i => (-Gen.cosine(vecs(q), vecs(i)), i)).take(3).map(_.toLong).toSet
    }.toMap

  /** Recall@3 of a result, and whether every cosine it reports is exact. */
  private def score(res: Result): (Double, Boolean) = {
    val hits = res.count { case (q, r, n, _) => r <= 3 && truth(q).contains(n) }
    val exact = res.forall { case (q, _, n, cos) =>
      n >= 0 && n < vectors && math.abs(Gen.cosine(vecs(q.toInt), vecs(n.toInt)) - cos) <= 2e-6
    }
    (hits.toDouble / (Queries * 3), exact)
  }

  /** Lands block `rep` of the corpus (a third of its groups). */
  def prepare(rep: Int, rec: Recorder): Unit = {
    def at(r: Int) = vectors / groupSize * r / opts.reps * groupSize
    Gen.writeCorpus(spark, dir, vecs, at(rep), if (rep == opts.reps - 1) vectors else at(rep + 1),
      groupSize)
  }

  /** The cold index build. */
  override def prepareOnce(rec: Recorder): Unit = {
    val t = System.nanoTime()
    cold = ann()
    buildS = (System.nanoTime() - t) / 1e9
    val (recall, exact) = score(cold)
    rec.check(recall >= 0.9 && exact, s"cold build: recall $recall, exact cosines $exact")
  }

  def op(i: Long, rec: Recorder): Unit = {
    if (Trace.on && rec.measuring && !graphed) {
      graphed = true
      val (graphRows, _) = rec.time("knn_graph") {
        Trace.span("similarity.knn_graph", "similarity") {
          SimilarityOps.knnGraph(spark, dir).collect().length
        }
      }
      rec.check(graphRows == vectors, s"kNN graph rows $graphRows of $vectors")
    }
    val (warm, _) = rec.time("query") { Trace.span("similarity.query", "similarity")(ann()) }
    val shown = if (corruptNow(rec)) {
      // the self-check's wrong neighbour: the first row names a vector it
      // did not score
      val (q, r, n, cos) = warm.head
      (q, r, (n + 1) % vectors, cos) +: warm.tail
    } else warm
    val (recall, exact) = score(shown)
    rec.addSum("recall", recall)
    rec.addSum("results", 1)
    rec.check(recall >= 0.9 && exact && shown == cold,
      s"query $i: recall $recall, exact cosines $exact, equal to the cold result ${shown == cold}")
  }

  def finish(rec: Recorder): Unit = ()
  def close(): Unit = ()

  def figures(rec: Recorder): Seq[Figure] = Seq(
    Figure("build_p50_s", buildS, "s", s"the set-up's cold annIvfPq, $vectors x 64 corpus; n=1"),
    Report.pct("query_p50_s", rec.get("query"), 50))

  def layers(rec: Recorder, facts: Seq[OpFacts]): Seq[(Figure, String)] = {
    def of(name: String) = facts.filter(_.root.name == name)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val query = med(of("similarity.query").map(_.root.durMs / 1000))
    val n = rec.sum("results")
    Seq(
      Figure("similarity.build_s", buildS - query, "s") -> "build_p50_s, setup_s on store_rw",
      Figure("similarity.query_s", query, "s") -> "query_p50_s on store_rw",
      Figure("similarity.knn_graph_s", med(of("similarity.knn_graph").map(_.root.durMs / 1000)),
        "s") -> "none gated (traced run only)",
      Figure("similarity.recall", if (n == 0) 0.0 else rec.sum("recall") / n, "ratio") ->
        "none (correctness)",
      Figure("similarity.shuffle_bytes",
        med(of("similarity.query").map(_.shuffleWriteBytes.toDouble)), "bytes") ->
        "query_p50_s on store_rw")
  }
}
