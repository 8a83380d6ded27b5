package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.ops.SimilarityOps

/** Streaming side of the similarity tier: query-time centroid assignment
  * over a live vector stream, plus the quantizer-staleness monitor that
  * tells the "build once, query many" index tier WHEN to retrain.
  */
object StreamingSimilarity {

  final case class Assigned(vec_id: Long, cell: Long, cos: Double)

  /** Assign each arriving vector to its nearest trained centroid — the
    * query-time half of the IVF quantizer run incrementally. The trained
    * centroid table (k×Dim, memoized batch-side by
    * [[SimilarityOps.kmeansCentroids]]) is collected ONCE per session and
    * ships in the plan as the nearest-centroid kernel's candidate literal —
    * exactly how a production scorer loads its quantizer; the per-row
    * argmax is stateless, so the stream needs no state store and replays
    * idempotently.
    *
    * Parity with the batch [[SimilarityOps.coarseCells]] is by
    * construction: both run the same [[SimilarityOps.kmeansAssign]]
    * projection, so ties, NaN cosines (a zero-norm vector elects the
    * smallest cid) and scores agree bit-for-bit (StreamingSpec).
    */
  def assignStream(s: SparkSession, vecs: DataFrame, dir: String): Dataset[Assigned] = {
    import s.implicits._
    SimilarityOps.kmeansAssign(
        vecs.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("vec")),
        SimilarityOps.kmeansCands(s, dir))
      .select(col("vec_id"), col("cid").as("cell"), col("cos"))
      .as[Assigned]
  }

  // ---- quantizer staleness monitor (streaming twin) -----------------------

  /** Fold one micro-batch of vectors into the per-cell residual store:
    * assign against the FROZEN trained centroids (the closure-shipped
    * quantizer of [[assignStream]]), accumulate (cid, n, resid_sum) in the
    * same 1e-4 integer residual units as the batch op, and merge
    * additively through the crash-safe [[GenStore]] generation publish
    * with its replay guard — the [[StreamingDrift]] store pattern over
    * assignment residuals instead of token buckets.
    *
    * A NaN cosine (zero-norm vector) books the MAXIMUM residual (2·10⁴ —
    * the true ceiling, since 1−cos reaches 2.0 for anticorrelated
    * vectors): degenerate arrivals should push a cell toward retrain,
    * not vanish, and never rank below an anticorrelated arrival.
    */
  def mergeResidualsIntoStore(
      batch: DataFrame, dir: String, storePath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (!GenStore.mergedThrough(spark, storePath).exists(_ >= batchId)) {
      import spark.implicits._
      val counts = assignStream(spark, batch, dir)
        .map { a =>
          val r = (1.0 - a.cos) * 10000 + 0.5
          val resid = if (r.isNaN) 20000L else math.floor(r).toLong
          (a.cell, resid)
        }
        .toDF("cid", "resid_i")
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"), sum(col("resid_i")).as("resid_sum"))
      val merged = GenStore.read(spark, storePath) match {
        case Some(store) =>
          store.unionByName(counts)
            .groupBy(col("cid"))
            .agg(sum(col("n")).as("n"), sum(col("resid_sum")).as("resid_sum"))
        case None => counts
      }
      GenStore.publish(merged, storePath, batchId)
    }
  }

  /** The maintenance sink over an embeddings-shaped stream
    * (vec_id, embedding). */
  def startStalenessSink(
      vecs: DataFrame, dir: String, storePath: String,
      checkpoint: String): StreamingQuery =
    vecs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeResidualsIntoStore(batch, dir, storePath, batchId)
      }
      .start()

  /** The live retrain signal: accumulated arrival residuals vs the
    * quantizer's train-time baseline, through the SAME verdict projection
    * as the batch op ([[SimilarityOps.stalenessProject]]) — streamed and
    * batch can never disagree on what "stale" means. Both sides of the
    * join are k-row frames.
    */
  def stalenessFromStore(s: SparkSession, dir: String, storePath: String): DataFrame = {
    val base = SimilarityOps.quantizerBaselineStats(s, dir)
      .select(col("cid"), col("n").as("n_base"), col("resid_sum").as("rs_base"))
    val win = GenStore.read(s, storePath)
      .getOrElse(sys.error(s"no complete staleness generation under $storePath"))
      .select(col("cid"), col("n").as("n_inc"), col("resid_sum").as("rs_inc"))
    SimilarityOps.stalenessProject(
      base.join(win, Seq("cid"), "full_outer")
        .select(col("cid"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_inc"), lit(0L)).as("n_inc"),
          coalesce(col("rs_base"), lit(0L)).as("rs_base"),
          coalesce(col("rs_inc"), lit(0L)).as("rs_inc")))
      .orderBy("cid")
  }
}
