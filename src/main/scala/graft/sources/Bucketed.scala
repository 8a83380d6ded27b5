package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table source — the pre-shuffle co-location lever: lineitem and
  * orders written `bucketBy(8, orderkey)` join WITHOUT a shuffle exchange
  * (each bucket pair joins locally; the only exchange left in the query is
  * the final group-by). At 100 TB this is how a fact⋈fact join on a shared
  * key avoids re-shuffling petabytes on every run: pay the partitioned
  * write once, read co-located forever. The merge hint pins the sort-merge
  * path — for two co-bucketed fact tables that IS the scale-correct plan
  * (broadcast is off the table by size).
  *
  * The bucketed DATA is durable per corpus version: it is written once as
  * an external table into an identity-keyed directory (atomic-rename
  * publish, same race discipline as every IndexStore artifact) and each
  * later session re-creates only the CATALOG ENTRY over the existing
  * files (`CREATE TABLE … CLUSTERED BY … LOCATION`) — metadata-only, so
  * no process after the first ever re-shuffles the facts. That split is
  * exactly the production story: the expensive partitioned write happens
  * once per corpus version, sessions attach to it.
  */
object Bucketed {

  private def ensure(s: SparkSession, sfDir: String): (String, String) = {
    val appTag = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "")
    val dirTag = java.util.UUID
      .nameUUIDFromBytes(sfDir.getBytes("UTF-8")).toString.take(8).replace("-", "")
    // the table NAME carries the input identity: if the testdata is
    // regenerated while this JVM lives, a newer-data process will GC the
    // old artifact directory — the stale catalog entry must simply never
    // be consulted again (new identity → new name → fresh attach)
    def identTag(src: String): String = java.util.UUID
      .nameUUIDFromBytes(Tables.fileIdent(s, sfDir, src).getBytes("UTF-8"))
      .toString.take(8).replace("-", "")
    val li = s"li_bkt_${dirTag}_${identTag("lineitem")}"
    val ord = s"ord_bkt_${dirTag}_${identTag("orders")}"
    // artifact name WITHOUT identTag (identity goes in the hash): the
    // store's stale-generation sweep can then GC the previous testdata's
    // bucketed copy — the identity-bearing TABLE name above only protects
    // this JVM's catalog from attaching to a GC'd path
    def artifact(kind: String): String = s"bucketed-${kind}_$dirTag"
    def build(table: String, artifactKind: String, src: String,
        df: => DataFrame, key: String): Unit =
      if (!s.catalog.tableExists(table)) {
        val frame = df
        val path = graft.ops.IndexStore.loadOrBuildDir(
          artifact(artifactKind), Tables.fileIdent(s, sfDir, src)) { tmp =>
          // write the bucketed files as an EXTERNAL table at the temp
          // path, then drop only the catalog entry — the files stay and
          // loadOrBuildDir's atomic rename publishes them
          val tmpTbl = s"${table}_build_$appTag"
          frame.write.mode("overwrite")
            .bucketBy(8, key).sortBy(key)
            .option("path", tmp.toString).saveAsTable(tmpTbl)
          s.sql(s"DROP TABLE $tmpTbl")
        }
        s.sql(
          s"""CREATE TABLE $table (${frame.schema.toDDL})
             |USING PARQUET
             |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
             |LOCATION '$path'""".stripMargin)
      }
    Bucketed.synchronized {
      build(li, "li", "lineitem", Tables.read(s, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
        "l_orderkey")
      build(ord, "ord", "orders", Tables.read(s, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")), "o_orderkey")
    }
    (li, ord)
  }

  /** Co-bucketed lineitem⋈orders → per-priority revenue. The join carries
    * NO shuffle exchange (pinned in PlanAuditSpec: the single exchange in
    * the plan is the group-by's); the oracle computes the same aggregate
    * from the ORIGINAL parquet, so bucket routing errors (wrong hash, row
    * loss at bucket boundaries) break the compare.
    */
  def bucketedJoinAgg(s: SparkSession, sfDir: String): DataFrame = {
    val (li, ord) = ensure(s, sfDir)
    s.table(li)
      .join(s.table(ord).hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  val bucketedJoinAggSql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  round(sum(l_extendedprice), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
}
