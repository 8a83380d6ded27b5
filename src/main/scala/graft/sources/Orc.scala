package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ORC source/sink round-trip — the second columnar format beside parquet
  * (warehouses routinely carry both; Spark's ORC reader is vectorized and
  * supports the same pushdown surface). The round-trip query proves the
  * documents table survives ORC write→read bit-exactly: every column plus
  * an md5 over the text re-aggregated per language and compared against
  * the DuckDB oracle reading the ORIGINAL parquet — any codec-boundary
  * corruption (encoding, nulls, long strings) breaks the hash.
  *
  * Same atomic-dump discipline as [[Jsonl.dumpEvents]]: write-to-temp +
  * atomic rename, keyed by input dir, under java.io.tmpdir.
  */
object Orc {

  /** Deterministic ORC dump of the documents table, written once per input
    * dir (concurrent processes coordinate via write-to-temp + rename).
    */
  def dumpDocuments(s: SparkSession, sfDir: String): String = {
    val tmp = System.getProperty("java.io.tmpdir", "/tmp")
    val out = s"$tmp/graft-orc/${java.util.UUID.nameUUIDFromBytes(
      Tables.fileIdent(s, sfDir, "documents").getBytes("UTF-8"))}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out))) {
      graft.ops.IndexStore.recordFixtureBuild("orc-dump")
      val staging = s"$out.tmp-${java.util.UUID.randomUUID()}"
      Tables.read(s, sfDir, "documents")
        .write.mode("overwrite").orc(staging)
      try
        java.nio.file.Files.move(
          java.nio.file.Paths.get(staging), java.nio.file.Paths.get(out),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException
            | _: java.nio.file.DirectoryNotEmptyException =>
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(): Unit
          }
          rm(new java.io.File(staging))
      }
    }
    out
  }

  /** Read the ORC dump with the declared schema (no inference pass). */
  def readDocuments(s: SparkSession, path: String): DataFrame =
    s.read.schema(Tables.documents).orc(path)

  /** parquet → ORC → read-back → per-language digest. An order-free sum of
    * per-text 40-bit md5 residues pins byte fidelity of every text (60-bit
    * terms would overflow a long sum under ANSI mode); counts/sums pin row
    * completeness.
    */
  def roundtripAgg(s: SparkSession, sfDir: String): DataFrame = {
    val docs = readDocuments(s, dumpDocuments(s, sfDir))
    docs
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(pmod(graft.ops.TextOps.hash60(col("text")), lit(1L << 40)))
          .as("text_digest"))
      .orderBy("lang")
  }

  /** The oracle reads the ORIGINAL parquet — equality across the ORC hop
    * is exactly what the query asserts.
    */
  val roundtripAggSql: String =
    s"""SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
       |  sum((${graft.ops.TextOps.hash60Sql("text")}) % ${1L << 40})::BIGINT AS text_digest
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
}
