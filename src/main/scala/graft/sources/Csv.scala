package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CSV source/sink round-trip — the reference's own interchange format (its
  * K3 sink writes label CSVs; `schedule-jobs` consumes CSV task lists).
  * The round-trip query proves the documents table survives CSV
  * write→read byte-exactly through quoting/escaping: the same
  * per-language digest as [[Orc.roundtripAgg]], compared against the
  * DuckDB oracle reading the ORIGINAL parquet — a mangled delimiter,
  * header, or quote boundary breaks the hash.
  *
  * Read side declares the schema (no inference pass — at 100 TB schema
  * inference is a full extra scan) and runs FAILFAST so a malformed row
  * fails loudly rather than nulling out.
  */
object Csv {

  /** Deterministic CSV dump of the documents table, written once per input
    * dir (write-to-temp + atomic rename, same discipline as Orc/Jsonl).
    */
  def dumpDocuments(s: SparkSession, sfDir: String): String = {
    val tmp = System.getProperty("java.io.tmpdir", "/tmp")
    val out = s"$tmp/graft-csv/${java.util.UUID.nameUUIDFromBytes(
      Tables.fileIdent(s, sfDir, "documents").getBytes("UTF-8"))}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out))) {
      graft.ops.IndexStore.recordFixtureBuild("csv-dump")
      val staging = s"$out.tmp-${java.util.UUID.randomUUID()}"
      Tables.read(s, sfDir, "documents")
        .write.mode("overwrite")
        .option("header", "true")
        .csv(staging)
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

  /** Read the CSV dump with the declared schema, FAILFAST. multiLine so a
    * document text containing an embedded newline (quoted correctly on
    * write) parses back instead of aborting — the write side never guards
    * against newlines, so the read side must not assume their absence.
    */
  def readDocuments(s: SparkSession, path: String): DataFrame =
    s.read
      .schema(Tables.documents)
      .option("header", "true")
      .option("mode", "FAILFAST")
      .option("multiLine", "true")
      .csv(path)

  /** parquet → CSV → read-back → per-language digest (same digest contract
    * as [[Orc.roundtripAgg]]: order-free 40-bit md5 residue sum per text).
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

  /** The oracle reads the ORIGINAL parquet — equality across the CSV hop
    * is exactly what the query asserts.
    */
  val roundtripAggSql: String = Orc.roundtripAggSql
}
