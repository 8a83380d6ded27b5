package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Explicit-schema parquet readers for the shared test tables.
  *
  * The reference declares every record shape up front with Pydantic and never
  * infers (`/root/reference/categorize-trail-conditions/src/models.py:12-18`,
  * `fetch-weather/src/api.py:8-16`); the Spark-native equivalent is an
  * explicit `StructType` per table so a scan never pays schema inference and
  * unknown columns are ignored by projection rather than by row-level code.
  *
  * Scale note: all readers return the raw scan — no caching, no collect.
  * Filters/projections composed on top of these reach the parquet reader via
  * Catalyst pushdown (verify with `.explain`: `PushedFilters`, `ReadSchema`).
  */
object Tables {

  // Schemas match the physical parquet types exactly (int32 vs int64 matters
  // for the vectorized reader).
  val region: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nation: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customer: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplier: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val part: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  // events.ts has shipped as BOTH parquet TIMESTAMP(NANOS) and
  // TIMESTAMP(MICROS) across test-data generations. Spark cannot represent
  // nanos (PARQUET_TYPE_ILLEGAL): sessions set
  // spark.sql.legacy.parquet.nanosAsLong=true so a nanos column scans as raw
  // int64 and [[read]] converts via integer microsecond division; a micros
  // column scans as TimestampType directly. [[eventsTsIsNanos]] probes the
  // footer once per directory (driver-side metadata read, cached) to pick
  // the schema — per-row magnitude heuristics would be fragile.
  def events(tsIsNanos: Boolean): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", if (tsIsNanos) LongType else TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private val tsKindCache = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()

  /** True iff `<dir>/events.parquet` stores ts as TIMESTAMP(NANOS) (which a
    * nanosAsLong session surfaces as LongType). Reads one data file's footer
    * on the driver (the file itself, or the first part file of a directory)
    * and runs no Spark job. Memoized by file identity (size+mtime) so a
    * regenerated events.parquet within one JVM lifetime re-probes instead
    * of serving a stale encoding.
    */
  def eventsTsIsNanos(spark: SparkSession, sfDir: String): Boolean =
    tsKindCache.computeIfAbsent(fileIdent(sfDir, "events"), _ => {
      val conf = spark.sparkContext.hadoopConfiguration
      val path = new Path(s"$sfDir/events.parquet")
      val fs = path.getFileSystem(conf)
      val file = Some(fs.getFileStatus(path)).filter(_.isFile).getOrElse(
        fs.listStatus(path).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .minBy(_.getPath.getName))
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
      val schema = try reader.getFileMetaData.getSchema finally reader.close()
      val ts = schema.getType(schema.getFieldIndex("ts"))
      ts.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      }
    })

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val schemas: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "documents" -> documents,
    "embeddings" -> embeddings)

  /** Identity string for a source parquet (dir + size + mtime) — the cache
    * key for cross-JVM dump directories (Jsonl/Orc/Csv): a regenerated
    * source file must invalidate the cached dump, not silently serve stale
    * rows. (The driver rewrites the testdata between rounds.)
    */
  def fileIdent(sfDir: String, name: String): String = {
    val p = java.nio.file.Paths.get(s"$sfDir/$name.parquet")
    s"$sfDir/$name:${java.nio.file.Files.size(p)}:" +
      java.nio.file.Files.getLastModifiedTime(p).toMillis
  }

  /** Scan one table from a scale-factor directory with its declared schema. */
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      if (eventsTsIsNanos(spark, sfDir))
        // `ts div 1000` (integer division) — ns epochs exceed double's 2^53
        // mantissa, so a float division here would corrupt timestamps.
        spark.read.schema(events(tsIsNanos = true)).parquet(s"$sfDir/events.parquet")
          .withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      else
        spark.read.schema(events(tsIsNanos = false)).parquet(s"$sfDir/events.parquet")
    } else spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")
  }
}
