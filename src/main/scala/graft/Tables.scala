package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers for the harness test tables (FIXTURES.md §A).
  *
  * Parquet is self-describing, so there is no CSV-style `inferSchema`
  * scan of the data (the reference's triple scan —
  * linehaul_source_to_bronze.py:109-141). Its schema still has to be read
  * from a footer, though, and a schema-less `spark.read.parquet` starts a
  * Spark job to do that. [[parquet]] pays that job once per table content
  * and session; every later read passes the remembered schema. Each reader
  * is a plain parquet scan; Catalyst handles column pruning + predicate
  * pushdown, so callers should express projections/filters declaratively
  * and let them reach the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet reader confs that change the schema inference returns for the
    * same files. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema", "spark.sql.sources.partitionColumnTypeInference.enabled")

  /** session -> (path, inference confs) -> (content fingerprint, schema).
    * Weak in the session, so a stopped session's entries can be collected. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[(String, Seq[Option[String]]), (String, StructType)]])

  /** `spark.read.parquet(path)` with the inferred schema memoized per
    * session, inference confs and content fingerprint
    * ([[graft.ml.ArtifactStore.fingerprint]]): an unchanged table is read
    * with its known schema and starts no job, a table rewritten in place
    * is inferred again. Only the schema is kept, never the DataFrame, so
    * two reads are two relations and self-joins still resolve. A path
    * that is not a local file or directory (a URI, a glob) is read
    * without the memo. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    if (!Files.exists(Paths.get(path))) spark.read.parquet(path)
    else {
      val memo = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap)
      val key = (path, InferenceConfs.map(spark.conf.getOption))
      val fp = graft.ml.ArtifactStore.fingerprint(path)
      Option(memo.get(key)) match {
        case Some((`fp`, schema)) => spark.read.schema(schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          memo.put(key, (fp, df.schema))
          df
      }
    }

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame =
    parquet(spark, s"$sfDir/$table.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has shipped with different physical types across fixture
    * generations: parquet TIMESTAMP(NANOS) (which Spark 4 refuses to read
    * natively — PARQUET_TYPE_ILLEGAL), and plain TIMESTAMP(MICROS) without
    * timezone (which Spark reads as TIMESTAMP_NTZ). Adapt to whatever is on
    * disk and normalize to a session-TZ TIMESTAMP so every downstream
    * operator sees one stable type. Sessions here run with
    * spark.sql.session.timeZone=UTC, so the NTZ→TZ cast is value-preserving
    * and matches what DuckDB computes on the same file. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df =
      try load(s, d, "events")
      catch {
        case scala.util.control.NonFatal(_) =>
          // Legacy NANOS fixture: the only way in is the nanos-as-long
          // escape hatch (a session conf; scoped to this fallback path).
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          load(s, d, "events")
      }
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
