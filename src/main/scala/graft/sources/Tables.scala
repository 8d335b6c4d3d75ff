package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated test tables (`/root/repo/TESTDATA.md`).
  *
  * Schemas come from the parquet footers (driver-authored, authoritative).
  * At 100 TB these would be partitioned Delta/Parquet tables; the accessors
  * keep the read declarative so Catalyst can push filters/projections into
  * the scan (verified by plan-shape tests in `PlanShapeSpec`).
  */
object Tables {
  /** Every table is read with TIMESTAMP(NANOS) columns as longs of nanos
    * (Spark 4 rejects them otherwise; see [[events]]), so one session keys
    * all its reads under one posture whichever table it reads first. A
    * caller's explicit setting is kept. */
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Session confs that change what a parquet footer infers to. */
  private val InferenceConfs = Seq(
    NanosAsLong,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** One file version read under one inference posture. */
  private case class SchemaKey(path: String, mtime: Long, length: Long, confs: Seq[String])

  /** Inferred schema per table file version, process-wide. Inference
    * (`spark.read.parquet` without a schema) launches a one-task footer
    * job before the query's plan exists; a hit hands the schema to the
    * reader instead, so the read runs no job. Only the `StructType` is
    * kept: every read still builds its own relation and lists the path,
    * so files added to a table directory are seen, and a file rewritten
    * in place changes mtime/length and is inferred again. */
  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // `getAll` holds only the explicitly set confs (`getOption` would
    // also return the default)
    if (!spark.conf.getAll.contains(NanosAsLong)) spark.conf.set(NanosAsLong, "true")
    val file = s"$dir/$name.parquet"
    val path = new Path(file)
    val status =
      try Some(path.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(path))
      catch { case _: java.io.FileNotFoundException => None }
    status match {
      case None => spark.read.parquet(file) // Spark reports the missing path
      case Some(st) =>
        val key = SchemaKey(st.getPath.toString, st.getModificationTime, st.getLen,
          InferenceConfs.map(k => spark.conf.get(k)))
        Option(schemas.get(key)) match {
          case Some(schema) => spark.read.schema(schema).parquet(file)
          case None =>
            val df = spark.read.parquet(file)
            schemas.put(key, df.schema)
            df
        }
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in two physical layouts across fixture
    * generations: TIMESTAMP(NANOS) — which Spark 4 rejects
    * ([PARQUET_TYPE_ILLEGAL]) unless read as a long of nanos — and plain
    * TIMESTAMP(µs) with isAdjustedToUTC=false (Spark: TIMESTAMP_NTZ).
    * Dispatch on the footer schema so either vintage lands on the same µs
    * `TimestampType`: longs get the nanos→µs conversion, NTZ gets a plain
    * cast (the session TZ is pinned UTC everywhere, so NTZ→TZ is
    * value-preserving). DuckDB's native timestamp is µs too, so the oracle
    * sees identical values either way. Hard-coding one layout cost round 5
    * twenty queries and the whole bench — keep this dispatch. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already session-TZ TimestampType
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
