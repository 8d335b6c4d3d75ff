package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType, StructType, DataType}

/** Bronze-layer IO (SURVEY.md §2.1): the reference's file/config surfaces
  * re-expressed as DataSource reads with explicit schemas (schema inference
  * is allowed only in exploratory code — SURVEY §1.1), plus the JSON/CSV
  * sinks (K1/K2). Ingestion itself (HTTP scrape/REST) is out of engine
  * scope; these are the landed-data readers.
  */
object Bronze {

  /** S5 — CSV scan with explicit schema + header
    * (pandas read_csv at _archive/flight_avg_merge.py:22-23,91). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S1..S4 output shape — JSON lines scan with explicit schema. */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** P3 quarantine variant — PERMISSIVE read that routes malformed rows to
    * `_corrupt_record` instead of failing the scan (the declarative twin of
    * the reference's warn-and-skip loops, exchage_rate_crawler.py:281-298).
    * Returns (clean rows, quarantined raw strings). */
  def readJsonQuarantined(
      spark: SparkSession, path: String, schema: StructType): (DataFrame, DataFrame) = {
    val withCorrupt = schema.add("_corrupt_record", StringType)
    val df = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt).json(path)
      .cache() // PERMISSIVE corrupt-column reads require a materialized scan
    (df.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      df.filter(col("_corrupt_record").isNotNull).select(col("_corrupt_record")))
  }

  /** S6 — config-object scan: a single JSON object whose keys are dynamic
    * (country codes) and whose values share a struct shape
    * (config/master_country_crawler.json, loaded at
    * exchage_rate_crawler.py:45-47). Read multiLine, then transpose
    * key→struct into rows via a to_json/from_json map round-trip (works
    * for any key set without declaring per-key fields). */
  def readConfigMap(spark: SparkSession, path: String, valueSchema: DataType): DataFrame =
    spark.read.option("multiLine", "true").json(path)
      .select(explode(from_json(to_json(struct(col("*"))),
        MapType(StringType, valueSchema))).as(Seq("key", "value")))
      .select(col("key"), col("value.*"))

  /** K1 — event-JSON serialization: one JSON string per record
    * (json.dumps at functions/exchange_rate_trigger.py:48). */
  def toEventJson(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value"))

  /** K1/K2 — sinks. The reference's Event-Hub batch send and blob/file
    * dumps become ordinary DataFrame writes (streaming callers use
    * writeStream with the same formats). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** K2, ORC variant — same columnar/zone-map properties as parquet
    * (predicate pushdown, column pruning, splittable), built into Spark
    * with no extra dependency; the interchange format when a downstream
    * consumer is Hive/Trino-first. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** K2 at scale — parquet laid out by low-cardinality partition columns
    * (bronze by `rate_type`/`dt`, ARCHITECTURE §2): equality/range filters
    * on them become PartitionFilters (directory pruning) so a day's query
    * never lists, let alone reads, the other days' files. PlanShapeSpec
    * pins the pruning. */
  def writeParquetPartitioned(
      df: DataFrame, path: String, partitionBy: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(path)

  /** Gold Delta write — ENVIRONMENT-DEFERRED: the reference's downstream
    * stores gold as Delta in a catalog (README.md:86-87,111). The call
    * shape compiles against plain Spark (format is resolved at runtime),
    * but this offline container has no delta-spark jar, so execution
    * fails at DataSource lookup; on a cluster, add the delta-spark
    * package + `spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension`
    * and this method works unchanged. Partition by ingest date for
    * partition pruning (SURVEY §4). */
  def writeDelta(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.format("delta").mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(path)
  }
}
