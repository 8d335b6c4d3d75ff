package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampType

import graft.sources.Tables

/** The `Tables` schema memo: a table file's footer is inferred once per
  * file version and inference posture, and every later read hands the
  * schema to the reader, so it runs no Spark job. Temp copies of the
  * sf0.001 files give each test keys no other suite has touched. */
class TablesSpec extends SparkSpec {

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def tempDir(): Path = Files.createTempDirectory("graft-tables")

  private def copy(table: String, to: Path, as: String): Unit =
    Files.copy(Paths.get(sf(), s"$table.parquet"), to.resolve(s"$as.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

  /** Jobs `body` launches from this thread (suites share the session
    * and run in parallel, so only this thread's own job group counts). */
  private def jobsOf[T](s: SparkSession)(body: => T): (T, Int) = {
    val (out, jobs) = PlanAudit.jobsOf(s)(body)
    (out, jobs.size)
  }

  test("a second read of the same table version launches no job") {
    val dir = tempDir()
    copy("documents", dir, "documents")
    val (first, firstJobs) = jobsOf(spark)(Tables.documents(spark, dir.toString))
    val (second, secondJobs) = jobsOf(spark)(Tables.documents(spark, dir.toString))
    assert(firstJobs >= 1, "the first read should infer the footer schema")
    assert(secondJobs == 0, s"the cached read launched $secondJobs job(s)")
    assert(second.schema == first.schema)
    assert(second.count() == Tables.documents(spark, sf()).count())
  }

  test("a table read again after events is served from the memo") {
    val dir = tempDir()
    copy("documents", dir, "documents")
    copy("events", dir, "events")
    val s = isolated()
    Tables.documents(s, dir.toString)
    Tables.events(s, dir.toString)
    val (_, jobs) = jobsOf(s)(Tables.documents(s, dir.toString))
    assert(jobs == 0, s"documents after events launched $jobs job(s)")
  }

  test("a table rewritten in place is read back with its new schema") {
    val dir = tempDir()
    copy("documents", dir, "t")
    val docCols = Tables.table(spark, dir.toString, "t").columns.toSeq
    assert(Tables.table(spark, dir.toString, "t").columns.toSeq == docCols)
    copy("region", dir, "t")
    val rewritten = Tables.table(spark, dir.toString, "t")
    assert(rewritten.columns.toSeq == Tables.region(spark, sf()).columns.toSeq)
    assert(rewritten.columns.toSeq != docCols)
    assert(rewritten.count() == Tables.region(spark, sf()).count())
  }

  /** `events` in the TIMESTAMP(NANOS) layout of earlier fixture
    * generations: event_id plus `ts` as nanoseconds. */
  private def writeNanosEvents(dir: Path, rows: Seq[(Long, Long)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { optional int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, micros) =>
      writer.write(groups.newGroup().append("event_id", id).append("ts", micros * 1000L))
    } finally writer.close()
  }

  test("both events.ts layouts land on µs TimestampType with identical values when cached") {
    val ntzDir = tempDir()
    copy("events", ntzDir, "events")
    def micros(s: SparkSession, d: Path): Seq[(Long, Long)] = {
      val df = Tables.events(s, d.toString)
      assert(df.schema("ts").dataType == TimestampType, s"ts read as ${df.schema("ts").dataType}")
      df.selectExpr("event_id", "unix_micros(ts)").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    }
    val s = isolated()
    val ntz = micros(s, ntzDir)
    assert(ntz.nonEmpty)
    val nanosDir = tempDir()
    writeNanosEvents(nanosDir, ntz)
    val (nanosFirst, _) = jobsOf(s)(micros(s, nanosDir))
    val (nanosCached, nanosJobs) = jobsOf(s)(Tables.events(s, nanosDir.toString))
    assert(nanosJobs == 0, s"the cached events read launched $nanosJobs job(s)")
    assert(nanosCached.schema("ts").dataType == TimestampType)
    assert(micros(s, ntzDir) == ntz)
    assert(nanosFirst == ntz)
    assert(micros(s, nanosDir) == ntz)
  }

  test("a session with another nanosAsLong setting gets its own memo entry") {
    val dir = tempDir()
    writeNanosEvents(dir, Seq(1L -> 1700000000000000L))
    val asLong = isolated(nanosAsLong -> "true")
    val (_, inferJobs) = jobsOf(asLong)(Tables.table(asLong, dir.toString, "events"))
    val (cached, cachedJobs) = jobsOf(asLong)(Tables.table(asLong, dir.toString, "events"))
    assert(inferJobs >= 1 && cachedJobs == 0)
    assert(cached.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    // without the conf Spark refuses TIMESTAMP(NANOS); a memo keyed on
    // the path alone would hand this session the other one's LongType
    val strict = isolated(nanosAsLong -> "false")
    val e = intercept[Exception](jobsOf(strict)(Tables.table(strict, dir.toString, "events")))
    assert(msgs(e).exists(_.contains("PARQUET_TYPE_ILLEGAL")), msgs(e).mkString(" | "))
  }
}
