package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.Multimodal
import graft.streaming.Events

class MultimodalStreamingSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------ multimodal

  private def docs = Seq(
    (0L, "hello world"),
    (1L, "spark multimodal plumbing test payload")
  ).toDF("doc_id", "text")

  test("multimodal: payload attach keeps metadata queries binary-free") {
    val media = Multimodal.attachPayload(docs)
    assert(media.schema("payload").dataType.typeName == "binary")
    val meta = media.select($"doc_id", $"n_bytes", $"format")
    assert(meta.filter($"doc_id" === 0L).head().getAs[Long]("n_bytes") == 11L)
  }

  // ------------------------------------------------------------- streaming

  private def ev(id: Long, user: Long, t: String, typ: String, v: Double) =
    (id, Timestamp.valueOf(t), user, typ, v)

  test("T5 tumbling window: batch and streaming agree") {
    val rows = Seq(
      ev(0, 1, "2024-01-01 00:01:00", "click", 1.0),
      ev(1, 1, "2024-01-01 00:02:00", "click", 2.0),
      ev(2, 2, "2024-01-01 00:06:00", "click", 4.0),
      ev(3, 2, "2024-01-01 00:07:30", "view", 8.0))
    val batch = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val batchGot = Events.tumblingCounts(batch)
      .orderBy($"window_start", $"event_type").collect()
    assert(batchGot.length == 3)
    assert(batchGot.head.getAs[Long]("n") == 2)
    assert(batchGot.head.getAs[Double]("sum_value") == 3.0)

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    // enqueue BEFORE start: AvailableNow snapshots available offsets at
    // query start, so later addData may be skipped (observed flake)
    stream.addData(rows: _*)
    val sdf = stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Events.tumblingCounts(sdf).writeStream
      .format("memory").queryName("t5_out").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    val streamGot = spark.sql("SELECT * FROM t5_out")
      .orderBy($"window_start", $"event_type").collect()
    assert(streamGot.map(r => (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSeq ==
      batchGot.map(r => (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSeq)
  }

  test("sessionWindowCounts: built-in session_window agrees batch vs streaming, merges across batches") {
    implicit val sqlCtx = spark.sqlContext
    val early = Seq(
      ev(0, 1, "2024-01-01 00:00:00", "click", 1.0),
      ev(1, 1, "2024-01-01 00:30:00", "click", 2.0),   // same session (gap 1h)
      ev(2, 2, "2024-01-01 00:05:00", "view", 4.0))
    val late = Seq(
      ev(3, 1, "2024-01-01 01:15:00", "click", 8.0),   // extends user 1's session
      ev(4, 1, "2024-01-01 05:00:00", "click", 16.0))  // new session
    val batch = Events.sessionWindowCounts(
      (early ++ late).toDF("event_id", "ts", "user_id", "event_type", "value"))
      .orderBy($"user_id", $"session_start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
    // user 1: one merged session 00:00-01:15(+1h) and a lone 05:00 session
    assert(batch.count(_._1 == 1L) == 2 && batch.count(_._1 == 2L) == 1)
    assert(batch.head._4 == 3L && batch.head._5 == 11.0)

    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    stream.addData(early: _*)
    stream.addData(late: _*)   // separate source batch: state-store merge path
    val sdf = stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Events.sessionWindowCounts(sdf).writeStream
      .format("memory").queryName("sw_out").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    val got = spark.sql("SELECT * FROM sw_out")
      .orderBy($"user_id", $"session_start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == batch.toSeq, "streaming session merge diverged from batch")
  }

  test("T2 file-source stream over the real events fixture matches batch") {
    // stage the driver's events parquet as a streaming source directory
    val dir = java.nio.file.Files.createTempDirectory("graft_evstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf() + "/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = Events.readEventStream(spark, dir.toString)
    assert(stream.isStreaming)
    val q = Events.tumblingCounts(stream, "1 hour").writeStream
      .format("memory").queryName("t2_file").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    val streamTotal = spark.sql("SELECT sum(n) FROM t2_file").head().getLong(0)
    val batchTotal = graft.sources.Tables.events(spark, sf()).count()
    assert(streamTotal == batchTotal)
    val streamWindows = spark.sql("SELECT count(*) FROM t2_file").head().getLong(0)
    val batchWindows = Events.tumblingCounts(
      graft.sources.Tables.events(spark, sf()), "1 hour").count()
    assert(streamWindows == batchWindows)
  }

  test("readEventStream raises, naming the dir, when its data files cannot be read") {
    val src = java.nio.file.Files.createTempDirectory("graft_evstream_src")
    Seq((1L, 2L)).toDF("event_id", "ts").coalesce(1)
      .write.mode("overwrite").parquet(src.resolve("t").toString)
    val whole = src.resolve("t").toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(whole.toPath)
    val dir = java.nio.file.Files.createTempDirectory("graft_evstream_bad")
    java.nio.file.Files.write(dir.resolve("part-0.parquet"), bytes.take(bytes.length / 2))
    val err = intercept[IllegalArgumentException](Events.readEventStream(isolated(), dir.toString))
    assert(err.getMessage.contains(dir.toString), err.getMessage)
  }

  test("readEventStream over an empty landing dir starts an idle stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft_evstream_empty")
    val q = Events.readEventStream(isolated(), dir.toString).writeStream
      .format("noop").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(60000), "idle stream did not finish") finally q.stop()
    assert(q.exception.isEmpty)
    assert(q.recentProgress.map(_.numInputRows).sum == 0L)
  }

  test("T5 watermark: rows later than the horizon are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val sdf = stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Events.tumblingCounts(sdf).writeStream
      .format("memory").queryName("t5_late").outputMode("append").start()
    // batch 1: one early window + an event far ahead that advances the
    // watermark (10-minute delay) well past the early window
    stream.addData(
      ev(0, 1, "2024-01-01 00:01:00", "click", 1.0),
      ev(1, 1, "2024-01-01 02:00:00", "click", 2.0))
    q.processAllAvailable()
    // batch 2: a late row inside the already-finalized 00:00 window
    stream.addData(ev(2, 1, "2024-01-01 00:02:00", "click", 99.0))
    q.processAllAvailable()
    // batch 3: advance far enough to flush every open window
    stream.addData(ev(3, 1, "2024-01-01 05:00:00", "click", 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT * FROM t5_late").collect()
      .map(r => r.getAs[Timestamp]("window_start").toString -> r.getAs[Long]("n")).toMap
    // the 00:00 window closed with n=1; the late 99.0 row never reappears
    assert(rows("2024-01-01 00:00:00.0") == 1L)
  }

  test("T4a dedupDeliveries: re-delivered events are dropped across batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val sdf = stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Events.dedupDeliveries(sdf).writeStream
      .format("memory").queryName("t4a_out").outputMode("append").start()
    stream.addData(ev(0, 1, "2024-01-01 00:01:00", "click", 1.0))
    q.processAllAvailable()
    stream.addData(
      ev(0, 1, "2024-01-01 00:01:00", "click", 1.0), // re-delivery: dropped
      ev(1, 1, "2024-01-01 00:02:00", "view", 2.0))
    q.processAllAvailable()
    q.stop()
    assert(spark.sql("SELECT * FROM t4a_out").count() == 2)
  }

  test("T4a dedup state is watermark-bounded: an evicted key can re-emit (the scale contract)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val sdf = stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Events.dedupDeliveries(sdf).writeStream
      .format("memory").queryName("t4a_evict").outputMode("append").start()
    stream.addData(ev(0, 1, "2024-01-01 00:01:00", "click", 1.0))
    q.processAllAvailable()
    // advance the watermark past key 0's expiry (00:01 + 10min < 00:20)
    stream.addData(ev(9, 2, "2024-01-01 00:30:00", "view", 2.0))
    q.processAllAvailable()
    // same (user_id, event_id) re-arrives with a fresh ts AFTER eviction:
    // it passes through again — dropDuplicatesWithinWatermark guarantees
    // dedup only within the delay window, the price of bounded state
    // (plain dropDuplicates would dedup forever by keeping state forever)
    stream.addData(ev(0, 1, "2024-01-01 00:31:00", "click", 1.0))
    q.processAllAvailable()
    q.stop()
    assert(spark.sql("SELECT * FROM t4a_evict").count() == 3)
  }

  test("T4b latestPerUser: out-of-order duplicates never roll state back") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Events.Ev]
    val q = Events.latestPerUser(stream.toDS()).writeStream
      .format("memory").queryName("t4b_out").outputMode("update").start()
    stream.addData(Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:05:00"), "click", 5.0))
    q.processAllAvailable()
    // an out-of-order OLDER event plus an exact duplicate delivery: the
    // emitted state must stay at 00:05, never regress to the stale row
    stream.addData(
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:01:00"), "stale", 1.0),
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:05:00"), "click", 5.0))
    q.processAllAvailable()
    // a genuinely newer event advances the state
    stream.addData(Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:09:00"), "purchase", 9.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT * FROM t4b_out").collect()
      .map(r => (r.getAs[Timestamp]("ts"), r.getAs[String]("event_type")))
    assert(!rows.exists(_._2 == "stale"), s"stale state emitted: ${rows.mkString(",")}")
    assert(rows.last == (Timestamp.valueOf("2024-01-01 00:09:00"), "purchase"))
  }

  test("T4b latestPerUser batch mode: one row per user, the newest") {
    val ds = Seq(
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:01:00"), "a", 1.0),
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:03:00"), "b", 3.0),
      Events.Ev(2L, Timestamp.valueOf("2024-01-01 00:02:00"), "c", 2.0)).toDS()
    val got = Events.latestPerUser(ds).collect().map(e => e.user_id -> e.event_type).toMap
    assert(got == Map(1L -> "b", 2L -> "c"))
  }

  test("environment-deferred connectors fail at source lookup, not plan shape") {
    // Kafka + Delta call shapes ship for cluster users (ARCHITECTURE.md
    // §6); this container has neither jar, so the pinned behavior is:
    // the failure names the missing connector — i.e. the code reached
    // DataSource resolution with the right format string
    val kafkaErr = intercept[Exception] {
      Events.readKafkaStream(spark, "broker:9092", "events",
        org.apache.spark.sql.types.StructType.fromDDL("event_id long, ts timestamp"))
    }
    assert(kafkaErr.getMessage.toLowerCase.contains("kafka"))
    val deltaErr = intercept[Exception] {
      graft.sources.Bronze.writeDelta(
        Seq((1L, "a")).toDF("id", "v"),
        java.nio.file.Files.createTempDirectory("graft_delta").toString)
    }
    assert(deltaErr.getMessage.toLowerCase.contains("delta"))
  }

  test("sessionizeEventTime: out-of-order events close on the EVENT-TIME gap") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Events.Ev]
    val q = Events.sessionizeEventTime(stream.toDS(), gapMs = 60000, wmDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_et").outputMode("append").start()
    // batch 1: user 1's two events arrive OUT OF ORDER (00:00:30 first);
    // they must merge into one [00:00:00, 00:00:30] session
    stream.addData(
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:00:30"), "b", 2.0),
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a", 1.0))
    q.processAllAvailable()
    assert(spark.sql("SELECT * FROM sess_et").count() == 0) // still open
    // batch 2 advances the watermark past the close deadline (00:01:30);
    // batch 3 runs with that watermark, so the EventTimeTimeout fires —
    // wall-clock time is irrelevant throughout (deterministic on replay)
    stream.addData(Events.Ev(2L, Timestamp.valueOf("2024-01-01 01:00:00"), "x", 5.0))
    q.processAllAvailable()
    stream.addData(Events.Ev(2L, Timestamp.valueOf("2024-01-01 02:00:00"), "x", 5.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT * FROM sess_et WHERE user_id = 1").collect()
    assert(rows.length == 1, rows.mkString(","))
    val r = rows.head
    assert(r.getAs[Timestamp]("session_start") == Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(r.getAs[Timestamp]("session_end") == Timestamp.valueOf("2024-01-01 00:00:30"))
    assert(r.getAs[Long]("n_events") == 2L)
    assert(r.getAs[Double]("total_value") == 3.0)
  }

  test("sessionizeEventTime: one batch spanning the gap yields two distinct sessions") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Events.Ev]
    stream.addData(
      Events.Ev(3L, Timestamp.valueOf("2024-01-01 00:00:00"), "a", 1.0),
      Events.Ev(3L, Timestamp.valueOf("2024-01-01 00:00:10"), "a", 2.0),
      Events.Ev(3L, Timestamp.valueOf("2024-01-01 00:10:00"), "a", 4.0))
    val q = Events.sessionizeEventTime(stream.toDS(), gapMs = 60000)
      .writeStream.format("memory").queryName("sess_et2").outputMode("append").start()
    q.processAllAvailable()
    // nothing emits until the watermark seals the intervals
    assert(spark.sql("SELECT * FROM sess_et2").count() == 0)
    stream.addData(Events.Ev(9L, Timestamp.valueOf("2024-01-01 01:00:00"), "x", 0.0))
    q.processAllAvailable()
    stream.addData(Events.Ev(9L, Timestamp.valueOf("2024-01-01 02:00:00"), "x", 0.0))
    q.processAllAvailable()
    q.stop()
    // the 00:10 event is > gap past 00:00:10 -> the batch split into two
    // intervals; both sealed once the watermark passed their end+gap
    val rows = spark.sql(
      "SELECT * FROM sess_et2 WHERE user_id = 3 ORDER BY session_start").collect()
    assert(rows.length == 2, rows.mkString(","))
    assert(rows(0).getAs[Long]("n_events") == 2L)
    assert(rows(0).getAs[Double]("total_value") == 3.0)
    assert(rows(1).getAs[Long]("n_events") == 1L)
    assert(rows(1).getAs[Double]("total_value") == 4.0)
  }

  test("latestPerUserExpiring: active-path semantics match latestPerUser") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Events.Ev]
    // both batches queued up front + AvailableNow: processAllAvailable
    // never settles under ProcessingTimeTimeout's continuous batch clock
    stream.addData(Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:05:00"), "click", 5.0))
    stream.addData(Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:01:00"), "stale", 1.0))
    val q = Events.latestPerUserExpiring(stream.toDS(), ttlMs = 3600000L).writeStream
      .format("memory").queryName("t4b_ttl_out").outputMode("update")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(20000)
    q.stop()
    val rows = spark.sql("SELECT * FROM t4b_ttl_out").collect().map(_.getAs[String]("event_type"))
    assert(!rows.contains("stale") && rows.contains("click"))
  }

  test("sessionizeEventTime: a late event far BEFORE the open session closes as its own session") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Events.Ev]
    val q = Events.sessionizeEventTime(stream.toDS(), gapMs = 60000, wmDelay = "10 minutes")
      .writeStream.format("memory").queryName("sess_late").outputMode("append").start()
    stream.addData(Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:10:00"), "a", 2.0))
    q.processAllAvailable()
    // 5 minutes BEFORE the open session's start — inside the watermark
    // (which sits at 00:00:00 after batch 1) but more than the gap away:
    // must become its own session, not merge into [00:10:00, …] — batch
    // packing must not change the sessions. Emission waits for the
    // watermark to seal each interval (sentinels advance it).
    stream.addData(Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:05:00"), "a", 1.0))
    q.processAllAvailable()
    stream.addData(Events.Ev(9L, Timestamp.valueOf("2024-01-01 01:00:00"), "x", 0.0))
    q.processAllAvailable()
    stream.addData(Events.Ev(9L, Timestamp.valueOf("2024-01-01 02:00:00"), "x", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT * FROM sess_late WHERE user_id = 1 ORDER BY session_start").collect()
    assert(rows.length == 2, rows.mkString(","))
    assert(rows(0).getAs[Timestamp]("session_start") == Timestamp.valueOf("2024-01-01 00:05:00"))
    assert(rows(0).getAs[Timestamp]("session_end") == Timestamp.valueOf("2024-01-01 00:05:00"))
    assert(rows(0).getAs[Long]("n_events") == 1L)
    assert(rows(1).getAs[Timestamp]("session_start") == Timestamp.valueOf("2024-01-01 00:10:00"))
    assert(rows(1).getAs[Long]("n_events") == 1L)
  }

  test("sessionizeEventTime: late events in DIFFERENT batches still merge into one session") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Events.Ev]
    val q = Events.sessionizeEventTime(stream.toDS(), gapMs = 60000, wmDelay = "10 minutes")
      .writeStream.format("memory").queryName("sess_rejoin").outputMode("append").start()
    stream.addData(Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:10:00"), "a", 2.0))
    q.processAllAvailable()
    stream.addData(Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:05:00"), "a", 1.0))
    q.processAllAvailable()
    // arrives one batch later but within the gap of the 00:05:00 event:
    // must MERGE into that session — emitting sessions before the
    // watermark seals them would make this pair un-joinable
    stream.addData(Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:05:30"), "a", 4.0))
    q.processAllAvailable()
    stream.addData(Events.Ev(9L, Timestamp.valueOf("2024-01-01 01:00:00"), "x", 0.0))
    q.processAllAvailable()
    stream.addData(Events.Ev(9L, Timestamp.valueOf("2024-01-01 02:00:00"), "x", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT * FROM sess_rejoin WHERE user_id = 1 ORDER BY session_start").collect()
    assert(rows.length == 2, rows.mkString(","))
    assert(rows(0).getAs[Timestamp]("session_start") == Timestamp.valueOf("2024-01-01 00:05:00"))
    assert(rows(0).getAs[Timestamp]("session_end") == Timestamp.valueOf("2024-01-01 00:05:30"))
    assert(rows(0).getAs[Long]("n_events") == 2L)
    assert(rows(0).getAs[Double]("total_value") == 5.0)
    assert(rows(1).getAs[Long]("n_events") == 1L) // the 00:10 session
  }

  test("sessionizeBatch agrees with streaming sessionizeEventTime on closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // user 1: two sessions separated by a 5-minute gap (gapMs = 60s)
    val evs = Seq(
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a", 1.0),
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:00:30"), "a", 2.0),
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:05:30"), "a", 4.0))
    val stream = MemoryStream[Events.Ev]
    val q = Events.sessionizeEventTime(stream.toDS(), gapMs = 60000, wmDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_agree").outputMode("append").start()
    stream.addData(evs: _*)
    q.processAllAvailable()
    // sentinel events push the watermark so user 1's open session closes
    stream.addData(Events.Ev(9L, Timestamp.valueOf("2024-01-01 12:00:00"), "x", 0.0))
    q.processAllAvailable()
    stream.addData(Events.Ev(9L, Timestamp.valueOf("2024-01-02 00:00:00"), "x", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT session_start, session_end, n_events, total_value FROM sess_agree WHERE user_id = 1")
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Events.sessionizeBatch(
      evs.toDF().withColumn("event_id", col("value")), gapMs = 60000)
      .filter($"user_id" === 1L)
      .select($"session_start", $"session_end", $"n_events", $"total_value")
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(batch.size == 2)
  }

  test("sessionizeBatch validates the tie-break column up front; strict mode enforces uniqueness") {
    import spark.implicits._
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, "e1"),
      (1L, Timestamp.valueOf("2024-01-01 00:00:30"), 2.0, "e2"))
      .toDF("user_id", "ts", "value", "event_id")
    // missing tie-break column: clear eager error, not a late unresolved-column failure
    val err = intercept[IllegalArgumentException] {
      Events.sessionizeBatch(df, gapMs = 60000, tieBreak = "no_such_col")
    }
    assert(err.getMessage.contains("no_such_col") && err.getMessage.contains("tieBreak"))
    // strict passes on unique (user_id, ts, tieBreak)
    assert(Events.sessionizeBatch(df, gapMs = 60000, strict = true).count() == 1L)
    // strict raises on a duplicate tie-break row
    val dup = df.union(Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 9.0, "e1"))
      .toDF("user_id", "ts", "value", "event_id"))
    val ex = intercept[Exception] {
      Events.sessionizeBatch(dup, gapMs = 60000, strict = true).count()
    }
    assert(msgs(ex).exists(_.contains("duplicate (user_id, ts, event_id)")), msgs(ex).mkString("; "))
  }

  test("intervalJoinStreams: watermarked stream-stream join matches only in-window same-key pairs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ls = MemoryStream[Events.Ev]
    val rs = MemoryStream[Events.Ev]
    val joined = Events.intervalJoinStreams(
      ls.toDF(), rs.toDF(), key = "user_id",
      wmDelay = "0 seconds", before = "1 minutes", after = "1 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj").outputMode("append").start()
    ls.addData(Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0))
    rs.addData(
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:10:30"), "imp", 2.0),  // in window
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:20:00"), "imp", 3.0),  // outside window
      Events.Ev(2L, Timestamp.valueOf("2024-01-01 00:10:15"), "imp", 4.0))  // other key
    q.processAllAvailable()
    // advance both watermarks so buffered state flushes
    ls.addData(Events.Ev(9L, Timestamp.valueOf("2024-01-01 06:00:00"), "x", 0.0))
    rs.addData(Events.Ev(9L, Timestamp.valueOf("2024-01-01 07:00:00"), "x", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT user_id, event_type, r_event_type, r_value FROM ssj WHERE value = 1.0")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
    assert(rows.toSeq == Seq((1L, "click", "imp", 2.0)), rows.mkString(", "))
  }

  test("intervalJoinStreams left_outer: unmatched clicks emit with nulls after the watermark closes them") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ls = MemoryStream[Events.Ev]
    val rs = MemoryStream[Events.Ev]
    val joined = Events.intervalJoinStreams(
      ls.toDF(), rs.toDF(), key = "user_id",
      wmDelay = "0 seconds", before = "1 minutes", after = "1 minutes",
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_lo").outputMode("append").start()
    ls.addData(
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),  // will match
      Events.Ev(2L, Timestamp.valueOf("2024-01-01 00:10:00"), "click", 2.0))  // never matches
    rs.addData(Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:10:30"), "imp", 3.0))
    q.processAllAvailable()
    // advance both watermarks far past the join window so the unmatched
    // left row is provably unmatchable and gets emitted with nulls
    ls.addData(Events.Ev(9L, Timestamp.valueOf("2024-01-01 06:00:00"), "x", 0.0))
    rs.addData(Events.Ev(9L, Timestamp.valueOf("2024-01-01 07:00:00"), "x", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT user_id, r_event_type FROM ssj_lo WHERE event_type = 'click'")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(rows == Set((1L, Some("imp")), (2L, None)), rows.toString)
  }

  test("upsertSink: foreachBatch latest-wins upsert is idempotent under batch replay") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toFile
    val target = new java.io.File(dir, "target").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    val stream = MemoryStream[Events.Ev]
    val q = Events.upsertSink(stream.toDF(), target, ckpt,
      keys = Seq("user_id"), order = Seq("ts"))
    stream.addData(
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a", 1.0),
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:05:00"), "b", 2.0), // later: wins in-batch
      Events.Ev(2L, Timestamp.valueOf("2024-01-01 00:01:00"), "c", 3.0))
    q.processAllAvailable()
    def state(): Map[Long, (String, Double)] =
      Events.readUpsertTarget(spark, target).collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[String]("event_type"), r.getAs[Double]("value")))).toMap
    assert(state() == Map(1L -> (("b", 2.0)), 2L -> (("c", 3.0))))
    stream.addData(
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:03:00"), "stale", 9.0), // older: must NOT win
      Events.Ev(2L, Timestamp.valueOf("2024-01-01 00:09:00"), "d", 4.0))
    q.processAllAvailable()
    q.stop()
    val after = state()
    assert(after == Map(1L -> (("b", 2.0)), 2L -> (("d", 4.0))), after.toString)
    // replay batch 0 verbatim — the batchId guard must make it a no-op
    Events.applyUpsertBatch(
      Seq(Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a", 1.0)).toDF(),
      batchId = 0L, target, Seq("user_id"), Seq("ts"))
    assert(state() == after)
  }

  test("upsertSink: a later batch reads the snapshot with the schema the sink wrote, so no inference job runs") {
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft_upsert_schema")
      .resolve("target").toString
    def applyBatch(id: Long, evs: Events.Ev*): Unit =
      Events.applyUpsertBatch(evs.toDF(), id, target, Seq("user_id"), Seq("ts"))
    applyBatch(0L, Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a", 1.0))
    val (_, jobs) = PlanAudit.jobsOf(spark)(applyBatch(1L,
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:05:00"), "b", 2.0),
      Events.Ev(2L, Timestamp.valueOf("2024-01-01 00:01:00"), "c", 3.0)))
    assert(jobs.nonEmpty, "the merge write ran no job")
    // every merge job runs inside the write's SQL execution; a parquet
    // footer-inference job runs outside any
    val outside = jobs.filter(_.getProperty("spark.sql.execution.id") == null)
    assert(outside.isEmpty, s"${outside.size} job(s) ran outside the merge write")
    val (snapshot, readJobs) = PlanAudit.jobsOf(spark)(Events.readUpsertTarget(spark, target))
    assert(readJobs.isEmpty, s"reading the snapshot ran ${readJobs.size} job(s)")
    val state = snapshot.collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[String]("event_type")).toMap
    assert(state == Map(1L -> "b", 2L -> "c"), state.toString)
  }

  test("streaming incremental dedup: a stream filters map-side against a broadcast Bloom of prior content") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    graft.plans.GraftExtensions.install(spark)
    // prior corpus folded into one small binary, shipped as a literal —
    // the streaming twin of the batch broadcast-bloom dedup (stateless,
    // no stream-side shuffle, no join state)
    val bytes = Seq("seen_a", "seen_b", "seen_c").toDF("t")
      .agg(graft.functions.BloomFilter.bloom_agg(col("t"), 1 << 12, 5))
      .head().getAs[Array[Byte]](0)
    val stream = MemoryStream[Events.Ev]
    val fresh = stream.toDF().filter(
      !graft.functions.BloomFilter.bloom_might_contain(lit(bytes), col("event_type")))
    val q = fresh.writeStream.format("memory").queryName("bloom_fresh").start()
    stream.addData(
      Events.Ev(1L, Timestamp.valueOf("2024-01-01 00:00:00"), "seen_a", 1.0),
      Events.Ev(2L, Timestamp.valueOf("2024-01-01 00:00:01"), "new_x", 2.0),
      Events.Ev(3L, Timestamp.valueOf("2024-01-01 00:00:02"), "seen_c", 3.0),
      Events.Ev(4L, Timestamp.valueOf("2024-01-01 00:00:03"), "new_y", 4.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT event_type FROM bloom_fresh")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("new_x", "new_y"), got.toString)
  }
}
