package graft.streaming

import java.sql.Timestamp

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DataType, StructType}

/** Structured-Streaming surface (SURVEY.md §2.9).
  *
  * The reference's streaming architecture is timer-triggered micro-batches
  * into Event Hubs with ASA doing "simple filter/transform" downstream
  * (README.md:66-83); it has no watermarks or stateful operators (T5).
  * Re-expressed Spark-first:
  *  - T2 → `tumblingCounts`: watermarked event-time tumbling window —
  *    the one streaming aggregation the driver's `events` fixture needs;
  *  - T4 has two halves, implemented separately: `dedupDeliveries`
  *    (at-least-once delivery dedup — drop re-deliveries of the same
  *    event) and `latestPerUser` (true latest-wins state per user via
  *    mapGroupsWithState, robust to out-of-order arrival);
  *  - beyond-reference: `sessionizeEventTime` shows the custom-state path
  *    (flatMapGroupsWithState) a 100 TB pipeline uses for sessionization.
  *
  * All transforms take a (possibly streaming) DataFrame, so batch tests
  * and `readStream` callers share the same code path.
  */
object Events {

  /** T2 — file-source streaming reader for the events table shape: the
    * bronze landing directory becomes a stream (new files = new
    * micro-batches, the Spark analog of the reference's Blob raw dump,
    * README.md:80-83). Same ns→µs timestamp handling as the batch reader
    * (`Tables.events`); explicit schema (ts as long nanos) because
    * streaming sources cannot infer. */
  def readEventStream(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      sourceOptions: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    useStreamPosture(spark)
    // A file stream needs an explicit schema; take it from the files
    // already in the directory (one footer read) instead of hard-coding a
    // layout — the fixture's ts column has shipped both as TIMESTAMP(NANOS)
    // (→ long of nanos under the legacy flag) and TIMESTAMP(µs) (→ NTZ),
    // and declaring the wrong one silently mis-decodes rows. Same dispatch
    // as `Tables.events`; both vintages land on µs TimestampType.
    // Footer dispatch only works once files exist; the normal
    // stream-starts-before-producer case (missing or empty landing dir)
    // must still start an idle stream, so fall back to the known current
    // fixture layout (ts as TIMESTAMP(NANOS) → long nanos under the legacy
    // flag). A dir that holds data files but cannot be read is an error.
    val fileSchema =
      try spark.read.parquet(dir).schema
      catch {
        case NonFatal(_) if !holdsDataFile(spark, dir) =>
          StructType(Seq(
            StructField("event_id", LongType),
            StructField("ts", LongType), // TIMESTAMP(NANOS) vintage
            StructField("user_id", LongType),
            StructField("event_type", StringType),
            StructField("value", DoubleType),
            StructField("props", StringType)))
        case NonFatal(e) => throw new IllegalArgumentException(
          s"readEventStream: cannot read the parquet schema of $dir: ${e.getMessage}", e)
      }
    // sourceOptions: file-source knobs (e.g. maxFilesPerTrigger=1 to
    // replay a landing dir one file per micro-batch — StreamBench's
    // throughput/state-size methodology)
    val stream = spark.readStream.schema(fileSchema)
      .options(sourceOptions).parquet(dir)
    fileSchema("ts").dataType match {
      case LongType =>
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        stream.withColumn("ts", col("ts").cast(TimestampType))
      case _ => stream
    }
  }

  /** T2 (cluster path) — ENVIRONMENT-DEFERRED: the reference's hub is
    * Event Hubs (README.md:66-69), whose Spark-native surface is the
    * Kafka source (Event Hubs speaks the Kafka protocol). This is the
    * exact call shape a cluster user runs; it compiles against plain
    * Spark but needs the `spark-sql-kafka-0-10` package on the classpath
    * at runtime, which this offline container cannot resolve (no jar in
    * /opt/spark/jars, coursier offline) — so it is pinned by a spec that
    * asserts the failure is connector-lookup, not plan construction.
    * Value payloads are the reference's JSON event records (K1 shape);
    * downstream transforms are shared with the file-source reader. */
  def readKafkaStream(
      spark: org.apache.spark.sql.SparkSession,
      brokers: String,
      topic: String,
      valueSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    useStreamPosture(spark)
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .load()
      .select(from_json(col("value").cast("string"), valueSchema).as("e"))
      .select(col("e.*"))
  }

  /** Session confs every query built on a graft source runs with, each
    * set only when the caller has not set it explicitly (a caller's value,
    * from the session builder, `--conf` or `spark.conf.set`, always wins):
    *  - the checkpoint file manager is [[GraftCheckpointFileManager]], so
    *    checkpoint files on local paths are written without starting a
    *    process;
    *  - per-session artifact isolation is off. `writeStream.start()`
    *    clones the session, and with isolation on each clone sends its
    *    own artifact state with its jobs, for which an executor keeps a
    *    class loader of its own. Generated classes are cached per class
    *    loader, so every query start compiled its whole plan again and
    *    ran it cold in the JIT. With isolation off, every query's tasks
    *    share the default class loader and its compiled classes. A caller
    *    that adds per-session artifacts (Spark Connect, `addArtifact`)
    *    sets `spark.sql.artifact.isolation.enabled=true`, which is kept.
    * Both are read when a query starts, so a source sets them while the
    * query is still being built. */
  private val StreamPosture = Seq(
    GraftCheckpointFileManager.ConfKey -> classOf[GraftCheckpointFileManager].getName,
    "spark.sql.artifact.isolation.enabled" -> "false")

  private def useStreamPosture(spark: org.apache.spark.sql.SparkSession): Unit = {
    // `getAll` holds only the explicitly set confs; `getOption` would not
    // tell, since the isolation conf has a default (and `contains` is
    // private to Spark)
    val set = spark.conf.getAll
    StreamPosture.foreach { case (key, value) =>
      if (!set.contains(key)) spark.conf.set(key, value)
    }
  }

  /** Whether `dir` exists and holds a file a parquet scan would read:
    * one whose path below `dir` has no component starting with `_` or
    * `.` (Spark's rule for metadata and hidden files). */
  private def holdsDataFile(spark: org.apache.spark.sql.SparkSession, dir: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val top = fs.makeQualified(root)
    def visible(p: org.apache.hadoop.fs.Path): Boolean =
      p == null || p == top ||
        (!p.getName.startsWith("_") && !p.getName.startsWith(".") && visible(p.getParent))
    fs.exists(root) && {
      val files = fs.listFiles(root, true)
      var found = false
      while (!found && files.hasNext) found = visible(files.next().getPath)
      found
    }
  }

  /** T5 — tumbling event-time window + watermark: counts and value sums
    * per (window, event_type). Late rows beyond 10 minutes are dropped. */
  def tumblingCounts(events: DataFrame, window_ : String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Built-in session windows: per-user gap sessions through Spark's
    * native `session_window` aggregate — counts/sums per (user, session).
    * The engine primitive behind [[sessionizeEventTime]]'s custom state
    * machine: use THIS when plain per-session aggregates suffice (the
    * state store merges windows for free, no flatMapGroupsWithState
    * code to maintain), and the custom sessionizer only when sessions
    * need bespoke payloads/emission. Boundary semantics: an event at
    * exactly start+gap opens a NEW session (q76 pins this against the
    * explicit gap algebra). Streaming requires the watermark (late rows
    * beyond it are dropped and sessions finalize); in batch the same
    * plan aggregates directly. */
  def sessionWindowCounts(events: DataFrame, gap: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(
        col("user_id"),
        col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** T4a — at-least-once delivery dedup: a re-delivered (user_id,
    * event_id) is dropped; every distinct event passes through once.
    *
    * Uses `dropDuplicatesWithinWatermark`, NOT plain `dropDuplicates`:
    * with dedup keys that exclude the event-time column, plain
    * `dropDuplicates` keeps one state row per distinct key FOREVER —
    * state grows with all-time event cardinality, which at the pipeline's
    * scale target is an executor-memory time bomb. The WithinWatermark
    * form evicts a key's state once the watermark passes its first
    * sighting, bounding state by the delay window. The contract narrows
    * accordingly — duplicates are guaranteed dropped only when they
    * arrive within the watermark delay of the original — which is
    * exactly the at-least-once redelivery window a queue provides. */
  def dedupDeliveries(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_id"))

  /** T4b — true latest-wins: one row per user carrying the event-time-
    * latest event seen so far, re-emitted whenever it changes
    * (OutputMode.Update). Out-of-order or duplicate deliveries with an
    * older ts never overwrite newer state — the idempotent upsert
    * semantics the reference's "latest wins" ingestion relies on
    * (streaming analog of Core.dedupLatest). The maxBy key includes every
    * Ev field so ties resolve deterministically across retries, never by
    * iterator order.
    *
    * STATE CONTRACT: NoTimeout keeps one Ev per user forever — state
    * grows with all-time user cardinality. That is the correct trade for
    * a latest-value store (dropping a user's state silently forgets their
    * latest event); when the downstream can tolerate expiry of inactive
    * users, use `latestPerUserExpiring`. */
  def latestPerUser(events: Dataset[Ev]): Dataset[Ev] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[Ev, Ev](GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[Ev], state: GroupState[Ev]) =>
          val newest = (state.getOption.iterator ++ rows)
            .maxBy(e => (e.ts.getTime, e.value, e.event_type))
          state.update(newest)
          newest
      }
  }

  /** T4b with a state TTL: identical latest-wins semantics while a user
    * stays active; a user silent for `ttlMs` of processing time has their
    * state dropped (the next event restarts from scratch). Bounds state
    * by ACTIVE-user cardinality — the 100 TB deployment choice when the
    * gold table downstream already persists the last emitted value. */
  def latestPerUserExpiring(events: Dataset[Ev], ttlMs: Long = 3600000L): Dataset[Ev] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Ev, Ev](
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (_: Long, rows: Iterator[Ev], state: GroupState[Ev]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val newest = (state.getOption.iterator ++ rows)
              .maxBy(e => (e.ts.getTime, e.value, e.event_type))
            state.update(newest)
            state.setTimeoutDuration(ttlMs)
            Iterator.single(newest)
          }
      }
  }

  case class Ev(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  case class EvSession(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double)
  /** Session interval for `sessionizeEventTime` state (millis, not
    * Timestamp, to keep the state encoder primitive-flat). */
  case class SessState(startMs: Long, endMs: Long, n: Long, total: Double)
  /** `sessionizeEventTime` keeps EVERY interval the watermark has not
    * yet sealed (end+gap > watermark) — gap-closed ones included, since a
    * late row inside the watermark may still merge into them. Size is
    * bounded by the watermark delay: at most ceil(delay/gap)+1 intervals
    * per active user. */
  case class SessList(sessions: Seq[SessState])

  /** The state encoder of [[sessionizeEventTime]], built and resolved
    * once. An encoder of a `Seq` field names the loop variables of its
    * generated code with ids drawn when the encoder is built and again
    * each time it is resolved, and the state manager of every batch
    * resolves its state encoder. Built per query, every batch compiled the
    * state projections again; resolved here, the state manager's own
    * resolve finds nothing left to do and every batch's projections have
    * the same source text. */
  private val sessListEncoder: org.apache.spark.sql.Encoder[SessList] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[SessList]().resolveAndBind()

  /** Event-time sessionization: sessions close when the EVENT-TIME gap
    * between a user's consecutive events exceeds `gapMs`, with closure
    * driven by the watermark (EventTimeTimeout) — so a replay of the same
    * input produces the same sessions regardless of arrival pacing, which
    * a processing-time timeout cannot promise. Out-of-order rows
    * within the watermark merge into the right session (spans extend
    * backward); gap-separated rows split into distinct intervals; and a
    * session is EMITTED only once the watermark passes its end+gap — the
    * point after which no non-late row can still merge into it. Batch
    * packing therefore never changes the emitted sessions: for rows
    * inside the watermark, output equals `sessionizeBatch` on the same
    * input.
    *
    * `events` must carry an `Ev`-shaped schema; the watermark is applied
    * here (`wmDelay`) since EventTimeTimeout requires one. */
  def sessionizeEventTime(
      events: Dataset[Ev],
      gapMs: Long = 60000,
      wmDelay: String = "10 minutes"): Dataset[EvSession] = {
    import events.sparkSession.implicits._
    implicit val stateEncoder: org.apache.spark.sql.Encoder[SessList] = sessListEncoder
    events
      .withWatermark("ts", wmDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessList, EvSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[SessList]) =>
          def emit(s: SessState) = EvSession(
            userId, new Timestamp(s.startMs), new Timestamp(s.endMs), s.n, s.total)
          val wm = state.getCurrentWatermarkMs()
          // fold the kept state intervals and the batch as INTERVALS
          // sorted by start — the same session algebra as sessionizeBatch
          // however the events are packed into batches (a late event
          // preceding an interval by more than the gap starts its own
          // session; one within the gap merges, extending the span
          // backward). Intervals stay in STATE — even gap-closed ones —
          // until the watermark passes end+gap, because only then can no
          // non-late row still merge into them; emitting earlier would
          // split one true session across batches.
          val items = (state.getOption.map(_.sessions).getOrElse(Seq.empty) ++
            rows.map(e => SessState(e.ts.getTime, e.ts.getTime, 1L, e.value)))
            .sortBy(s => (s.startMs, s.endMs))
          val merged = scala.collection.mutable.ArrayBuffer.empty[SessState]
          items.foreach { s =>
            if (merged.nonEmpty && s.startMs <= merged.last.endMs + gapMs) {
              val p = merged.last
              merged(merged.size - 1) = SessState(
                p.startMs, math.max(p.endMs, s.endMs), p.n + s.n, p.total + s.total)
            } else merged += s
          }
          // final: nothing beyond the watermark can extend these
          val (done, kept) = merged.partition(_.endMs + gapMs <= wm)
          if (kept.isEmpty) state.remove()
          else {
            state.update(SessList(kept.toSeq))
            // earliest close deadline; must sit above the watermark or
            // Spark rejects the timestamp
            state.setTimeoutTimestamp(
              math.max(kept.map(_.endMs + gapMs).min, wm + 1))
          }
          done.iterator.map(emit)
      }
  }

  /** Batch twin of `sessionizeEventTime`: the same event-time-gap session
    * semantics as a declarative window query (lag → gap flag → running
    * sum = session id → per-session aggregate) — the form a backfill or
    * replay job runs over landed bronze, DuckDB-mirrorable so the
    * sessionization SEMANTICS sit under the oracle (q43), not only under
    * MemoryStream specs. One shuffle on user_id; the two window passes
    * and the aggregate share it.
    *
    * Contract: `tieBreak` must make (user_id, ts, tieBreak) unique for
    * deterministic session ids (a non-unique tie-break leaves the row
    * order — and so the lag/gap flags — up to the shuffle). The column
    * set is validated up front with a clear error; pass `strict = true`
    * to also enforce uniqueness at runtime — a duplicate-counting window
    * over (user_id, ts, tieBreak) that shares the existing user_id
    * shuffle AND its (ts, tieBreak) sort, so the check adds no exchange,
    * and raises on the first duplicate. */
  def sessionizeBatch(
      events: DataFrame, gapMs: Long = 60000, tieBreak: String = "event_id",
      strict: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cols = events.columns.toSet
    Seq("user_id", "ts", "value", tieBreak).foreach { c =>
      require(cols.contains(c),
        s"sessionizeBatch: required column '$c' not in input " +
          s"[${events.columns.mkString(", ")}]" +
          (if (c == tieBreak)
             " — pass tieBreak= a column that makes (user_id, ts, tieBreak) unique"
           else ""))
    }
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col(tieBreak))
    // Woven into __new (which session_id consumes) so column pruning
    // cannot drop the check.
    val guard: Column => Column =
      if (strict) {
        val dups = count(lit(1))
          .over(Window.partitionBy(col("user_id"), col("ts"), col(tieBreak)))
        c => when(dups > 1L, raise_error(concat(
          lit(s"sessionizeBatch strict: duplicate (user_id, ts, $tieBreak) at user_id="),
          col("user_id").cast("string"), lit(" ts="), col("ts").cast("string"))))
          .otherwise(c)
      } else identity
    events
      .withColumn("__pts", lag(col("ts"), 1).over(w))
      .withColumn("__new", guard(when(col("__pts").isNull ||
        unix_micros(col("ts")) - unix_micros(col("__pts")) > gapMs * 1000L, 1L)
        .otherwise(0L)))
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
  }

  /** Watermarked stream-stream interval join: pair each left event with
    * the right-stream events for the same key whose event time falls in
    * `[left.ts - before, left.ts + after]`. BOTH sides carry watermarks
    * and the join condition bounds event time in BOTH directions — the
    * two things Spark needs to expire buffered join state instead of
    * holding both streams forever (state per side is bounded by
    * wmDelay + the interval width). Right-side columns come back prefixed
    * `r_` so the output is unambiguous. Late events beyond the watermark
    * are dropped — the at-scale contract. `joinType` "inner" (default)
    * emits matches only; "left_outer" additionally emits each unmatched
    * left event with null right columns once the watermark proves no
    * match can still arrive (the funnel/abandonment shape: clicks that
    * never converted). */
  def intervalJoinStreams(
      left: DataFrame, right: DataFrame, key: String = "user_id",
      wmDelay: String = "10 minutes",
      before: String = "5 minutes", after: String = "5 minutes",
      joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer", "leftouter").contains(joinType.toLowerCase),
      s"intervalJoinStreams supports inner/left_outer, got $joinType")
    Seq(key, "ts").foreach { c =>
      require(left.columns.contains(c) && right.columns.contains(c),
        s"intervalJoinStreams: both sides need a '$c' column")
    }
    // the rename reserves the r_ namespace; a left column already named
    // r_<rightCol> (e.g. chaining two interval joins) would make the join
    // condition ambiguous or the key drop remove both copies
    val clash = left.columns.toSet.intersect(right.columns.map("r_" + _).toSet)
    require(clash.isEmpty,
      s"intervalJoinStreams: left side already has reserved column(s) ${clash.mkString(", ")} — rename before joining")
    val l = left.withWatermark("ts", wmDelay)
    val r = right.toDF(right.columns.map("r_" + _).toIndexedSeq: _*)
      .withWatermark("r_ts", wmDelay)
    l.join(r,
      col(key) === col(s"r_$key") &&
        col("r_ts") >= col("ts") - expr(s"INTERVAL $before") &&
        col("r_ts") <= col("ts") + expr(s"INTERVAL $after"),
      joinType)
      .drop(s"r_$key")
  }

  /** K2+ as an executable sink: foreachBatch + latest-wins upsert
    * (`Core.upsert`) into a parquet target, made idempotent against batch
    * replays by recording the last applied batchId beside the data — a
    * restarted query that re-delivers a batch is a no-op, upgrading
    * foreachBatch's at-least-once to effectively-once. On a Delta
    * deployment this whole body collapses to MERGE (Bronze.deltaMerge
    * call shape, environment-deferred); this is the connector-free form
    * the container can execute and test end-to-end. The target
    * read-merge-rewrite is the small-state pattern (a latest-value store
    * keyed like the reference's gold records) — NOT for targets that grow
    * unboundedly, where MERGE-on-Delta or a compacting KV store takes
    * over. */
  def upsertSink(
      stream: DataFrame, targetDir: String, checkpointDir: String,
      keys: Seq[String], order: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyUpsertBatch(batch, batchId, targetDir, keys, order)
      }
      .start()

  /** Resolve the upsert target's current state: the last applied batchId
    * and, once a batch has been applied, its data dir and the schema the
    * sink wrote there. The `_current` pointer file
    * ("<batchId> <dirName> <schema JSON>") is the single source of truth;
    * its update is an atomic same-directory rename, so a crash at ANY
    * point leaves either the old pointer (old data intact + batchId
    * unadvanced → the replayed batch re-applies cleanly) or the new
    * pointer (new data complete) — never a half state. */
  private[graft] def currentUpsertState(
      targetDir: String): (Long, Option[(java.io.File, StructType)]) = {
    val ptr = new java.io.File(targetDir, "_current")
    if (!ptr.exists) (-1L, None)
    else {
      val src = scala.io.Source.fromFile(ptr)
      val parts = try src.mkString.trim.split(" ", 3) finally src.close()
      require(parts.length == 3, s"$ptr names no schema: rewrite the target")
      (parts(0).toLong, Some((new java.io.File(targetDir, parts(1)),
        DataType.fromJson(parts(2)).asInstanceOf[StructType])))
    }
  }

  /** Read the upsert target's current contents (for consumers/tests). The
    * recorded schema goes to the reader, so no footer-inference job runs. */
  def readUpsertTarget(spark: org.apache.spark.sql.SparkSession, targetDir: String): DataFrame =
    currentUpsertState(targetDir) match {
      case (_, Some((d, schema))) => spark.read.schema(schema).parquet(d.getPath)
      case _ => throw new IllegalStateException(s"no upsert state at $targetDir")
    }

  /** One foreachBatch application, exposed for direct replay testing. */
  private[graft] def applyUpsertBatch(
      batch: DataFrame, batchId: Long, targetDir: String,
      keys: Seq[String], order: Seq[String]): Unit = {
    val dir = new java.io.File(targetDir)
    dir.mkdirs()
    val (last, cur) = currentUpsertState(targetDir)
    if (batchId <= last) return // replayed batch: already applied
    val spark = batch.sparkSession
    val orderCols = order.map(col)
    val merged = cur match {
      case Some((d, schema)) =>
        graft.ops.Core.upsert(spark.read.schema(schema).parquet(d.getPath), batch, keys, orderCols)
      case None => graft.ops.Core.dedupLatest(batch, keys, orderCols)
    }
    // write the new state beside the old, then flip the pointer atomically
    // (same-filesystem rename); only then drop the old dir. A crash before
    // the flip leaves the old pointer+data; after it, the new.
    val next = new java.io.File(dir, s"data_batch_$batchId")
    merged.write.mode("overwrite").parquet(next.getPath)
    val ptrTmp = new java.io.File(dir, "_current.tmp")
    val w = new java.io.PrintWriter(ptrTmp)
    try w.print(s"$batchId ${next.getName} ${merged.schema.json}") finally w.close()
    // ATOMIC_MOVE replaces in one step — a delete-then-rename pair would
    // open a crash window with NO pointer at all (state silently reset)
    java.nio.file.Files.move(
      ptrTmp.toPath, new java.io.File(dir, "_current").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    cur.map(_._1).filter(_.exists).foreach(rm)
  }
}
