package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.streaming.Events

/** One benchmark run in one JVM, driven as a closed loop from one thread:
  * one query execution or one micro-batch pipeline is in flight at a time.
  *
  * The harness only times its own calls into the engine and, when tracing,
  * reads Spark's public listener, progress and metrics APIs. Everything it
  * sees is kept in memory as raw records and written as JSON lines at exit;
  * `run.py` turns them into metrics and spans.
  *
  * Arguments are `key=value` pairs: mode (catalog|stream), data, landing,
  * warm_landing, work, out, cores, seconds, trace (0|1), warmup_passes,
  * min_passes and ops (the comma-separated query or pipeline names in the
  * order to run).
  */
object Harness {
  private[perfbench] val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Raw records, kept in memory until the run ends. */
  final class Records {
    private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def add(kind: String, fields: (String, Any)*): Unit =
      lines.add(mapper.writeValueAsString(
        mutable.LinkedHashMap[String, Any]("k" -> kind) ++ fields))
    def write(path: String): Unit =
      Files.write(new File(path).toPath, lines.asScala.toSeq.asJava,
        StandardCharsets.UTF_8)
  }

  // One clock for the harness's spans and Spark's event times: epoch
  // microseconds, anchored once and advanced by the monotonic clock.
  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  private def jvmGcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** JVM-wide counters read at pass boundaries, after the pass's timing
    * window has closed. */
  private def counters(): Map[String, Long] = Map(
    "gc_ms" -> jvmGcMs(),
    "compile_ns" -> CodeGenerator.compileTime,
    "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  private def errText(t: Throwable): String =
    Option(t.getMessage).getOrElse(t.getClass.getName).take(300)

  /** Order-insensitive result fingerprint: row count, XOR of row hashes
    * and the sum of row hashes reduced mod 2^31 - 1 (the sum catches
    * duplicated rows, which cancel out of the XOR). Computed by
    * `observe`, so the action and the plan under it stay as they are. */
  private def fingerprint(df: DataFrame): (Column, Seq[Column]) = {
    val h = xxhash64(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*)
    (count(lit(1)).as("rows"),
      Seq(bit_xor(h).as("xor"), sum(pmod(h, lit(2147483647L))).as("hsum")))
  }
  /** Columns renamed by position, so duplicate output names hash too. */
  private def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"_pb$i"): _*)
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val p = positional(df); val (c, cs) = fingerprint(p); p.observe(obs, c, cs: _*)
  }
  def observed(df: DataFrame, name: String): DataFrame = {
    val p = positional(df); val (c, cs) = fingerprint(p); p.observe(name, c, cs: _*)
  }
  def fingerprintOf(m: String => Any): Map[String, Long] =
    Seq("rows", "xor", "hsum").map(k => k -> asLong(m(k))).toMap

  private def asLong(v: Any): Long = v match {
    case null => 0L
    case n: Number => n.longValue
    case other => other.toString.toLong
  }

  /** Listener state for a traced run. Spark delivers these events on its
    * listener thread; the harness reads them only after `drain`. */
  final class Tap(rec: Records) extends SparkListener {
    @volatile var lastEventUs: Long = nowUs()
    @volatile var open: Int = 0
    private final class StageAcc {
      var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
      var inBytes = 0L; var inRows = 0L; var shWrite = 0L; var shRead = 0L
      var fetchWaitMs = 0L; var spill = 0L; var launchSumMs = 0L
    }
    private val stages = mutable.HashMap.empty[(Int, Int), StageAcc]
    private def touch(): Unit = lastEventUs = nowUs()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      open += 1
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).orNull
      rec.add("job", "id" -> e.jobId, "t0" -> e.time * 1000L,
        "stages" -> e.stageIds, "trace" -> prop("perfbench.trace"),
        "phase" -> prop("perfbench.phase"),
        "stream_batch" -> prop("streaming.sql.batchId"),
        "sql_exec" -> prop("spark.sql.execution.id"))
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      open -= 1
      rec.add("job_end", "id" -> e.jobId, "t1" -> e.time * 1000L)
      touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      a.tasks += 1
      a.launchSumMs += e.taskInfo.launchTime
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = stages.remove((i.stageId, i.attemptNumber())).getOrElse(new StageAcc)
      val submit = i.submissionTime.getOrElse(0L)
      rec.add("stage", "id" -> i.stageId, "attempt" -> i.attemptNumber(),
        "t0" -> submit * 1000L, "t1" -> i.completionTime.getOrElse(submit) * 1000L,
        "num_tasks" -> i.numTasks, "tasks" -> a.tasks,
        "task_delay_ms" -> (a.launchSumMs - a.tasks * submit),
        "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
        "in_bytes" -> a.inBytes, "in_rows" -> a.inRows,
        "shuffle_write" -> a.shWrite, "shuffle_read" -> a.shRead,
        "fetch_wait_ms" -> a.fetchWaitMs, "spill" -> a.spill)
      touch()
    }

    /** Wait until the listener thread has delivered what the driver
      * thread caused: no job left open and no event for 300 ms (at most
      * 10 s). */
    def drain(): Unit = {
      val deadline = nowUs() + 10000000L
      while (nowUs() < deadline && (open > 0 || nowUs() - lastEventUs < 300000L))
        Thread.sleep(20)
    }
  }

  /** Catalyst phase durations of every SQL execution, keyed by its id. */
  final class PlanTap(rec: Records) extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      rec.add("plan", "sql_exec" -> qe.id, "func" -> funcName,
        "phases" -> qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def parseArgs(args: Array[String]): Map[String, String] =
    args.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"arguments are key=value, got '$kv'")
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap

  /** A session with Bench's posture: the codegen class cache holds the
    * whole catalog, shuffle partitions equal cores, and the tables are
    * read as the single-file layout they are written in. */
  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // Result fingerprints hash every output column, map columns too.
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("graft.bench.singleFileFixture", "true")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val mode = a("mode")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val minPasses = a("min_passes").toInt
    val ops = a("ops").split(",").toSeq.filter(_.nonEmpty)
    val work = new File(a("work"))
    val rec = new Records

    val tSession = nowUs()
    val spark = session(cores, work)
    val sc = spark.sparkContext
    val tInstall = nowUs()
    graft.plans.GraftExtensions.install(spark)
    val tTables = nowUs()
    val tap = if (traced) Some(new Tap(rec)) else None
    tap.foreach { t =>
      sc.addSparkListener(t)
      spark.listenerManager.register(new PlanTap(rec))
    }
    // Table footers and file indexes, through the engine's own readers.
    val data = a("data")
    // A stream workload reads only the events, through the stream source.
    val tableNames = if (mode == "stream") Nil else Seq("region", "nation",
      "customer", "supplier", "part", "orders", "lineitem", "documents", "embeddings")
    tableNames.foreach(t => graft.sources.Tables.table(spark, data, t).count())
    graft.sources.Tables.events(spark, data).count()
    val tWarm = nowUs()

    val deadlineAfterFirst = (seconds * 1e6).toLong
    val warmups = a("warmup_passes").toInt
    def passes(body: Int => Unit): Unit = {
      // Untimed warm-up passes first: the first compiles the generated
      // code, the others let the JIT settle so the timed passes are not
      // read off a warm-up slope. Timed passes follow until the measuring
      // window is spent and at least `minPasses` have run.
      var p = 0
      var firstTimedUs = 0L
      var go = true
      while (go) {
        val c0 = counters()
        val t0 = nowUs()
        if (p == warmups) {
          firstTimedUs = t0
          rec.add("setup", "t0" -> tSession, "t_install" -> tInstall,
            "t_tables" -> tTables, "t_warmup" -> tWarm, "t1" -> t0)
        }
        body(p)
        val t1 = nowUs()
        val c1 = counters()
        rec.add("pass", "pass" -> p, "timed" -> (p >= warmups), "t0" -> t0, "t1" -> t1,
          "gc_ms" -> (c1("gc_ms") - c0("gc_ms")),
          "compile_ns" -> (c1("compile_ns") - c0("compile_ns")),
          "compiles" -> (c1("compiles") - c0("compiles")))
        p += 1
        go = p < warmups + minPasses || t1 - firstTimedUs < deadlineAfterFirst
      }
    }

    mode match {
      case "catalog" =>
        val catalog = graft.queries.QueryCatalog.all.map(q => q.name -> q).toMap
        val missing = ops.filterNot(catalog.contains)
        require(missing.isEmpty, s"unknown catalog queries: ${missing.mkString(",")}")
        passes { p =>
          ops.foreach { name =>
            val trace = s"$p/$name"
            sc.setLocalProperty("perfbench.trace", trace)
            sc.setLocalProperty("perfbench.phase", "build")
            val t0 = nowUs()
            var tBuild = t0
            try {
              val df = catalog(name).run(spark, data)
              tBuild = nowUs()
              sc.setLocalProperty("perfbench.phase", "action")
              val obs = Observation()
              observed(df, obs).write.format("noop").mode("overwrite").save()
              val t1 = nowUs()
              // the timing window is closed; snapshots come after it
              val fp = fingerprintOf(obs.get)
              val storage =
                if (traced) sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
                else 0L
              rec.add("op", "pass" -> p, "name" -> name, "trace" -> trace,
                "t0" -> t0, "t_build" -> tBuild, "t1" -> t1, "ok" -> true,
                "result" -> fp, "storage_bytes" -> storage)
            } catch {
              case NonFatal(t) =>
                rec.add("op", "pass" -> p, "name" -> name, "trace" -> trace,
                  "t0" -> t0, "t_build" -> tBuild, "t1" -> nowUs(), "ok" -> false,
                  "err" -> errText(t))
            } finally {
              sc.setLocalProperty("perfbench.trace", null)
              sc.setLocalProperty("perfbench.phase", null)
            }
          }
        }

      case "stream" =>
        import spark.implicits._
        // Warm-up passes replay the first chunk only: they compile and
        // exercise the same code as a full replay in less set-up time.
        var landing = a("warm_landing")
        def source() = Events.readEventStream(spark, landing, Map("maxFilesPerTrigger" -> "1"))
        def noop(df: DataFrame, ckpt: String, outputMode: String): StreamingQuery =
          observed(df, "chk").writeStream.outputMode(outputMode)
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .format("noop").start()
        // The five StreamBench pipelines. upsert_sink is the engine's own
        // foreachBatch sink, which runs under the default trigger; the
        // harness drains it with processAllAvailable and stops it.
        val pipelines: Map[String, (String, String) => StreamingQuery] = Map(
          "sessionize_event_time" -> { (ckpt, _) =>
            noop(Events.sessionizeEventTime(
              source().select(col("user_id"), col("ts"), col("event_type"), col("value"))
                .as[Events.Ev], gapMs = 3600000L).toDF(), ckpt, "append")
          },
          "dedup_deliveries" -> { (ckpt, _) =>
            noop(Events.dedupDeliveries(source()), ckpt, "append")
          },
          "tumbling_counts" -> { (ckpt, _) =>
            noop(Events.tumblingCounts(source(), "1 hour"), ckpt, "update")
          },
          "interval_join" -> { (ckpt, _) =>
            val clicks = source().filter(col("event_type") === "click")
              .select(col("user_id"), col("ts"), col("event_id"))
            val purchases = source().filter(col("event_type") === "purchase")
              .select(col("user_id"), col("ts"), col("event_id"), col("value"))
            noop(Events.intervalJoinStreams(clicks, purchases,
              key = "user_id", wmDelay = "2 hours", before = "0 minutes",
              after = "30 minutes"), ckpt, "append")
          },
          "upsert_sink" -> { (ckpt, target) =>
            Events.upsertSink(source(), target, ckpt, Seq("user_id"), Seq("ts", "event_id"))
          })
        val missing = ops.filterNot(pipelines.contains)
        require(missing.isEmpty, s"unknown pipelines: ${missing.mkString(",")}")
        passes { p =>
          if (p == warmups) landing = a("landing")
          ops.foreach { name =>
            val trace = s"$p/$name"
            val ckpt = new File(work, s"stream/$trace/ckpt").getPath
            val target = new File(work, s"stream/$trace/target").getPath
            sc.setLocalProperty("perfbench.trace", trace)
            val t0 = nowUs()
            var q: StreamingQuery = null
            try {
              q = pipelines(name)(ckpt, target)
              if (name == "upsert_sink") { q.processAllAvailable(); q.stop() }
              else q.awaitTermination()
              val t1 = nowUs()
              val check = if (name != "upsert_sink") Map.empty[String, Long] else {
                val obs = Observation()
                observed(Events.readUpsertTarget(spark, target), obs)
                  .write.format("noop").mode("overwrite").save()
                fingerprintOf(obs.get)
              }
              rec.add("pipe", "pass" -> p, "name" -> name, "trace" -> trace,
                "t0" -> t0, "t1" -> t1, "ok" -> true,
                "target" -> check)
              q.recentProgress.foreach { pr =>
                val chk = Option(pr.observedMetrics.get("chk"))
                rec.add("batch", "pass" -> p, "pipe" -> name, "trace" -> trace,
                  "batch" -> pr.batchId,
                  "start_us" -> java.time.Instant.parse(pr.timestamp).toEpochMilli * 1000L,
                  "input_rows" -> pr.numInputRows,
                  "durations" -> pr.durationMs.asScala.map { case (k, v) => k -> v.longValue },
                  "state" -> pr.stateOperators.toSeq.map { s =>
                    Map("rows" -> s.numRowsTotal, "bytes" -> s.memoryUsedBytes,
                      "removed" -> s.numRowsRemoved,
                      "late_dropped" -> s.numRowsDroppedByWatermark,
                      "commit_ms" -> s.commitTimeMs)
                  },
                  "result" -> chk.map(r => fingerprintOf(k => r.getAs[Any](k))))
              }
            } catch {
              case NonFatal(t) =>
                if (q != null) q.stop()
                rec.add("pipe", "pass" -> p, "name" -> name, "trace" -> trace,
                  "t0" -> t0, "t1" -> nowUs(), "ok" -> false, "err" -> errText(t))
            } finally sc.setLocalProperty("perfbench.trace", null)
          }
        }
    }

    tap.foreach(_.drain())
    spark.stop()
    val status = new String(Files.readAllBytes(new File("/proc/self/status").toPath),
      StandardCharsets.UTF_8)
    val hwmKb = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status).map(_.group(1).toLong)
    rec.add("end", "t" -> nowUs(), "vm_hwm_kb" -> hwmKb.getOrElse(0L))
    rec.write(a("out"))
  }
}
