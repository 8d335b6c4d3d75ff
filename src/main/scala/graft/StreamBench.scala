package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-pillar benchmark (round 9): every streaming operator was
  * spec-green but had NO scale numbers — the only pillar with zero bench
  * evidence. This main replays the events fixture as a REAL file-source
  * stream (the bronze-landing shape `Events.readEventStream` serves): the
  * table is split into `Chunks` ts-range parquet files with strictly
  * increasing modtimes (round-11 fix — see the landing-directory comments
  * below), so chunks arrive in event-time order like a landing directory
  * fed by an in-order upstream producer, and each pipeline consumes them
  * one file per micro-batch under `Trigger.AvailableNow`.
  *
  * Measured per pipeline, from `StreamingQueryProgress` (the engine's own
  * instrumentation — no bespoke counters):
  *  - rows/sec  = Σ numInputRows / wall seconds of the query run;
  *  - batches   = number of non-empty micro-batches;
  *  - state_rows_max / state_bytes_max = max over batches of the state
  *    operator's numRowsTotal / memoryUsedBytes — the executor-memory
  *    number that decides whether a watermark/TTL policy actually bounds
  *    state at 100 TB (the figures BASELINE.md quotes at two SFs);
  *  - phase_ms = Σ over batches of the `durationMs` phases latestOffset,
  *    addBatch, walCommit, commitOffsets and triggerExecution;
  *    state_commit_ms = Σ over batches and state operators of
  *    `commitTimeMs`;
  *  - compiles / compile_ms = the JVM's generated-class compiles and
  *    their compile time while the pipeline was built and ran
  *    (`CodegenMetrics`, `CodeGenerator.compileTime`): the classes its
  *    plan does not share with an earlier pipeline, plus those a batch
  *    compiles anew (a predicate that embeds the batch's watermark as a
  *    literal has new source text in every batch).
  *
  * Pipelines: sessionizeEventTime (flatMapGroupsWithState + event-time
  * timeout), dedupDeliveries (dropDuplicatesWithinWatermark),
  * tumblingCounts (watermarked window aggregate), upsertSink
  * (foreachBatch latest-wins parquet target). Output: ONE JSON line.
  */
object StreamBench {
  /** Landing-chunk count (= micro-batch count under maxFilesPerTrigger=1).
    * Even, so the recovery probes' two halves are equal and non-empty. */
  private val Chunks = 20

  /** The `StreamingQueryProgress.durationMs` phases each pipeline reports,
    * summed over its batches. */
  private val PhaseKeys =
    Seq("latestOffset", "addBatch", "walCommit", "commitOffsets", "triggerExecution")

  /** Opens the crash window at the newest DATA batch of checkpoint
    * `ckpt`: offsets/N survives, commits/N does not — the on-disk state a
    * process death between the sink commit and the checkpoint commit
    * leaves, which the engine answers by re-executing exactly batch N on
    * restart (a deeper gap is a state the engine ignores). AvailableNow's
    * trailing no-data watermark-advance batch (a mid-run crash never
    * plans it; its offsets body repeats the previous batch's verbatim) is
    * removed entirely first. The Hadoop checksum sidecars go too, or the
    * re-executed batch's commit rename fails as if a concurrent query
    * owned the log. Returns the re-executed batch id.
    * StreamRecoverySpec's kill-and-restart cases use it too. */
  private[graft] def openCrashWindow(ckpt: String): Long = {
    def numbered(sub: String) = new java.io.File(ckpt, sub).listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    def del(f: java.io.File): Unit = {
      require(f.delete(), s"could not delete ${f.getPath}")
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
      ()
    }
    def sourceOffsets(f: java.io.File): String = {
      val s = scala.io.Source.fromFile(f)
      try s.getLines().drop(2).mkString("\n") finally s.close()
    }
    var offs = numbered("offsets")
    require(offs.length >= 2, s"need >=2 batches under $ckpt")
    if (sourceOffsets(offs.last) == sourceOffsets(offs(offs.length - 2))) {
      del(offs.last); del(numbered("commits").last)
      offs = numbered("offsets")
    }
    val reexecFrom = offs.last.getName.toLong
    val commit = new java.io.File(ckpt, s"commits/$reexecFrom")
    require(commit.exists, s"no commit for data batch $reexecFrom")
    del(commit)
    reexecFrom
  }

  def main(args: Array[String]): Unit = {
    val cfg = RunConfig.fromEnv()
    val sfDir = cfg.sfDir
    val work = java.nio.file.Files.createTempDirectory("streambench").toFile
    // The state-store partition count IS spark.sql.shuffle.partitions
    // (default: = cpus); SPARK_GRAFT_CONF=spark.sql.shuffle.partitions=N
    // varies it at a fixed local[n] master.
    val spark = GraftSession.local(cfg.cpus, cfg.conf: _*)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    import spark.implicits._

    // Landing directory: the events table as Chunks time-ordered files
    // (range partition on ts → part-00000 is the earliest slice, so the
    // file stream replays event time forward and watermarks advance
    // batch over batch, exercising state EVICTION, not just growth).
    // Round-11 fix: this was previously ranged on event_id, which is
    // monotone with ts only in the driver fixtures — the tools/sf*
    // generators assign ts by hash, so their chunks were random TIME
    // samples and the replay ran in event-time disorder (watermark
    // jumps, mass late-drops that a noop sink never surfaces).
    val landing = new java.io.File(work, "landing").getPath
    val ev = graft.sources.Tables.events(spark, sfDir)
    ev.repartitionByRange(Chunks, col("ts"))
      .write.mode("overwrite").parquet(landing)
    // The file source replays files in MODIFICATION-TIME order, and a
    // single parquet write stamps every part file within the same
    // millisecond — ties break arbitrarily, which scrambles the replay
    // into event-time DISORDER and silently turns up to half the rows
    // late (round-11 finding: a dedup pipeline's file sink received 45k
    // of 100k rows, the rest watermark-dropped, invisible to a noop
    // sink). Stamp part files with strictly increasing modtimes in name
    // order (= ts range order, per the repartitionByRange above) so the
    // landing replay is the in-order producer the header describes.
    val t0Stamp = System.currentTimeMillis() - 3600000L
    new java.io.File(landing).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(t0Stamp + i * 1000L), s"cannot stamp $f")
      }
    val nRows = spark.read.parquet(landing).count()

    def stream() = graft.streaming.Events.readEventStream(
      spark, landing, Map("maxFilesPerTrigger" -> "1"))
    def evStream() = stream()
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[graft.streaming.Events.Ev]

    def run(name: String)(start: (String, String) => org.apache.spark.sql.streaming.StreamingQuery): (String, String) = {
      val ckpt = new java.io.File(work, s"ckpt_$name").getPath
      val target = new java.io.File(work, s"target_$name").getPath
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val q = start(ckpt, target)
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1000000L
      // the query's own progress buffer, complete once it has terminated
      // (Chunks + 2 entries at most, under the default limit of 100);
      // batches that neither read rows nor hold state are left out of
      // the row and state figures, but not of the summed costs
      val progress = q.recentProgress.toSeq
      val phases = PhaseKeys.map { k =>
        s""""$k":${progress.map(p => Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum}"""
      }.mkString(",")
      val stateCommitMs = progress.flatMap(_.stateOperators).map(_.commitTimeMs).sum
      val ps = progress.map { p =>
        (p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }.filter { case (rows, stateRows, _) => rows > 0 || stateRows > 0 }
      val rows = ps.map(_._1).sum
      val json =
        s"""{"rows":$rows,"wall_s":${math.round(wall * 1000) / 1000.0},""" +
        s""""rows_per_s":${math.round(rows / wall)},"batches":${ps.size},""" +
        s""""state_rows_max":${(0L +: ps.map(_._2)).max},""" +
        s""""state_bytes_max":${(0L +: ps.map(_._3)).max},""" +
        s""""phase_ms":{$phases},"state_commit_ms":$stateCommitMs,""" +
        s""""compiles":$compiles,"compile_ms":$compileMs}"""
      System.err.println(s"[streambench] $name: $json")
      name -> json
    }

    val results = Seq(
      run("sessionize_event_time") { (ckpt, _) =>
        graft.streaming.Events.sessionizeEventTime(evStream(), gapMs = 3600000L)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .format("noop").start()
      },
      run("dedup_deliveries") { (ckpt, _) =>
        graft.streaming.Events.dedupDeliveries(stream())
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .format("noop").start()
      },
      run("tumbling_counts") { (ckpt, _) =>
        graft.streaming.Events.tumblingCounts(stream(), "1 hour")
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .format("noop").start()
      },
      // Stream-stream interval join (round-10 ask: the one stateful
      // operator family that was spec-only in the bench): clicks joined
      // to same-user purchases within [0, +30 min] — the attribution
      // shape. BOTH legs are independent file streams over the same
      // landing dir; both carry watermarks, so the symmetric-hash join
      // buffers each side only until the other side's watermark passes
      // ts + interval. state_rows/bytes report BOTH sides' buffered rows
      // combined (Spark exposes the join as one state operator) — the
      // number that must stay bounded by watermark delay + interval
      // width, never by history.
      run("interval_join") { (ckpt, _) =>
        val clicks = stream().filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = stream().filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        graft.streaming.Events.intervalJoinStreams(
          clicks, purchases, key = "user_id",
          wmDelay = "2 hours", before = "0 minutes", after = "30 minutes")
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .format("noop").start()
      },
      // upsertSink's body (applyUpsertBatch) with an explicit
      // AvailableNow trigger so the run terminates — same machinery,
      // bench-controllable lifecycle. "State" here is the parquet
      // target, not a state store, so state_* report 0.
      run("upsert_sink") { (ckpt, target) =>
        stream().writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            graft.streaming.Events.applyUpsertBatch(
              batch, id, target, Seq("user_id"), Seq("ts", "event_id"))
          }
          .start()
      })

    // ------------------------------------------------------------------
    // Recovery probe (round 11): the numbers above are all clean
    // AvailableNow passes — this measures the kill-and-restart path.
    // The dedup pipeline consumes the first half of the landing chunks
    // and stops; the crash window is simulated exactly (the checkpoint's
    // last commit marker is deleted, leaving offsets/N without commits/N
    // — the state a process death between sink commit and checkpoint
    // commit leaves behind); the second half lands and the query
    // restarts from the checkpoint, re-executing the uncommitted batch.
    // Reported: restored_state_rows (the dedup state the checkpoint held
    // at the kill, read back via the statestore source — what the
    // restart must restore), dup/loss vs the batch ground truth (both
    // must be 0: the file sink's metadata log absorbs the re-delivered
    // batch, the state store resumes from its committed version), and
    // the wall including both passes.
    // ------------------------------------------------------------------
    // ---- shared recovery machinery (used by both probes below) ----
    val chunkFiles = new java.io.File(landing).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    // copies get fresh modtimes: re-stamp in name order (sub-ms copies
    // otherwise tie and the source replays them in arbitrary order)
    def stageInto(dir: java.io.File, files: Seq[java.io.File]): Unit =
      files.foreach { f =>
        val dest = new java.io.File(dir, f.getName)
        java.nio.file.Files.copy(f.toPath, dest.toPath)
        require(dest.setLastModified(f.lastModified), s"cannot stamp $dest")
      }
    // no-data housekeeping batches off for the recovery runs: a clean
    // AvailableNow pass would otherwise append a watermark-advance
    // batch a mid-run crash never plans — and its entry in the SINK's
    // metadata log makes the sink discard the first real post-restart
    // batch (same id, "already committed"). With it off, each pass
    // ends at the last data batch: the frontier a crash leaves.
    val recSession = spark.newSession()
    recSession.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val recovery = {
      val src = new java.io.File(work, "rec_landing"); src.mkdirs()
      val out = new java.io.File(work, "rec_out").getPath
      val ckpt = new java.io.File(work, "rec_ckpt")
      def pass(): Unit = {
        val q = graft.streaming.Events.dedupDeliveries(
          graft.streaming.Events.readEventStream(
            recSession, src.getPath, Map("maxFilesPerTrigger" -> "1")))
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt.getPath)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val t0 = System.nanoTime()
      stageInto(src, chunkFiles.take(Chunks / 2))
      pass()
      val restored = spark.read.format("statestore").load(ckpt.getPath).count()
      val reexecFrom = openCrashWindow(ckpt.getPath)
      stageInto(src, chunkFiles.drop(Chunks / 2))
      pass()
      val wall = (System.nanoTime() - t0) / 1e9
      val got = spark.read.parquet(out)
      val rowsOut = got.count()
      val distinctOut = got.select("user_id", "event_id").distinct().count()
      // ground truth from the landing table itself: dedupDeliveries only
      // guarantees drops within the watermark delay, so the comparable
      // batch count is what a clean single-pass run emits — which the
      // dedup_deliveries pipeline above already measured as `rows` ==
      // nRows for this fixture (event ids unique); dup/loss are measured
      // against distinct (user_id, event_id) pairs
      val expect = spark.read.parquet(landing)
        .select("user_id", "event_id").distinct().count()
      s"""{"restored_state_rows":$restored,"reexecuted_from_batch":$reexecFrom,""" +
        s""""rows_out":$rowsOut,"dup":${rowsOut - distinctOut},"loss":${expect - distinctOut},""" +
        s""""wall_s":${math.round(wall * 1000) / 1000.0}}"""
    }
    System.err.println(s"[streambench] recovery: $recovery")

    // ------------------------------------------------------------------
    // Sessionize recovery probe (round 12): the same kill-and-restart
    // window, applied to the hardest state-restore path —
    // flatMapGroupsWithState user state + EventTimeTimeout timers. A
    // dedup restore only needs the seen-key set back; a sessionize
    // restore must bring back every OPEN interval's payload (start/end/
    // n/total) AND the timer frontier, or sessions straddling the kill
    // point emit split or double. Verified against an uninterrupted twin
    // run over the SAME chunk files with the SAME one-file-per-batch
    // pacing (so state-sum floating-point order is identical and the
    // comparison can demand bit-equality): mismatch_vs_clean counts rows
    // differing in either direction (exceptAll both ways — distributed,
    // no driver collect) and must be 0.
    // ------------------------------------------------------------------
    val recoverySessionize = {
      val src = new java.io.File(work, "recs_landing"); src.mkdirs()
      val out = new java.io.File(work, "recs_out").getPath
      val ckpt = new java.io.File(work, "recs_ckpt")
      val srcFull = new java.io.File(work, "recs_landing_full"); srcFull.mkdirs()
      val outFull = new java.io.File(work, "recs_out_full").getPath
      val ckptFull = new java.io.File(work, "recs_ckpt_full").getPath
      def pass(srcPath: String, outPath: String, ckptPath: String): Unit = {
        val q = graft.streaming.Events.sessionizeEventTime(
          graft.streaming.Events.readEventStream(
            recSession, srcPath, Map("maxFilesPerTrigger" -> "1"))
            .select(col("user_id"), col("ts"), col("event_type"), col("value"))
            .as[graft.streaming.Events.Ev],
          gapMs = 3600000L)
          .toDF()
          .writeStream.format("parquet").option("path", outPath)
          .option("checkpointLocation", ckptPath)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val t0 = System.nanoTime()
      stageInto(src, chunkFiles.take(Chunks / 2))
      pass(src.getPath, out, ckpt.getPath)
      // one state row per user with an interval the watermark hasn't
      // sealed — the open-session payloads the restart must restore
      val restored = spark.read.format("statestore").load(ckpt.getPath).count()
      val reexecFrom = openCrashWindow(ckpt.getPath)
      stageInto(src, chunkFiles.drop(Chunks / 2))
      pass(src.getPath, out, ckpt.getPath)
      // uninterrupted twin: same chunks, same pacing, fresh checkpoint
      stageInto(srcFull, chunkFiles)
      pass(srcFull.getPath, outFull, ckptFull)
      val wall = (System.nanoTime() - t0) / 1e9
      val rec = spark.read.parquet(out)
      val clean = spark.read.parquet(outFull)
      val mismatch = rec.exceptAll(clean).count() + clean.exceptAll(rec).count()
      s"""{"restored_state_rows":$restored,"reexecuted_from_batch":$reexecFrom,""" +
        s""""sessions_out":${rec.count()},"clean_sessions":${clean.count()},""" +
        s""""mismatch_vs_clean":$mismatch,""" +
        s""""wall_s":${math.round(wall * 1000) / 1000.0}}"""
    }
    System.err.println(s"[streambench] recovery_sessionize: $recoverySessionize")

    val body = (results
      :+ ("recovery" -> recovery)
      :+ ("recovery_sessionize" -> recoverySessionize))
      .map { case (k, v) => s"\"$k\":$v" }.mkString(",")
    println(s"""{"metric":"stream","unit":"rows_per_s","input_rows":$nRows,"chunks":$Chunks,"shuffle_partitions":$shufflePartitions,$body,"sf":"$sfDir"}""")
    spark.stop()
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(work)
  }
}
