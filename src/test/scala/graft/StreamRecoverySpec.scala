package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Events

/** Checkpoint recovery — the T4 contract (at-least-once delivery +
  * latest-wins state) exercised through a real kill-and-restart, not a
  * clean single pass. Every StreamBench run and every other streaming
  * spec drives a query from empty checkpoint to completion; this spec
  * pins what happens when the pipeline dies mid-run:
  *
  *   1. a landing directory of 20 time-ordered chunk files is consumed
  *      one file per micro-batch; the query is stopped after the first
  *      10 chunks;
  *   2. the CRASH WINDOW is simulated precisely: the checkpoint's last
  *      commit marker is deleted, leaving offsets/N without commits/N —
  *      the on-disk state after a process dies between the sink commit
  *      and the checkpoint commit, which is exactly when at-least-once
  *      re-delivery happens on restart;
  *   3. the remaining 10 chunks land, the SAME query (same checkpoint,
  *      same sink) restarts: the engine re-executes the uncommitted
  *      batch from its offset log, then continues.
  *
  * Assertions: (a) dedup state RESTORES — a re-delivered event whose
  * original arrived before the kill and whose duplicate arrives after
  * the restart is still dropped (plus a fresh-checkpoint control run
  * proving that without the restored state the duplicate passes, so the
  * assertion bites); (b) the final sink contents are IDENTICAL to an
  * uninterrupted run over the same 20 chunks — zero duplicates, zero
  * loss, for both the exactly-once file sink (its _spark_metadata log
  * skips the re-executed batch's writes) and the foreachBatch upsert
  * sink (its recorded batchId makes the re-applied batch a no-op,
  * `Events.applyUpsertBatch`). */
class StreamRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val NChunks = 20
  private val ChunkRows = 200
  private val KillAfter = NChunks / 2
  // 1 s per event → 200 s of event time per chunk. This clock is chosen
  // against dedupDeliveries' 10-minute watermark delay so that BOTH
  // regimes are exercised by the kill point: (a) eviction has happened
  // (a key expires when watermark > ts + 600 s; watermark at batch 9 ≈
  // 1800 − 600 = 1200 s, so the first ~600 events are gone — the
  // restored-state count below proves the checkpoint holds a bounded
  // window, not history), and (b) the straddle duplicates (originals at
  // ~chunk-end, re-arriving 2–3 chunks ≈ 400–600 s later) are still
  // inside the window — neither late-dropped nor expired — so their
  // fate is decided by STATE, which only a successful restore provides.
  private val TsStepMs = 1000L
  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def baseRow(e: Int) = (
    e.toLong, new Timestamp(T0 + e * TsStepMs), (e % 37).toLong,
    Seq("click", "view", "purchase")(e % 3), e * 1.0, "{}")

  /** Re-deliveries: (chunk the duplicate lands in, original event index).
    * One before the kill, two straddling it (original ≤ chunk 9,
    * duplicate ≥ chunk 11 — only restored state can drop these), one
    * after the restart. A duplicate is the IDENTICAL row (true
    * at-least-once re-delivery, original ts included). */
  private val redeliveries = Seq(
    (4, 2 * ChunkRows + 190),
    (11, 8 * ChunkRows + 190),
    (12, 9 * ChunkRows + 190),
    (15, 14 * ChunkRows + 190))

  private def chunkDf(c: Int): DataFrame = {
    val base = (c * ChunkRows until (c + 1) * ChunkRows).map(baseRow)
    val dups = redeliveries.collect { case (`c`, orig) => baseRow(orig) }
    (base ++ dups)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Write chunks [from, until) as single files into `landing`, named and
    * modstamped in chunk order so the file source replays them in event-
    * time order, one per micro-batch. */
  private def stage(landing: java.io.File, from: Int, until: Int,
      mkChunk: Int => DataFrame = chunkDf): Unit = {
    landing.mkdirs()
    (from until until).foreach { c =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_chunk").toFile
      mkChunk(c).coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(landing, f"chunk_$c%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      assert(dest.setLastModified(T0 + c * 60000L))
      Option(tmp.listFiles).foreach(_.foreach(_.delete())); tmp.delete()
    }
  }

  /** Recovery runs disable no-data micro-batches (isolated session, so
    * concurrent suites keep the default): a clean AvailableNow pass over
    * a watermarked pipeline otherwise APPENDS a housekeeping batch that a
    * mid-run crash would never have planned — and whose entry in the
    * sink's metadata log would make the sink silently discard the first
    * real post-restart batch (same batch id, "already committed"). With
    * the housekeeping batch off, the pass ends at the last data batch:
    * exactly the frontier a crash leaves. */
  private lazy val recSession =
    isolated("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  private def runDedupPass(landing: String, out: String, ckpt: String): Unit = {
    val q = Events.dedupDeliveries(
      Events.readEventStream(recSession, landing, Map("maxFilesPerTrigger" -> "1")))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(180000), "dedup pass timed out") finally q.stop()
  }

  /** `StreamBench.openCrashWindow`, checked to have left the re-executed
    * batch without its commit marker: the restart assertions below find
    * that marker again only if the engine re-ran the batch. */
  private def openCrashWindow(ckpt: String): Long = {
    val reexec = StreamBench.openCrashWindow(ckpt)
    assert(!new java.io.File(ckpt, s"commits/$reexec").exists,
      s"batch $reexec still has its commit marker: no crash window to recover from")
    reexec
  }

  private def outRows(dir: String): Seq[String] =
    spark.read.parquet(dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .collect().map(_.toString).sorted.toSeq

  test("dedup pipeline: kill after 10 of 20 chunks, restart from checkpoint — state restores, sink identical to the uninterrupted run") {
    val work = java.nio.file.Files.createTempDirectory("graft_recovery").toFile
    def p(n: String) = new java.io.File(work, n).getPath

    // uninterrupted twin: all 20 chunks, one clean pass
    stage(new java.io.File(work, "src_full"), 0, NChunks)
    runDedupPass(p("src_full"), p("out_full"), p("ckpt_full"))
    val fullRows = outRows(p("out_full"))
    assert(fullRows.size == NChunks * ChunkRows,
      s"uninterrupted run must emit every distinct event exactly once, got ${fullRows.size}")

    // interrupted run, phase 1: first 10 chunks only
    val srcB = new java.io.File(work, "src_kill")
    stage(srcB, 0, KillAfter)
    runDedupPass(srcB.getPath, p("out_kill"), p("ckpt_kill"))

    // the checkpoint holds live dedup state at the kill point — this is
    // what the restart must restore (bounded by the watermark window,
    // not all-history: strictly fewer keys than events seen)
    val restored = spark.read.format("statestore").load(p("ckpt_kill")).count()
    assert(restored > 0, "no dedup state in the checkpoint at the kill point")
    // watermark at the kill ≈ 1200 s → the first ~600 keys are evicted;
    // a count at (or above) everything-seen means eviction never ran and
    // the state is history, not a window
    assert(restored < KillAfter.toLong * ChunkRows,
      s"dedup state should be watermark-bounded, held $restored of ${KillAfter * ChunkRows} keys")

    val reexec = openCrashWindow(p("ckpt_kill"))
    assert(reexec == KillAfter - 1L,
      s"the re-delivered batch should be the last DATA batch, got $reexec")
    stage(srcB, KillAfter, NChunks)
    runDedupPass(srcB.getPath, p("out_kill"), p("ckpt_kill"))
    assert(new java.io.File(p("ckpt_kill") + s"/commits/$reexec").exists,
      s"batch $reexec was not re-executed after the simulated crash")

    // byte-identical recovery: same rows, zero duplicates, zero loss —
    // including the straddle re-deliveries, droppable only via restored state
    assert(outRows(p("out_kill")) == fullRows,
      "recovered sink diverged from the uninterrupted run")

    // control (the assertion bites): a fresh checkpoint over only the
    // second half has no memory of chunks 0–9, so the two straddle
    // duplicates pass dedup and the output is 2 rows too big
    val srcC = new java.io.File(work, "src_ctrl")
    stage(srcC, KillAfter, NChunks)
    runDedupPass(srcC.getPath, p("out_ctrl"), p("ckpt_ctrl"))
    val ctrl = outRows(p("out_ctrl")).size
    assert(ctrl == KillAfter * ChunkRows + 2,
      s"control should leak exactly the 2 straddle duplicates, got $ctrl")
  }

  // ------------------------------------------------------------------
  // Sessionize recovery — flatMapGroupsWithState user state +
  // EventTimeTimeout timers, the hardest restore path: a dedup restore
  // only needs the seen-key set back, but a sessionize restore must
  // bring back every OPEN interval's payload (start/end/n/total) AND
  // the timer frontier, or sessions straddling the kill point emit
  // split or double.
  //
  // Fixture: 10 users, events 1 s apart, user = ((e+2)/5) % 10 — each
  // user owns runs of 5 consecutive seconds, 45 s apart. With a 30 s
  // session gap every run is exactly one session, and the +2 shift
  // makes run k=400 ({1998..2002}, user 0) STRADDLE the kill boundary
  // at e=2000: its first two events arrive before the kill, the last
  // three after the restart. Only a restored open-interval state can
  // merge them into the one true session [1998 s, 2002 s] n=5 — a
  // fresh checkpoint (control below) emits the truncated [2000 s,
  // 2002 s] n=3 instead, proving the byte-identity assertion bites.
  // ------------------------------------------------------------------
  private val SessGapMs = 30000L

  private def sessRow(e: Int) = (
    e.toLong, new Timestamp(T0 + e * TsStepMs), ((e + 2) / 5 % 10).toLong,
    "click", e * 1.0, "{}")

  private def sessChunkDf(c: Int): DataFrame =
    (c * ChunkRows until (c + 1) * ChunkRows).map(sessRow)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private def runSessionizePass(landing: String, out: String, ckpt: String): Unit = {
    val q = Events.sessionizeEventTime(
      Events.readEventStream(recSession, landing, Map("maxFilesPerTrigger" -> "1"))
        .select($"user_id", $"ts", $"event_type", $"value").as[Events.Ev],
      gapMs = SessGapMs)
      .toDF()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(180000), "sessionize pass timed out") finally q.stop()
  }

  /** The session(s) starting at event-second `startSec`, rendered as
    * (user, end, n, total) strings. */
  private def sessionsStartingAt(dir: String, startSec: Int): Seq[String] =
    spark.read.parquet(dir)
      .filter($"session_start" === new Timestamp(T0 + startSec * TsStepMs))
      .select($"user_id", $"session_end", $"n_events", $"total_value")
      .collect().map(_.toString).toSeq

  test("sessionize (flatMapGroupsWithState + event-time timeout): kill after 10 of 20 chunks, restart — open-interval state and timers restore, sink identical to the uninterrupted run") {
    val work = java.nio.file.Files.createTempDirectory("graft_recovery_sess").toFile
    def p(n: String) = new java.io.File(work, n).getPath
    def rows(dir: String): Seq[String] =
      spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq

    // uninterrupted twin: all 20 chunks, one clean pass
    stage(new java.io.File(work, "src_full"), 0, NChunks, sessChunkDf)
    runSessionizePass(p("src_full"), p("out_full"), p("ckpt_full"))
    val fullRows = rows(p("out_full"))
    assert(fullRows.nonEmpty, "uninterrupted sessionize run emitted nothing")
    // the straddle session is emitted whole: user 0, [1998 s, 2002 s],
    // n=5, total = 1998+…+2002 = 10000
    val straddleEnd = new Timestamp(T0 + 2002 * TsStepMs)
    assert(sessionsStartingAt(p("out_full"), 1998) ==
      Seq(s"[0,$straddleEnd,5,10000.0]"),
      "clean run must emit the straddle run as one 5-event session")

    // interrupted run, phase 1: first 10 chunks only
    val srcB = new java.io.File(work, "src_kill")
    stage(srcB, 0, KillAfter, sessChunkDf)
    runSessionizePass(srcB.getPath, p("out_kill"), p("ckpt_kill"))

    // every user has intervals the watermark hasn't sealed at the kill —
    // one SessList state row per user is what the restart must restore
    val restored = spark.read.format("statestore").load(p("ckpt_kill")).count()
    assert(restored == 10L,
      s"expected one open-session state row per user (10), got $restored")

    val reexec = openCrashWindow(p("ckpt_kill"))
    assert(reexec == KillAfter - 1L,
      s"the re-delivered batch should be the last DATA batch, got $reexec")
    stage(srcB, KillAfter, NChunks, sessChunkDf)
    runSessionizePass(srcB.getPath, p("out_kill"), p("ckpt_kill"))
    assert(new java.io.File(p("ckpt_kill") + s"/commits/$reexec").exists,
      s"batch $reexec was not re-executed after the simulated crash")

    // byte-identical recovery — including the straddle session, which
    // only restored open-interval state can assemble whole
    assert(rows(p("out_kill")) == fullRows,
      "recovered sessionize sink diverged from the uninterrupted run")

    // control (the assertion bites): a fresh checkpoint over only the
    // second half has no memory of the open [1998 s, 1999 s] interval —
    // the straddle session emerges truncated ([2000 s, 2002 s], n=3,
    // total = 2000+2001+2002 = 6003), so the equality above was decided
    // by restored state, not by replay
    val srcC = new java.io.File(work, "src_ctrl")
    stage(srcC, KillAfter, NChunks, sessChunkDf)
    runSessionizePass(srcC.getPath, p("out_ctrl"), p("ckpt_ctrl"))
    assert(sessionsStartingAt(p("out_ctrl"), 1998).isEmpty,
      "control must not know about the pre-kill session start")
    assert(sessionsStartingAt(p("out_ctrl"), 2000) ==
      Seq(s"[0,$straddleEnd,3,6003.0]"),
      "control should emit the straddle session truncated to its post-kill rows")
  }

  // ------------------------------------------------------------------
  // The file-sink cases above restart into a sink whose metadata log
  // already lists the re-executed batch, so the sink skips that batch
  // without running its plan: the stateful operator never runs it again
  // and its state delta is not rewritten. The two cases below drive the
  // same crash windows through a foreachBatch sink, which runs the plan
  // of every batch it is given, so the restart really re-executes the
  // batch against the restored state and rewrites its delta.
  // ------------------------------------------------------------------

  /** One AvailableNow pass of `stream` into a foreachBatch sink: each
    * batch overwrites its own directory `out/batch=<id>`, so a re-executed
    * batch replaces what its first execution wrote. */
  private def foreachBatchPass(stream: DataFrame, out: String, ckpt: String): Unit = {
    val q = stream.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch=$id")
      }
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(180000), "foreachBatch pass timed out") finally q.stop()
  }

  /** Kill after `KillAfter` chunks, open the crash window, restart over
    * the rest, and check that the re-executed batch rewrote every state
    * delta it owns (state version = batch id + 1) and that the output
    * equals an uninterrupted run. `pass(landing, out, ckpt)` runs one
    * pass; `rows(out)` renders the output without its batch column. */
  private def checkReexecutedRecovery(mkChunk: Int => DataFrame,
      pass: (String, String, String) => Unit, rows: String => Seq[String]): Unit = {
    val work = java.nio.file.Files.createTempDirectory("graft_recovery_fb").toFile
    def p(n: String) = new java.io.File(work, n).getPath

    stage(new java.io.File(work, "src_full"), 0, NChunks, mkChunk)
    pass(p("src_full"), p("out_full"), p("ckpt_full"))
    val fullRows = rows(p("out_full"))
    assert(fullRows.nonEmpty, "uninterrupted run emitted nothing")

    val srcB = new java.io.File(work, "src_kill")
    stage(srcB, 0, KillAfter, mkChunk)
    pass(srcB.getPath, p("out_kill"), p("ckpt_kill"))
    val reexec = openCrashWindow(p("ckpt_kill"))
    assert(reexec == KillAfter - 1L,
      s"the re-delivered batch should be the last DATA batch, got $reexec")
    // stamp the batch's state deltas far in the past: only a rewrite
    // makes them new again
    val deltas = Option(new java.io.File(p("ckpt_kill"), "state/0").listFiles).toSeq.flatten
      .map(part => new java.io.File(part, s"${reexec + 1}.delta")).filter(_.exists)
    assert(deltas.nonEmpty, s"batch $reexec wrote no state delta")
    deltas.foreach(d => assert(d.setLastModified(1000L)))
    stage(srcB, KillAfter, NChunks, mkChunk)
    pass(srcB.getPath, p("out_kill"), p("ckpt_kill"))
    assert(new java.io.File(p("ckpt_kill") + s"/commits/$reexec").exists,
      s"batch $reexec was not re-executed after the simulated crash")
    val stale = deltas.filter(_.lastModified == 1000L)
    assert(stale.isEmpty, s"the re-executed batch did not rewrite ${stale.mkString(", ")}")

    assert(rows(p("out_kill")) == fullRows,
      "recovered foreachBatch output diverged from the uninterrupted run")
  }

  test("dedup pipeline through foreachBatch: the restart re-executes the uncommitted batch, rewrites its state delta, and the output equals the uninterrupted run") {
    checkReexecutedRecovery(chunkDf,
      (landing, out, ckpt) => foreachBatchPass(Events.dedupDeliveries(
        Events.readEventStream(recSession, landing, Map("maxFilesPerTrigger" -> "1"))),
        out, ckpt),
      outRows)
  }

  test("sessionize through foreachBatch: the restart re-executes the uncommitted batch, rewrites its state delta, and the output equals the uninterrupted run") {
    checkReexecutedRecovery(sessChunkDf,
      (landing, out, ckpt) => foreachBatchPass(Events.sessionizeEventTime(
        Events.readEventStream(recSession, landing, Map("maxFilesPerTrigger" -> "1"))
          .select($"user_id", $"ts", $"event_type", $"value").as[Events.Ev],
        gapMs = SessGapMs).toDF(), out, ckpt),
      dir => spark.read.parquet(dir)
        .select($"user_id", $"session_start", $"session_end", $"n_events", $"total_value")
        .collect().map(_.toString).sorted.toSeq)
  }

  test("upsert sink: kill-and-restart re-delivers the uncommitted batch; the batchId guard makes it a no-op and the target matches the uninterrupted run") {
    val work = java.nio.file.Files.createTempDirectory("graft_recovery_up").toFile
    def p(n: String) = new java.io.File(work, n).getPath
    def runPass(landing: String, target: String, ckpt: String): Unit = {
      val q = Events.readEventStream(spark, landing, Map("maxFilesPerTrigger" -> "1"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          Events.applyUpsertBatch(batch, id, target, Seq("user_id"), Seq("ts", "event_id"))
        }
        .start()
      try assert(q.awaitTermination(180000), "upsert pass timed out") finally q.stop()
    }
    def targetRows(dir: String): Seq[String] =
      Events.readUpsertTarget(spark, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .collect().map(_.toString).sorted.toSeq

    stage(new java.io.File(work, "src_full"), 0, NChunks)
    runPass(p("src_full"), p("tgt_full"), p("ckpt_full"))
    val fullRows = targetRows(p("tgt_full"))
    assert(fullRows.size == 37, s"one latest-wins row per user expected, got ${fullRows.size}")

    val srcB = new java.io.File(work, "src_kill")
    stage(srcB, 0, KillAfter)
    runPass(srcB.getPath, p("tgt_kill"), p("ckpt_kill"))
    val midRows = targetRows(p("tgt_kill"))
    val reexec = openCrashWindow(p("ckpt_kill"))
    assert(reexec == KillAfter - 1L,
      s"the re-delivered batch should be the last DATA batch, got $reexec")
    stage(srcB, KillAfter, NChunks)
    runPass(srcB.getPath, p("tgt_kill"), p("ckpt_kill"))

    assert(targetRows(p("tgt_kill")) == fullRows,
      "recovered upsert target diverged from the uninterrupted run")
    // and the kill point was a real mid-state (the second pass did work)
    assert(midRows != fullRows, "kill point was not mid-run — the test is vacuous")
  }
}
