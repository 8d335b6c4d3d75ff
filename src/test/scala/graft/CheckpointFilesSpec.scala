package graft

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FilterFileSystem, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{Events, GraftCheckpointFileManager, LocalCheckpointFileManager}

/** A non-local file system for resolution checks: Hadoop's raw local file
  * system behind a scheme of its own, with no FileContext binding. */
class FakeSchemeFileSystem extends FilterFileSystem(new RawLocalFileSystem)

/** Graft's checkpoint file manager (`graft.streaming.CheckpointFiles`):
  * a query built on a graft source writes its checkpoint without starting
  * a process, `file:` paths get the local manager and every other scheme
  * keeps Spark's own choice, the publish semantics `HDFSMetadataLog`
  * relies on hold, and a checkpoint resumes under either manager. */
class CheckpointFilesSpec extends SparkSpec {
  import CheckpointFilesSpec._
  import spark.implicits._

  private val ConfKey = GraftCheckpointFileManager.ConfKey
  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val ChunkRows = 100

  /** Chunk `c`: events c·100 … c·100+99, one second apart, plus the
    * re-delivery of event 50 in chunk 2 (inside the 10-minute watermark,
    * so only dedup state drops it). */
  private def chunkDf(c: Int): DataFrame = {
    val ids = (c * ChunkRows until (c + 1) * ChunkRows) ++ (if (c == 2) Seq(50) else Nil)
    ids.map(e => (e.toLong, new Timestamp(T0 + e * 1000L), (e % 7).toLong,
      Seq("click", "view")(e % 2), e * 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Writes chunks [from, until) into `landing` as single files, modstamped
    * in chunk order so the file source replays them one per batch. */
  private def stage(landing: java.io.File, from: Int, until: Int): Unit = {
    landing.mkdirs()
    (from until until).foreach { c =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt_chunk").toFile
      chunkDf(c).coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(landing, f"chunk_$c%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      assert(dest.setLastModified(T0 + c * 60000L))
      Option(tmp.listFiles).foreach(_.foreach(_.delete())); tmp.delete()
    }
  }

  private def tmpDir(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(prefix).toFile

  /** The `jdk.ProcessStart` events recorded while `body` ran, each as the
    * started command and its stack's `class.method` frames. */
  private def processStartsDuring(body: => Unit): Seq[(String, Seq[String])] = {
    val starts = new ConcurrentLinkedQueue[(Instant, String, Seq[String])]()
    val markers = new Semaphore(0)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[Marker])
      rs.onEvent("jdk.ProcessStart", (e: RecordedEvent) => starts.add((e.getStartTime,
        e.getString("command"),
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))))
      rs.onEvent(classOf[Marker].getName, (_: RecordedEvent) => markers.release())
      rs.startAsync()
      // a marker seen by the stream proves the recording is live
      def mark(): Unit = {
        new Marker().commit()
        assert(markers.tryAcquire(60, TimeUnit.SECONDS), "JFR stream delivered no marker")
      }
      mark()
      val t0 = Instant.now()
      body
      val t1 = Instant.now()
      mark()
      starts.asScala.toSeq.collect {
        case (t, cmd, frames) if !t.isBefore(t0) && !t.isAfter(t1) => (cmd, frames)
      }
    } finally rs.close()
  }

  /** Process starts whose stack passes through Hadoop's file systems or
    * Spark's streaming execution, over a two-batch `dedupDeliveries` run
    * on session `s`. */
  private def checkpointForks(s: SparkSession): Seq[(String, Seq[String])] = {
    val landing = tmpDir("graft_ckpt_land")
    stage(landing, 0, 2)
    val ckpt = new java.io.File(tmpDir("graft_ckpt_fork"), "ckpt").getPath
    val query = Events.dedupDeliveries(
      Events.readEventStream(s, landing.getPath, Map("maxFilesPerTrigger" -> "1")))
      .writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
    var batches = 0
    val forks = processStartsDuring {
      val q = query.start()
      try assert(q.awaitTermination(120000), "dedup query timed out") finally q.stop()
      batches = q.recentProgress.count(_.numInputRows > 0)
    }
    assert(batches == 2, s"expected two data batches, got $batches")
    forks.filter(_._2.exists(f =>
      f.startsWith("org.apache.hadoop.fs.") ||
        f.startsWith("org.apache.spark.sql.execution.streaming.")))
  }

  test("a query on readEventStream writes its checkpoint without starting a process") {
    val forks = checkpointForks(isolated())
    assert(forks.isEmpty, s"${forks.size} checkpoint process starts, first: " +
      forks.headOption.map { case (cmd, frames) =>
        s"$cmd at ${frames.take(12).mkString(" <- ")}" }.getOrElse(""))
    // control (the recording sees forks at all): Spark's default manager
    // on the same run starts one per checkpoint file
    val control = checkpointForks(isolated(ConfKey -> FileContextManager))
    assert(control.nonEmpty, "the default manager started no process: the recording is blind")
  }

  test("file: paths resolve to the local manager; other schemes to Spark's own choice") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.graftfake.impl", classOf[FakeSchemeFileSystem].getName)
    conf.setBoolean("fs.graftfake.impl.disable.cache", true)
    val local = new Path(tmpDir("graft_ckpt_resolve").toURI)
    val fake = new Path("graftfake:///tmp/graft_ckpt_fake")
    assert(GraftCheckpointFileManager.resolve(local, conf).getClass ==
      classOf[LocalCheckpointFileManager])
    val sparks = CheckpointFileManager.create(fake, conf).getClass
    assert(GraftCheckpointFileManager.resolve(fake, conf).getClass == sparks)
    assert(sparks != classOf[LocalCheckpointFileManager])
    // with the conf naming graft's class, Spark builds it, and resolving
    // a non-local path still lands on Spark's choice, not on itself
    conf.set(ConfKey, classOf[GraftCheckpointFileManager].getName)
    assert(CheckpointFileManager.create(local, conf).getClass ==
      classOf[GraftCheckpointFileManager])
    assert(GraftCheckpointFileManager.resolve(fake, conf).getClass == sparks)
  }

  test("readEventStream installs the graft manager only when the session names none") {
    val empty = tmpDir("graft_ckpt_conf").getPath
    val chosen = classOf[FileSystemBasedCheckpointFileManager].getName
    val callers = isolated(ConfKey -> chosen)
    Events.readEventStream(callers, empty)
    assert(callers.conf.get(ConfKey) == chosen)
    val fresh = isolated()
    Events.readEventStream(fresh, empty)
    assert(fresh.conf.get(ConfKey) == classOf[GraftCheckpointFileManager].getName)
  }

  test("createAtomic: without overwrite an existing file is refused, with it replaced; cancel leaves nothing") {
    val dir = tmpDir("graft_ckpt_atomic")
    val fm = new GraftCheckpointFileManager(new Path(dir.toURI),
      spark.sparkContext.hadoopConfiguration)
    val log = new Path(new Path(dir.toURI), "log")
    val p0 = new Path(log, "0")
    def write(p: Path, text: String, overwrite: Boolean,
        via: CheckpointFileManager = fm): Unit = {
      val out = via.createAtomic(p, overwrite)
      out.write(text.getBytes("UTF-8"))
      out.close()
    }
    def read(p: Path): String = {
      val in = fm.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    write(p0, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(p0, "second", overwrite = false))
    assert(read(p0) == "first")
    write(p0, "third", overwrite = true)
    assert(read(p0) == "third")
    // over a file Spark's default manager wrote with its checksum sidecar:
    // the sidecar goes, or the read fails its checksum
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(ConfKey, FileContextManager)
    write(p0, "fourth", overwrite = true, via = CheckpointFileManager.create(log, conf))
    assert(new java.io.File(dir, "log/.0.crc").exists)
    write(p0, "fifth, longer than the fourth", overwrite = true)
    assert(read(p0) == "fifth, longer than the fourth")

    val p1 = new Path(log, "1")
    val out = fm.createAtomic(p1, overwriteIfPossible = false)
    out.write("never published".getBytes("UTF-8"))
    out.cancel()
    assert(!fm.exists(p1))
    val left = fm.list(log).map(_.getPath.getName).filter(n => n == "1" || n.startsWith(".1."))
    assert(left.isEmpty, s"cancel left ${left.mkString(", ")}")
  }

  /** One AvailableNow dedup pass from `landing`, checkpointing to
    * `ckpt`. Each batch overwrites its own directory under `out`, so a
    * re-executed batch runs its plan again (a file sink would skip it as
    * already committed and leave the state store untouched). */
  private def runDedup(s: SparkSession, landing: String, out: String, ckpt: String): Unit = {
    val q = Events.dedupDeliveries(
      Events.readEventStream(s, landing, Map("maxFilesPerTrigger" -> "1")))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch=$id")
      }
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "dedup pass timed out") finally q.stop()
  }

  private def outRows(dir: String): Seq[String] =
    spark.read.parquet(dir).select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .collect().map(_.toString).sorted.toSeq

  private def stateRows(ckpt: String): Seq[String] =
    spark.read.format("statestore").load(ckpt).select($"key", $"partition_id")
      .collect().map(_.toString).sorted.toSeq

  /** `.crc` sidecars of state version 2's deltas, the ones batch 1 wrote. */
  private def deltaCrcs(ckpt: String): Seq[java.io.File] =
    Option(new java.io.File(ckpt, "state/0").listFiles).toSeq.flatten
      .flatMap(p => Option(new java.io.File(p, ".2.delta.crc")).filter(_.exists))

  test("a checkpoint resumes across managers, re-executing a batch over the other manager's state deltas") {
    // no housekeeping batch, so a pass ends at its last data batch: the
    // frontier a crash leaves (StreamRecoverySpec has the full argument)
    def session(manager: String) = isolated(ConfKey -> manager,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    val graftManager = classOf[GraftCheckpointFileManager].getName
    val work = tmpDir("graft_ckpt_resume")
    def p(n: String) = new java.io.File(work, n).getPath

    // single-manager run over all three chunks
    stage(new java.io.File(work, "src_single"), 0, 3)
    runDedup(session(graftManager), p("src_single"), p("out_single"), p("ckpt_single"))
    val single = outRows(p("out_single"))
    assert(single.size == 3 * ChunkRows, s"re-delivery not dropped: ${single.size} rows")
    val singleState = stateRows(p("ckpt_single"))

    for ((first, second) <- Seq(FileContextManager -> graftManager,
        graftManager -> FileContextManager)) {
      val tag = if (first == graftManager) "graft_first" else "default_first"
      val src = new java.io.File(work, s"src_$tag")
      stage(src, 0, 2)
      runDedup(session(first), src.getPath, p(s"out_$tag"), p(s"ckpt_$tag"))
      assert(deltaCrcs(p(s"ckpt_$tag")).isEmpty == (first == graftManager),
        s"$tag: unexpected delta sidecars after the first pass")
      // batch 1 loses its commit marker: the resumed run re-executes it,
      // rewriting state version 2 under the other manager
      val reexec = StreamBench.openCrashWindow(p(s"ckpt_$tag"))
      assert(reexec == 1L, s"$tag: expected to re-execute batch 1, got $reexec")
      stage(src, 2, 3)
      runDedup(session(second), src.getPath, p(s"out_$tag"), p(s"ckpt_$tag"))
      assert(new java.io.File(p(s"ckpt_$tag"), "commits/1").exists,
        s"$tag: batch 1 was not re-executed")
      // the rewritten deltas carry the second manager's sidecars: none
      // from graft's (the default manager's are gone; they would fail the
      // read of any rewrite whose bytes differ), Hadoop's from the default
      assert(deltaCrcs(p(s"ckpt_$tag")).isEmpty == (second == graftManager),
        s"$tag: batch 1's state deltas were not rewritten by the second manager")
      assert(outRows(p(s"out_$tag")) == single, s"$tag: output differs from the single-manager run")
      assert(stateRows(p(s"ckpt_$tag")) == singleState, s"$tag: state differs")
    }
  }
}

object CheckpointFilesSpec {
  val FileContextManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"

  /** Committed by the spec to find its own place in the JFR stream. */
  class Marker extends jdk.jfr.Event
}
