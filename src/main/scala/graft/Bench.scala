package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.storage.RDDInfo

/** Driver-run benchmark: one JSON line with per-query seconds over
  * SPARK_GRAFT_SF_DIR. An untimed warmup action per table loads file
  * indexes/footers and JIT-warms the parquet reader so the first timed
  * query doesn't absorb session startup.
  *
  * The timed action is a noop-format write (`format("noop")`): every
  * output row and column is fully materialized through the physical plan
  * and then discarded executor-side. A `count()` would let Catalyst prune
  * all projection work for map-only queries (a fingerprint query would
  * bench as a row-count over the scan), and a `collect()` would add
  * driver transfer that a cluster sink never pays.
  *
  * Each query reports the MEDIAN of SPARK_GRAFT_PASSES (3) timed runs — single-pass
  * timings on a busy box swing enough (~±30% observed round-over-round on
  * unchanged code) to drown real regressions; the total is the sum of the
  * printed 3-decimal medians. Failures are NOT swallowed: a failing query
  * is reported with value -1 and its error message in the `errors` map,
  * and the process exits non-zero.
  *
  * Every run also prints one stderr line, `[bench-bytes] {...}`: per
  * query, the per-pass average shuffle-write and spill bytes and the peak
  * block-store bytes of the timed passes (failed queries left out), with
  * `"complete":false` if the listener bus did not drain. In fork mode
  * each child prints its own.
  */
object Bench {
  /** Shuffle-write and spill bytes of every task, summed per
    * `spark.job.description` of the job that submitted the task's stage
    * (`StageSubmitted` carries that job's properties). Timed passes run
    * under the query's name, warm-ups under `warmup <name>` and rechecks
    * under none, so a query's sums are its timed passes' alone. Read the
    * sums after `drain`. */
  private[graft] final class BytesListener extends SparkListener {
    private val stageDesc = TrieMap.empty[Int, String]
    private val shuffleBytes = TrieMap.empty[String, Long]
    private val spillBytes = TrieMap.empty[String, Long]
    private val sentinel = s"bench-bytes drain ${java.util.UUID.randomUUID()}"
    private var sentinelJob = -1 // written and read on the listener thread only
    private val drained = new CountDownLatch(1)

    private val descKey = "spark.job.description" // SparkContext's own key is private

    private def desc(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(descKey)))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      desc(e.properties).foreach(stageDesc(e.stageInfo.stageId) = _)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (d <- stageDesc.get(e.stageId); m <- Option(e.taskMetrics)) {
        shuffleBytes(d) = shuffle(d) + m.shuffleWriteMetrics.bytesWritten
        spillBytes(d) = spill(d) + m.memoryBytesSpilled + m.diskBytesSpilled
      }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (desc(e.properties).contains(sentinel)) sentinelJob = e.jobId

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == sentinelJob) drained.countDown()

    def shuffle(desc: String): Long = shuffleBytes.getOrElse(desc, 0L)
    def spill(desc: String): Long = spillBytes.getOrElse(desc, 0L)

    /** Runs one sentinel job and waits until this listener sees its end.
      * The listener bus delivers in order, so by then every earlier
      * task's bytes are in the sums. False if the wait timed out. */
    def drain(sc: SparkContext, timeoutSec: Long = 60): Boolean = {
      val prev = sc.getLocalProperty(descKey)
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(prev)
      drained.await(timeoutSec, TimeUnit.SECONDS)
    }
  }

  /** The cached RDDs persisted since `before` (a `getPersistentRDDs` key
    * set) was taken: a pass's own blocks, not an earlier query's
    * checkpoints still waiting for the ContextCleaner. */
  private[graft] def storedSince(sc: SparkContext, before: collection.Set[Int]): Seq[RDDInfo] =
    sc.getRDDStorageInfo.toSeq.filterNot(i => before(i.id))

  private def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** SPARK_GRAFT_FORK=true: per-query FORKED-JVM sweep. Motivation
    * (round 8): an in-JVM 230-query sweep measures sweep-context, not the
    * plan — codegen/broadcast-cache pressure from the preceding ~200
    * compiled plans inflated individual entries 2.5–5× in committed
    * artifacts (q46/q164b), and the GC-settle flag cannot clear it
    * because it isn't heap. Each query here runs in a FRESH child JVM
    * (same classpath/JVM flags/env, SPARK_GRAFT_ONLY=<query>), which is
    * BY CONSTRUCTION the isolated-median methodology the per-query
    * numbers in BASELINE.md were always quoted with — so a fork-mode
    * artifact needs no isolated-re-measurement footnotes, ever. Each
    * child still does its own table + codegen warm-up pass, so JVM cold
    * start stays untimed. Cost: ~10–15 s session startup per query —
    * a sweep takes ~1 h instead of ~3 min; use it for COMMITTED
    * artifacts, not iteration. Requires a real `java -cp` launch (under
    * sbt's layered classloader java.class.path lacks the project
    * classes, so fork mode refuses to start rather than fork broken
    * children). */
  private def forkedSweep(names: Seq[String], sfDir: String): Unit = {
    val cp = System.getProperty("java.class.path")
    require(cp.split(java.io.File.pathSeparator).exists(_.contains("classes")),
      "fork mode needs a direct `java -cp target/scala-2.13/classes:...` launch; " +
        s"current classpath has no project classes: $cp")
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
    // Children inherit THIS JVM's args, so a parent launched without the
    // JDK-17 --add-opens set (spark-submit and build.sbt inject it; a
    // bare `java -cp` launch silently doesn't) would fork a whole sweep
    // of degraded children: Spark's Platform/UTF8String reflective fast
    // paths fall back to copies, costing up to 5× on text/codec-heavy
    // queries (round-11 finding: q230 at sf10 read 321 s without the
    // flags, 66 s with) while arithmetic-heavy plans barely move — a
    // skew that poisons every ratio in the artifact without a single
    // error. Refuse to start rather than measure the wrong JVM. The gate
    // checks EVERY module of the set, not one representative substring:
    // a parent carrying only java.lang (e.g. a hand-typed launch) would
    // pass a one-substring gate while children still degrade on the
    // Unsafe/DirectByteBuffer paths java.nio and sun.nio.ch open up —
    // reproducing exactly the silent skew this guard exists to prevent.
    val requiredOpens = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic",
      "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
      .map(p => s"java.base/$p=ALL-UNNAMED")
    val argsStr = jvmArgs.toString
    val missingOpens = requiredOpens.filterNot(argsStr.contains)
    require(missingOpens.isEmpty,
      "fork mode requires the FULL JDK-17 --add-opens set (see build.sbt " +
        "jdk17AddOpens / tools/run_fork.sh); the parent is missing: " +
        missingOpens.mkString(", ") + " — children inherit this JVM's " +
        "args, and without the full set Spark's Unsafe fast paths degrade " +
        "up to 5× on codec/text-heavy queries and the sweep measures " +
        "the wrong JVM")
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.zipWithIndex.foreach { case (name, i) =>
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin)
      jvmArgs.forEach(a => cmd.add(a))
      cmd.add("-cp"); cmd.add(cp); cmd.add("graft.Bench")
      val pb = new ProcessBuilder(cmd)
      pb.environment.put("SPARK_GRAFT_ONLY", name)
      pb.environment.remove("SPARK_GRAFT_FORK")
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      // stdout → file, so a hung child can't deadlock us on a full pipe
      // and waitFor's timeout stays the only liveness dependency
      val outFile = java.io.File.createTempFile(s"bench-fork-$name-", ".json")
      outFile.deleteOnExit()
      pb.redirectOutput(outFile)
      val t0 = System.nanoTime()
      val proc = pb.start()
      // bound a hung child (a query 10× slower than the slowest known one
      // is a hang, not a measurement) without leaving orphans
      val finished = proc.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) { proc.destroyForcibly(); proc.waitFor() }
      val wall = (System.nanoTime() - t0) / 1e9
      val stdout = new String(
        java.nio.file.Files.readAllBytes(outFile.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      outFile.delete()
      // Scan ALL stdout lines for the summary (not lastOption): a log4j
      // console appender or a shutdown message printed AFTER the child's
      // summary println would otherwise mark a green query FAILED.
      val timeRe = ("\"" + java.util.regex.Pattern.quote(name) + "\":(-?[0-9.Ee+-]+)").r
      val lines = stdout.linesIterator.toSeq
      val line = lines.findLast(l =>
        l.contains("\"metric\":\"total\"") && timeRe.findFirstIn(l).isDefined)
        .orElse(lines.lastOption).getOrElse("")
      val time = timeRe.findFirstMatchIn(line).map(_.group(1).toDouble)
      time match {
        case Some(t) if t >= 0 && finished && proc.exitValue == 0 =>
          out(name) = t
          System.err.println(
            f"[bench-fork] ${i + 1}/${names.size} $name: $t%.3f s (child wall $wall%.0f s)")
        case _ =>
          val why =
            if (!finished) "child timed out after 30 min"
            else s"child exit ${proc.exitValue}, last line: ${line.take(160)}"
          errors(name) = why
          out(name) = -1.0
          System.err.println(s"[bench-fork] ${i + 1}/${names.size} $name FAILED: $why")
      }
    }
    println(summaryLine(out.toSeq, errors, Map.empty, sfDir, forked = true))
    if (errors.nonEmpty) sys.exit(1)
  }

  /** Per-query seconds at 3 decimals in the one-line JSON (round-13
    * verdict item 2): full-precision doubles made the 234-entry summary
    * line long enough that the driver's tail capture truncated it
    * (BENCH_r12's `parsed: null`), losing the round-over-round record.
    * 1 ms resolution is below the box's noise floor by two orders of
    * magnitude. Locale-pinned so a non-POSIX JVM can't emit decimal
    * commas. Failed queries stay exactly "-1". */
  private def sec3(v: Double): String =
    if (v < 0) "-1"
    else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** The summary total: the exact sum of the printed per-query values
    * (failed queries excluded), so the JSON agrees with itself. */
  private[graft] def total3(vs: Iterable[Double]): String =
    sec3(vs.filter(_ >= 0).map(v => BigDecimal(sec3(v))).sum.toDouble)

  /** The one-line stdout summary of a sweep, in-JVM or forked: the
    * total, per-query seconds (failed queries -1), failure messages, the
    * outlier rechecks when there are any, and the scale factor. */
  private[graft] def summaryLine(results: Seq[(String, Double)],
      errors: collection.Map[String, String], rechecks: collection.Map[String, (Double, Double)],
      sfDir: String, forked: Boolean): String = {
    // \p{Cntrl} (not just \n\r\t): ANY control character in an exception
    // message would otherwise break the one-line JSON contract
    def jstr(s: String) = "\"" + s.replaceAll("[\"\\\\\\p{Cntrl}]", " ") + "\""
    def obj(kvs: Iterable[String]) = kvs.mkString("{", ",", "}")
    val mode = if (forked) ""","mode":"forked"""" else ""
    val qs = obj(results.map { case (k, v) => "\"" + k + "\":" + sec3(v) })
    val errJson = obj(errors.map { case (k, v) => jstr(k) + ":" + jstr(v) })
    val recheckJson = if (rechecks.isEmpty) "" else ",\"rechecks\":" + obj(rechecks.map {
      case (k, (a, b)) => "\"" + k + "\":{\"in_sweep\":" + sec3(a) + ",\"recheck\":" + sec3(b) + "}"
    })
    s"""{"metric":"total","value":${total3(results.map(_._2))},"unit":"sec"$mode,""" +
      s""""queries":$qs,"errors":$errJson$recheckJson,"sf":"$sfDir"}"""
  }

  /** Parse a fork-mode reference artifact's `queries` map, keeping only
    * entries at the sweep's own scale factor. Whitespace-tolerant on
    * purpose (round-13 verdict item 1): the newest committed reference
    * may be Python-serialized (`"queries": {` / `"name": 1.23`), and the
    * round-13 compact-token parser silently matched nothing against it,
    * leaving the >2.5× outlier recheck dead while three contention
    * phantoms (q226 6.67 s / q107 4.79 s / q106 2.28 s — all sub-second
    * isolated) stood in the committed driver artifact. Exposed for
    * BenchForkRefSpec, which pins both serializations. */
  private[graft] def parseForkRef(txt: String, sfDir: String): Map[String, Double] = {
    // the reference binds only at its own scale factor (an sf1 sweep
    // must not recheck against sf0.1 numbers)
    val sfOk = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
      .exists(m => new java.io.File(m.group(1)).getName ==
        new java.io.File(sfDir).getName)
    val body = "\"queries\"\\s*:\\s*\\{".r.findFirstMatchIn(txt) match {
      case None    => ""
      case Some(m) => txt.substring(m.end, txt.indexOf('}', m.end))
    }
    if (!sfOk) Map.empty[String, Double]
    else "\"([^\"]+)\"\\s*:\\s*(-?[0-9.Ee+]+)".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter(_._2 > 0).toMap
  }

  def main(args: Array[String]): Unit = {
    val cfg = RunConfig.fromEnv()
    val sfDir = cfg.sfDir
    // SPARK_GRAFT_SKIP exists for scale sweeps — e.g. q153 at sf3, whose
    // Θ(output) growth on the degenerate fixture vocab is already
    // documented (BASELINE.md) and would add hours without information.
    // Exclusions MUST be named in the committed artifact's write-up.
    val selected = cfg.selected
    if (cfg.fork) {
      forkedSweep(selected.keys.toSeq.sorted, sfDir)
      return
    }
    // Codegen class cache sized to the catalog (round-13). The default
    // 100-entry cache can't hold 234 distinct plans' codegen units, so a
    // full sweep recompiled EVERY whole-stage source on EVERY timed pass
    // (Janino time, not plan time): the top-40 subset measured 59.9 s at
    // the default vs 45.0 s at 5000 entries, and a 1-entry control ran
    // >8 min — the conf is live and the effect is compilation, not noise.
    // Not a local[32] trick: any long-lived driver cycling a catalog of
    // plans (scheduled batches, a query service) hits the same cliff;
    // 5000 entries bounds metaspace at a few hundred MB worst-case.
    // Passed BEFORE SPARK_GRAFT_CONF, so a sizing probe can override it
    // like any other conf: the round-12 q61 spill probe found that under
    // AQE the knob that sizes reduce partitions is
    // spark.sql.adaptive.advisoryPartitionSizeInBytes, not the shuffle
    // partition count, so probes set confs by name, not via a knob each.
    val spark = GraftSession.local(cfg.cpus,
      ("spark.sql.codegen.cache.maxEntries" -> "5000") +: cfg.conf: _*)
    // The driver fixtures are one parquet file per table (one input
    // partition): let map-heavy queries (q20/q21/q46) spread the scan.
    // Default-off everywhere else so the production plan stays shuffle-free.
    // SPARK_GRAFT_SINGLE_FILE=false for multi-row-group fixtures (the sf1
    // scale probe), where the scan parallelizes natively and the spread
    // would inject a shuffle the production plan doesn't have.
    spark.conf.set("graft.bench.singleFileFixture", cfg.singleFile.toString)
    val sc = spark.sparkContext
    // Table warm-up is guarded per table: round 5 lost the ENTIRE bench
    // (rc=1, zero timings) to one unguarded count when a fixture's physical
    // schema drifted. A broken table must degrade to per-query errors in
    // the report below, never kill the process before a single timing.
    val tableWarmups: Seq[(String, () => Long)] =
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").map { t =>
        t -> (() => graft.sources.Tables.table(spark, sfDir, t).count())
      } :+ ("events" -> (() => graft.sources.Tables.events(spark, sfDir).count()))
    tableWarmups.foreach { case (t, load) =>
      try load() catch {
        // NonFatal only: an OOM/LinkageError means the JVM is corrupted —
        // continuing would report misleading per-query failures.
        case scala.util.control.NonFatal(ex) =>
          System.err.println(s"[bench] table warm-up failed for $t: ${ex.getMessage}")
      }
    }
    // untimed warm-up pass: whole-stage codegen compiles per query plan the
    // first time; the timed pass below measures steady-state execution
    selected.foreach { case (name, fn) =>
      try {
        sc.setJobDescription(s"warmup $name")
        materialize(fn(spark, sfDir))
      } catch {
        case scala.util.control.NonFatal(t) =>
          System.err.println(s"[bench] warm-up failed for $name: ${t.getMessage}")
      } finally sc.setJobDescription(null)
    }

    // SPARK_GRAFT_GC_SETTLE=true: full GC + settle pause before each
    // timed pass, so a committed sweep artifact doesn't carry the
    // previous query's collection debt (sf1 sweeps showed isolated-run
    // 0.9 s queries reporting 7 s purely from inherited heap pressure).
    // Off by default — the per-round sf0.1 driver bench favors wall
    // speed and its queries are small enough not to interact.
    def settle(): Unit = if (cfg.gcSettle) { System.gc(); Thread.sleep(300) }

    // Shuffle-write, spill and storage bytes on every run (stderr
    // `[bench-bytes]` record, below). Exchange COUNTS are frozen by
    // ShuffleBudget; bytes are the scale signal counts can't give —
    // comparing sf0.1 vs sf1 records shows whether data MOVEMENT grows
    // linearly or an operator hides a quadratic shuffle behind an
    // unchanged plan shape, and whether the localCheckpoint'ed
    // intermediates' executor-local storage stays affordable.
    val bytes = new BytesListener
    sc.addSparkListener(bytes)
    val storageBytes = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val passesRun = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to cfg.passes).flatMap { _ =>
        if (errors.contains(name)) None // first failure wins, skip reruns
        else {
          settle()
          val persisted = sc.getPersistentRDDs.keySet
          // guide §1.5: label the timed jobs so the UI/event log maps
          // stages back to queries (thread-local; cost-free when UI off);
          // the label is also what BytesListener sums the pass's bytes by
          sc.setJobDescription(name)
          val t0 = System.nanoTime()
          try {
            materialize(fn(spark, sfDir))
            val elapsed = (System.nanoTime() - t0) / 1e9
            passesRun(name) = passesRun.getOrElse(name, 0) + 1
            // the block-manager query stays outside the timed window
            val stored = storedSince(sc, persisted).map(i => i.memSize + i.diskSize).sum
            storageBytes(name) = math.max(storageBytes.getOrElse(name, 0L), stored)
            Some(elapsed)
          } catch {
            case scala.util.control.NonFatal(t) =>
              System.err.println(s"[bench] FAILED $name: ${t.getMessage}")
              errors(name) = Option(t.getMessage).getOrElse(t.getClass.getName).take(200)
              None
          } finally sc.setJobDescription(null)
        }
      }
      if (errors.contains(name)) name -> -1.0
      else name -> times.sorted.apply(times.size / 2) // median of the passes
    }
    val complete = bytes.drain(sc)
    // ------------------------------------------------------------------
    // Self-correcting outlier recheck (round 10): an in-JVM sweep can
    // carry end-of-sweep context stalls — round 9's driver artifact
    // showed q91/q92 at 14–20× their committed fork-mode values on
    // identical code. Queries whose in-sweep time exceeds 2.5× their
    // entry in the committed fork-mode reference artifact (the newest
    // BENCH_r*_full.json, each entry an isolated-JVM median by
    // construction) are re-timed in THIS process after clearCache() + a
    // GC settle; the summary's `queries` map carries the recheck (the
    // honest isolated-median number) and `rechecks` records both, so a
    // phantom regression is self-labeling instead of contradicting the
    // committed record. A real regression rechecks high and stays high.
    // Scoped to full sweeps (no SPARK_GRAFT_ONLY, two or more passes) at
    // the reference's own SF.
    // ------------------------------------------------------------------
    val rechecks = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val recheckOn = cfg.only.isEmpty && cfg.passes >= 2
    lazy val forkRef: Map[String, Double] = {
      val cwd = new java.io.File(".")
      val refFile = Option(cwd.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.matches("BENCH_r\\d+_full\\.json"))
        // numeric round order, not lexicographic ("r100" sorts before
        // "r99" as a string)
        .sortBy(f => "\\d+".r.findFirstIn(f.getName).get.toInt).lastOption
      refFile.map { f =>
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
        parseForkRef(txt, sfDir)
      }.getOrElse(Map.empty)
    }
    val finalResults =
      if (!recheckOn || forkRef.isEmpty) results
      else results.map { case (name, t) =>
        forkRef.get(name) match {
          case Some(ref) if t >= 0 && t > 2.5 * ref =>
            spark.catalog.clearCache()
            System.gc(); Thread.sleep(300)
            val fn = selected(name)
            val again = (1 to cfg.passes).flatMap { _ =>
              val t0 = System.nanoTime()
              try { materialize(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
              catch { case scala.util.control.NonFatal(_) => None }
            }
            if (again.isEmpty) name -> t
            else {
              val re = again.sorted.apply(again.size / 2)
              System.err.println(
                f"[bench-recheck] $name: in-sweep $t%.3f s vs fork-ref $ref%.3f s → recheck $re%.3f s")
              rechecks(name) = (t, re)
              name -> re
            }
          case _ => name -> t
        }
      }
    // Per-pass averages over the successful timed passes; a failed query
    // records no bytes (its partial pass would skew the average). The
    // maps stay off the stdout summary: its consumers read the line's
    // tail, and a longer line has been truncated before (see `sec3`).
    val ok = passesRun.keys.filterNot(errors.contains).toSeq
    def m(f: String => Long) = ok.map(k => "\"" + k + "\":" + f(k)).mkString("{", ",", "}")
    System.err.println(s"""[bench-bytes] {"shuffle_bytes":${m(k => bytes.shuffle(k) / passesRun(k))},""" +
      s""""spill_bytes":${m(k => bytes.spill(k) / passesRun(k))},"storage_bytes":${m(storageBytes)},""" +
      s""""complete":$complete,"sf":"$sfDir"}""")
    println(summaryLine(finalResults, errors, rechecks, sfDir, forked = false))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
