package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** Bench's `[bench-bytes]` record: `Bench.BytesListener` sums task bytes
  * by the description of the job that ran them, and `Bench.storedSince`
  * counts only the RDDs a pass persisted. Suites share the session and
  * run in parallel, so every label here is unique to one run and the
  * reference listener counts by job group, not by description. */
class BenchBytesSpec extends SparkSpec with Eventually {

  /** Reference: shuffle-write bytes per job group, over the stages each
    * group's jobs list at `JobStart`. */
  private class GroupBytes extends SparkListener {
    private val stageGroup = TrieMap.empty[Int, String]
    val bytes = TrieMap.empty[String, Long]
    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => j.stageIds.foreach(stageGroup.putIfAbsent(_, g)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics))
        bytes(g) = bytes.getOrElse(g, 0L) + m.shuffleWriteMetrics.bytesWritten
  }

  test("shuffle bytes land on the description of the job that ran them; undescribed and warm-up jobs land in no query") {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString.take(8)
    val bytes = new Bench.BytesListener
    val ref = new GroupBytes
    sc.addSparkListener(bytes)
    sc.addSparkListener(ref)
    // one shuffling query per job group; row counts differ so that bytes
    // landing on the wrong label change the sums
    def run(group: String, desc: String, rows: Long): Unit = {
      sc.setJobGroup(s"$id-$group", desc)
      try spark.range(0, rows, 1, 4).groupBy(col("id") % 97).count()
        .write.format("noop").mode("overwrite").save()
      finally sc.clearJobGroup()
    }
    try {
      run("a", s"qa-$id", 20000)
      run("u", null, 30000)
      run("w", s"warmup qb-$id", 40000)
      run("b", s"qb-$id", 50000)
      assert(bytes.drain(sc), "the sentinel job's end never reached the listener")
      def r(g: String) = ref.bytes.getOrElse(s"$id-$g", 0L)
      assert(Seq("a", "u", "w", "b").forall(r(_) > 0), ref.bytes)
      assert(bytes.shuffle(s"qa-$id") == r("a"))
      assert(bytes.shuffle(s"qb-$id") == r("b"))
      assert(bytes.shuffle(s"warmup qb-$id") == r("w"))
    } finally {
      sc.removeSparkListener(bytes)
      sc.removeSparkListener(ref)
    }
  }

  test("the drain waits on its sentinel job, and reports false when the listener never sees it") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    assert(!new Bench.BytesListener().drain(sc, timeoutSec = 1),
      "an unregistered listener cannot see the sentinel")
    assert((System.nanoTime() - t0) / 1e9 >= 1.0)
  }

  test("storage counts only the RDDs a pass persisted, not a previous query's localCheckpoint") {
    val sc = spark.sparkContext
    val previous = sc.parallelize(1 to 50000, 4).map(_.toLong).localCheckpoint()
    previous.count()
    val before = sc.getPersistentRDDs.keySet
    val pass = sc.parallelize(1 to 50000, 4).map(_.toString).localCheckpoint()
    pass.count()
    // getRDDStorageInfo reads the status store, which the listener bus
    // fills asynchronously
    eventually(timeout(Span(30, Seconds))) {
      assert(sc.getRDDStorageInfo.exists(_.id == previous.id),
        "the previous query's blocks are still stored")
      val stored = Bench.storedSince(sc, before)
      assert(stored.exists(i => i.id == pass.id && i.memSize + i.diskSize > 0))
      assert(!stored.exists(_.id == previous.id))
    }
  }
}
