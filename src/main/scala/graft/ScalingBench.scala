package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Scale-curve harness: `runMain graft.ScalingBench <dir1,dir2,...> <q1,q2,...>`
  * times each named SparkEntry query at each data directory and logs,
  * per (query, dir): wall seconds (best of two runs, construction
  * included — iterative operators checkpoint during construction),
  * result rows, and the total shuffle-write record/byte counts across
  * every stage of the run — the honest candidate-mass counter: a
  * pair-generation blowup shows up as superlinear shuffle records
  * long before it shows up as wall time. Queries are consumed through
  * the noop sink so Catalyst cannot prune the measured plan (round 7:
  * count()-consumption let it eliminate q226's whole join subtree).
  *
  * Output: one JSON line per measurement on stdout and appended to
  * `target/scaling.jsonl`.
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val dirs = args(0).split(",").toSeq
    val names = args(1).split(",").toSeq
    val spark = GraftSession.local()

    val shufRecords = new AtomicLong
    val shufBytes = new AtomicLong
    val stages = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          shufRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
        stages.incrementAndGet()
      }
    })
    // listener events are async: wait until the counters go quiet
    def settle(): Unit = {
      var prev = -1L
      var cur = stages.get()
      while (prev != cur) {
        Thread.sleep(150)
        prev = cur; cur = stages.get()
      }
    }

    val out = java.nio.file.Paths.get("target", "scaling.jsonl")
    java.nio.file.Files.createDirectories(out.getParent)

    val all = SparkEntry.queries
    for (dir <- dirs; name <- names) {
      def fn = all.getOrElse(name,
        sys.error(s"unknown query $name; known: ${all.keys.toSeq.sorted.take(5).mkString(",")}..."))
      // consume via the noop sink (not count(): Catalyst prunes
      // row-count-preserving subtrees under count — see Bench.consume)
      def once(): (Double, Long, Long) = {
        spark.catalog.clearCache()
        settle()
        val r0 = shufRecords.get(); val b0 = shufBytes.get()
        val t0 = System.nanoTime()
        Bench.consume(fn(spark, dir))
        val dt = (System.nanoTime() - t0) / 1e9
        settle()
        (dt, shufRecords.get() - r0, shufBytes.get() - b0)
      }
      try {
        val a = once(); val b = once()
        val m = if (a._1 <= b._1) a else b
        // rows counted once, after both shuffle deltas are captured,
        // so the extra pass never contaminates the recorded counters
        val best = (m._1, fn(spark, dir).count(), m._2, m._3)
        val json = s"""{"query":"$name","dir":"${Jsonl.esc(dir)}","sec":${best._1},""" +
          s""""rows":${best._2},"shuffle_records":${best._3},"shuffle_bytes":${best._4}}"""
        println(json)
        java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      } catch {
        case e: Throwable =>
          println(s"""{"query":"$name","dir":"${Jsonl.esc(dir)}","error":"${e.getClass.getSimpleName}"}""")
          e.printStackTrace()
      }
    }
    spark.stop()
  }
}
