package graft

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev probe (Test/runMain graft.JobFloorProbe <q1,q2,...> [sfDir] [cpus]):
  * counts Spark jobs, stages, tasks and summed task run time — for
  * each named query, one warm-up run then one measured run under the SAME
  * session shape as graft.Bench (local[cpus], shuffle.partitions=cpus),
  * reporting wall seconds plus the load-independent structural counters
  * (jobs, stages, tasks, summed task time). Per-stage scheduler floor is
  * what dominates the sf0.1 suite (ANALYSIS_r12/r13), so `stages` is the
  * number to move; `task_sec` is the real work. Timed action = noop write
  * (guide §1.4 — computes every column; the bench's count() can prune). */
object JobFloorProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobFloorProbe <q1,q2,...> [sfDir] [cpus]")
    val qs = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else "32"
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tables.configure(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
      }
    }
    def run(q: String): Unit =
      SparkEntry.queries(q)(spark, sf).write.mode("overwrite")
        .format("noop").save()
    qs.foreach { q =>
      run(q) // warm (JIT, memos, schema) — not counted
      org.apache.spark.graftbench.ListenerFlush.drain(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      run(q)
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftbench.ListenerFlush.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      println(f"JOBPROBE query=$q jobs=${jobs.get} stages=${stages.get} " +
        f"tasks=${tasks.get} task_sec=${taskMs.get / 1e3}%.1f wall=$wall%.2f")
    }
    spark.stop()
  }
}
