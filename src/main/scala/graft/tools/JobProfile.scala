package graft.tools

import graft.{Bench, GraftExtensions, GraftSession}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round receipt tool: run one board query end-to-end
  * through [[graft.Bench.action]] (after one untimed warm-up,
  * Bench-style) and report how many driver JOBS and tasks its timed
  * execution launched, plus wall time. The serialized-job count is
  * the per-serve fixed cost the incremental-family work targets
  * (VERDICT r17 #1a: "count jobs before/after").
  *
  * Usage: runMain graft.tools.JobProfile <sfDir> <q1,q2,...>
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args.take(2)
    val spark = GraftSession.local(GraftSession.cpus)
      .withExtensions(new GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    val verbose = sys.env.get("JOBPROFILE_VERBOSE").contains("1")
    val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) {
          val d = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(j.properties).flatMap(p =>
              Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          starts.put(j.jobId, (System.nanoTime(), d))
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (verbose) Option(starts.remove(j.jobId)).foreach {
          case (t0, d) =>
            val ms = (System.nanoTime() - t0) / 1e6
            println(f"[job] ${j.jobId}%4d ${ms}%8.1f ms  $d")
        }
    }
    names.split(",").foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      Bench.action(fn(spark, sfDir)) // warm-up: JIT + memoized index builds
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(true))
      System.gc()
      jobs.set(0); tasks.set(0L)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      Bench.action(fn(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      // listener bus is async (and its drain API is private[spark]):
      // a short settle keeps the counters complete for a receipt tool
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      println(f"[jobprofile] $name%-36s jobs=${jobs.get}%3d " +
        f"tasks=${tasks.get}%5d sec=$sec%7.3f")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(true))
      System.gc()
    }
    spark.stop()
  }
}
