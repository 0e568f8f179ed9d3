package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev profiler for the streaming/lifecycle harness queries (guide §7.1
  * applied headless): runs named SparkEntry queries and prints, per rep,
  * the wall clock split into (a) Spark job time vs driver gaps (job
  * listener) and (b) per-microbatch durationMs maps (streaming progress:
  * addBatch / getBatch / queryPlanning / walCommit / commitOffsets /
  * triggerExecution) plus the stream start→first-batch and
  * last-batch→stop latencies. Not part of the library API. */
object ProfileStream {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = sys.env.get("PROFILE_REPS").map(_.toInt).getOrElse(2)
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q161_stream_funnel_evict")
    val spark = graft.Sessions.local()
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def now(): Double = System.nanoTime() / 1e9
    var t0 = now()
    def stamp(s: String): Unit = events.add(f"${now() - t0}%8.3f  $s")
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        stamp(s"stream STARTED ${e.id}")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        stamp(s"batch ${p.batchId} rows=${p.numInputRows} " +
          s"durations=${p.durationMs}")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        stamp(s"stream TERMINATED")
    })
    val jobAcc = new java.util.concurrent.atomic.AtomicLong
    val jobStarts =
      new java.util.concurrent.ConcurrentHashMap[Int, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStarts.put(e.jobId, e.time)
        stamp(s"job ${e.jobId} start " +
          Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val dt = e.time - Option(jobStarts.get(e.jobId)).getOrElse(e.time)
        jobAcc.addAndGet(dt)
        stamp(s"job ${e.jobId} end (+${dt}ms)")
      }
    })
    for (name <- names; rep <- 0 until reps) {
      events.clear(); jobAcc.set(0); t0 = now()
      val w0 = now()
      val n = graft.SparkEntry.queries(name)(spark, dir).count()
      val wall = now() - w0
      // drain listener bus so late events land before we print
      Thread.sleep(300)
      println(s"\n===== $name rep $rep: wall=" +
        f"$wall%.2f s, job time=${jobAcc.get() / 1000.0}%.2f s, rows=$n")
      events.forEach(e => println("  " + e))
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
