package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.Internals
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       [--work <dir>] [--out <dir>]`.
  * Prints one JSON record as the last stdout line and exits non-zero when
  * any op failed or returned a wrong answer. */
object Main {
  /** Fixed by the benchmark and echoed in the detail record. */
  val Cores = 4
  val ShufflePartitions = 4
  /** Setup repetitions whose median is `setup_s`. */
  val SetupReps = 3

  /** `scale` shrinks the inputs; only the benchmark's own tests change it. */
  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String = ".bench_build/work",
      out: String = ".bench_build/out", scale: Double = 1.0)

  def parse(args: Array[String]): Either[String, Opts] = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    for {
      w <- kv.get("workload").filter(Workloads.byName(_).isDefined)
        .toRight(s"--workload must be one of ${Workloads.all.map(_.name).mkString(", ")}")
      seed <- kv.get("seed").flatMap(_.toLongOption).toRight("--seed <integer> is required")
      secs <- kv.get("seconds").flatMap(_.toIntOption).filter(_ > 0)
        .toRight("--seconds <positive integer> is required")
      tr <- kv.get("trace").filter(Set("0", "1")).toRight("--trace must be 0 or 1")
    } yield Opts(w, seed, secs, tr == "1",
      kv.getOrElse("work", ".bench_build/work"),
      kv.getOrElse("out", ".bench_build/out"))
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder().master(s"local[$Cores]").appName("graftbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // Spark's status history would otherwise grow with the run and blur
      // retained_mb, which is meant to show what the engine keeps alive
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = parse(args) match {
    case Left(err) =>
      System.err.println(s"graftbench: $err")
      sys.exit(2)
    case Right(o) =>
      val runDir = Files.createTempDirectory(
        Files.createDirectories(Paths.get(o.work)), s"${o.workload}-")
      val code = try {
        val t0 = System.nanoTime()
        val spark = session(runDir)
        val sessionS = (System.nanoTime() - t0) / 1e9
        try {
          val r = Bench.run(spark, Workloads.byName(o.workload).get, o, runDir, sessionS)
          System.err.println(r.detail)
          val out = new File(o.out, s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json")
          out.getParentFile.mkdirs()
          Files.writeString(out.toPath, r.detail.toString)
          println(r.record)
          if (r.failed == 0) 0 else 1
        } finally spark.stop()
      } catch {
        case e: Throwable =>
          System.err.println(s"graftbench: run aborted: $e")
          e.printStackTrace()
          3
      } finally Bench.deleteTree(runDir)
      sys.exit(code)
  }
}

/** One run: setup (repeated), an untimed warm-up round, then the measured
  * rounds — whole rounds until `--seconds` have passed and at least the
  * workload's `rounds`, or, traced, `rounds` untraced followed by `rounds`
  * traced. */
object Bench {
  /** One op: wall time, CPU time of the whole JVM and of the calling
    * thread, and the two phases. */
  final case class Sample(kind: String, ns: Long, cpuNs: Long,
      clientCpuNs: Long, compileNs: Long, execNs: Long, ok: Boolean)
  final case class Result(record: Json.Raw, detail: Json.Raw,
      attempted: Long, failed: Long, metrics: Seq[(String, Double, String)])

  /** The percentiles a tail may be reported at, highest first. */
  private val TailPcts = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  def run(spark: SparkSession, wl: Workload, o: Main.Opts, runDir: Path,
      sessionS: Double): Result = {
    var tracer: Option[Tracer] = None
    var attempted = 0L
    var failed = 0L
    var inst: Instance = null
    val reps = if (o.trace) 1 else Main.SetupReps
    try {
      val (repS, repCpuS) = (0 until reps).map { i =>
        if (inst != null) { inst.close(); deleteTree(runDir.resolve(s"setup${i - 1}")) }
        val c0 = threadCpu()
        val t0 = System.nanoTime()
        inst = wl.setup(spark, runDir.resolve(s"setup$i"), o.seed, o.scale, () => tracer)
        val s = (System.nanoTime() - t0) / 1e9
        val cpu = cpuSince(c0) / 1e9
        System.err.println(f"graftbench: setup $i took $s%.2f s, $cpu%.2f CPU s")
        (s, cpu)
      }.unzip
      def round(r: Int): Seq[Sample] = inst.round(r).map { op =>
        val span = tracer.map(_.openOp(op.kind)).getOrElse(0L)
        val ph = new Phases(tracer, span)
        val c0 = threadCpu()
        val tc0 = threads.getCurrentThreadCpuTime
        val t0 = System.nanoTime()
        val got = Try(op.run(ph))
        val ns = System.nanoTime() - t0
        val clientCpuNs = threads.getCurrentThreadCpuTime - tc0
        val cpuNs = cpuSince(c0)
        tracer.foreach(_.close(span))
        val want = Try(op.expected())
        val ok = (got, want) match {
          case (Success(a), Success(b)) if a == b => true
          case (Success(a), Success(b)) =>
            System.err.println(s"graftbench: ${op.kind} round $r: got $a, expected $b"); false
          case (Failure(e), _) =>
            System.err.println(s"graftbench: ${op.kind} round $r failed: $e")
            e.getStackTrace.take(6).foreach(f => System.err.println(s"  at $f")); false
          case (_, Failure(e)) =>
            System.err.println(s"graftbench: ${op.kind} round $r: no expected answer: $e"); false
        }
        System.err.println(f"graftbench: round $r ${op.kind} ${ns / 1e6}%.1f ms, " +
          f"CPU ${cpuNs / 1e6}%.1f ms ${if (ok) "ok" else "FAILED"}")
        attempted += 1
        if (!ok) failed += 1
        Sample(op.kind, ns, cpuNs, clientCpuNs, ph.compileNs, ph.execNs, ok)
      }
      val tw = System.nanoTime()
      round(0)
      val warmS = (System.nanoTime() - tw) / 1e9
      val retained = mutable.ArrayBuffer.empty[Double]
      def timedRounds(from: Int, n: Int, until: Option[Long]): (Seq[Sample], Int) = {
        val out = mutable.ArrayBuffer.empty[Sample]
        var r = from
        while (r < from + n || until.exists(System.nanoTime() < _)) {
          out ++= round(r)
          retained += retainedMb()
          r += 1
        }
        (out.toSeq, r)
      }
      val listenersAtStart = Internals.registeredCount(spark,
        _.getClass.getName.startsWith(classOf[Tracer].getName))
      val common = Seq("workload" -> wl.name, "seed" -> o.seed,
        "seconds" -> o.seconds, "trace" -> o.trace, "scale" -> o.scale,
        "config" -> Json.obj(Seq("cores" -> Main.Cores,
          "shuffle_partitions" -> Main.ShufflePartitions,
          "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)),
        "sizes" -> inst.sizes,
        "setup" -> Json.obj(Seq("session_s" -> sessionS, "reps_s" -> repS, "reps_cpu_s" -> repCpuS,
          "warmup_s" -> warmS)))
      if (!o.trace) {
        val (ss, rounds) = timedRounds(1, wl.rounds,
          Some(System.nanoTime() + o.seconds * 1000000000L))
        val lat = ss.map(_.ns / 1e6).sorted
        val (tailPct, tail, beyond) = tailOf(lat)
        val metrics = Seq(
          ("setup_s", median(repCpuS.sorted), "s"),
          ("cpu_ms_per_op", ss.map(_.cpuNs).sum / 1e6 / ss.size, "ms"),
          ("client_cpu_ms_per_op", ss.map(_.clientCpuNs).sum / 1e6 / ss.size, "ms"),
          ("retained_mb", retained.max, "MB"))
        result(attempted, failed, metrics, common ++ Seq(
          "rounds" -> (rounds - 1), "ops" -> ss.size,
          "failed_frac" -> failed.toDouble / attempted,
          "ops_per_s" -> ss.size / (ss.map(_.ns).sum / 1e9),
          "op_p50_ms" -> pct(lat, 50.0),
          "op_tail_ms" -> Json.obj(Seq("value" -> tail, "percentile" -> tailPct,
            "samples" -> lat.size, "beyond" -> beyond)),
          "benchmark_listeners_registered" -> listenersAtStart,
          "per_op_p50_ms" -> perKindP50(ss)))
      } else {
        val n = wl.rounds
        val (plain, next) = timedRounds(1, n, None)
        val tr = new Tracer(spark, Main.Cores, inst.indexRoot)
        tr.register()
        tracer = Some(tr)
        val wall0 = System.currentTimeMillis()
        val traced = try timedRounds(next, n, None)._1 finally {
          tracer = None
          tr.unregister()
        }
        val wallMs = (System.currentTimeMillis() - wall0).toDouble
        val metrics = layerMetrics(tr, traced, inst, wallMs,
          traced.map(_.cpuNs).sum.toDouble / plain.map(_.cpuNs).sum - 1.0)
        tr.writeSpans(new File(o.out, s"trace-${wl.name}-seed${o.seed}.json"), metrics)
        result(attempted, failed, metrics, common ++ Seq(
          "rounds" -> 2 * n, "ops" -> traced.size,
          "failed_frac" -> failed.toDouble / attempted))
      }
    } finally if (inst != null) inst.close()
  }

  private def result(attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)], detail: Seq[(String, Any)]): Result = {
    val m = Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> v, "unit" -> u)) })
    val record = Json.obj(Seq("correct" -> (failed == 0L),
      "attempted" -> attempted, "failed" -> failed, "metrics" -> m))
    Result(record, Json.obj(detail :+ ("metrics" -> m)), attempted, failed, metrics)
  }

  /** Per-layer metrics of the traced rounds. Every workload reports every
    * name; a layer a workload does not reach reads 0. */
  def layerMetrics(tr: Tracer, ss: Seq[Sample], inst: Instance,
      wallMs: Double, overhead: Double): Seq[(String, Double, String)] = {
    val c = tr.counts
    val ing = inst.ingestStats
    def g(k: String) = c.getOrElse(k, 0.0)
    val (served, aggProbes) = tr.manifestServed(IndexIngest.AggregateKinds)
    val levels = g("fix.levels")
    val batches = ing.map(_.batchNs.map(_ / 1e6).sorted).getOrElse(Vector.empty)
    Seq(
      ("flatten.triples", g("flatten.triples"), "count"),
      ("scan.files", g("scan.files"), "count"),
      ("scan.bytes", g("scan.bytes"), "B"),
      ("scan.rows", g("scan.rows"), "count"),
      ("compile_ms", ss.map(_.compileNs).sum / 1e6, "ms"),
      ("exec_ms", ss.map(_.execNs).sum / 1e6, "ms")) ++
    Workloads.allOpKinds.map { k =>
      (s"op.$k.p50_ms", pct(ss.filter(_.kind == k).map(_.ns / 1e6).sorted, 50.0), "ms")
    } ++ Seq(
      ("plan.analysis_ms", g("plan.analysis_ms"), "ms"),
      ("plan.optimizer_ms", g("plan.optimizer_ms"), "ms"),
      ("plan.physical_ms", g("plan.physical_ms"), "ms"),
      ("plan.executions", g("plan.executions"), "count"),
      ("exec.jobs", g("exec.jobs"), "count"),
      ("exec.tasks", g("exec.tasks"), "count"),
      ("exec.task_run_ms", g("exec.task_run_ms"), "ms"),
      ("exec.task_cpu_ms", g("exec.task_cpu_ms"), "ms"),
      ("exec.gc_ms", g("exec.gc_ms"), "ms"),
      ("exec.shuffle_write_bytes", g("exec.shuffle_write_bytes"), "B"),
      ("exec.shuffle_read_bytes", g("exec.shuffle_read_bytes"), "B"),
      ("exec.spill_bytes", g("exec.spill_bytes"), "B"),
      ("exec.sched_wait_ms", g("exec.sched_wait_ms"), "ms"),
      ("exec.core_busy", tr.coreBusy(wallMs), "ratio"),
      ("pin.jobs", g("pin.jobs"), "count"),
      ("pin.bytes", g("pin.bytes"), "B"),
      ("pin.peak_storage_mb", g("pin.peak_storage_mb"), "MB"),
      ("fix.levels", levels, "count"),
      ("fix.jobs_per_level", if (levels > 0) tr.fixJobs / levels else 0.0, "ratio"),
      ("fix.rows", g("fix.rows"), "count"),
      ("vidx.append_ms", ing.map(_.appendNs / 1e6).getOrElse(0.0), "ms"),
      ("vidx.compact_ms", ing.map(_.compactNs / 1e6).getOrElse(0.0), "ms"),
      ("vidx.compactions", ing.map(_.compactions.toDouble).getOrElse(0.0), "count"),
      ("vidx.bytes_written", ing.map(_.indexBytesWritten.toDouble).getOrElse(0.0), "B"),
      ("vidx.frag_max", ing.map(_.fragMax).getOrElse(0.0), "ratio"),
      ("vidx.buckets_read", g("vidx.buckets_read"), "count"),
      ("vidx.buckets_total", g("vidx.buckets_total"), "count"),
      ("vidx.prune_ratio", if (g("vidx.buckets_total") > 0)
        g("vidx.buckets_read") / g("vidx.buckets_total") else 0.0, "ratio"),
      ("vidx.manifest_served", if (aggProbes > 0) served.toDouble / aggProbes
        else 0.0, "ratio"),
      ("stream.batches", g("stream.batches"), "count"),
      ("stream.addBatch_ms", g("stream.addBatch_ms"), "ms"),
      ("stream.walCommit_ms", g("stream.walCommit_ms"), "ms"),
      ("stream.queryPlanning_ms", g("stream.queryPlanning_ms"), "ms"),
      ("stream.latestOffset_ms", g("stream.latestOffset_ms"), "ms"),
      ("stream.trigger_ms", g("stream.trigger_ms"), "ms"),
      ("ingest.rows_per_s", ing.filter(_.ingestNs > 0)
        .map(i => i.rowsIngested / (i.ingestNs / 1e9)).getOrElse(0.0), "1/s"),
      ("ingest.batch_p50_ms", pct(batches, 50.0), "ms"),
      ("ingest.batch_tail_ms", tailOf(batches)._2, "ms"),
      ("ingest.write_amp", ing.filter(_.batchInputBytes > 0)
        .map(i => i.indexBytesWritten.toDouble / i.batchInputBytes).getOrElse(0.0), "ratio"),
      ("ingest.space_amp", ing.filter(_.inputBytes > 0)
        .map(i => i.liveIndexBytes.toDouble / i.inputBytes).getOrElse(0.0), "ratio"),
      ("trace_overhead_frac", overhead, "ratio"))
  }

  private def perKindP50(ss: Seq[Sample]): Map[String, Double] =
    ss.groupBy(_.kind).map { case (k, v) => k -> pct(v.map(_.ns / 1e6).sorted, 50.0) }

  /** Nearest-rank percentile of sorted values (0 when empty). */
  def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1,
      math.max(0, math.ceil(p / 100.0 * sorted.size).toInt - 1)))

  def median(sorted: Seq[Double]): Double = pct(sorted, 50.0)

  /** The highest percentile with at least ten samples beyond it; the
    * median when there are too few samples for any. */
  def tailOf(sorted: Seq[Double]): (Double, Double, Int) = {
    val p = TailPcts.find(p => sorted.size - math.ceil(p / 100.0 * sorted.size) >= 10)
      .getOrElse(50.0)
    (p, pct(sorted, p), sorted.size - math.ceil(p / 100.0 * sorted.size).toInt)
  }

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time per live Java thread: the client, Spark's task, scheduler and
    * streaming threads. Unlike wall time it does not grow when the host
    * steals the CPU; JIT compiler and GC threads are not Java threads, so
    * their run-to-run variation stays out too. */
  def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 > 0).toMap
  }

  /** CPU the Java threads spent since `before` (threads that ended in
    * between are not counted). */
  def cpuSince(before: Map[Long, Long]): Long =
    threadCpu().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  /** Heap in use after a full collection, in MiB. Later collections run
    * after Spark's cleaner has dropped the blocks the earlier ones freed. */
  def retainedMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}
