package graftbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One traced interval: an op, its compile/exec phases, the SQL
  * executions and jobs they caused, and the streaming microbatch with its
  * append and compact calls. `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, name: String, start: Long,
    var end: Long, attrs: mutable.Map[String, Any] = mutable.Map.empty)

/** Per-layer recorder for a traced run. It is registered only for the
  * traced rounds, from Spark's public listener interfaces: a SparkListener
  * (jobs, tasks, blocks, SQL plans and their metrics), a
  * QueryExecutionListener (Catalyst planning phases) and a
  * StreamingQueryListener (microbatch durations). Spans and counts stay in
  * memory until the run ends. */
final class Tracer(spark: SparkSession, cores: Int, indexRoot: Option[String])
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val ids = new AtomicLong(1)
  private val spans = mutable.LinkedHashMap.empty[Long, Span]
  private val opKindOf = mutable.Map.empty[Long, String]
  private val sqlSpan = mutable.Map.empty[Long, Long]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val accumCats = mutable.Map.empty[Long, Seq[String]]
  private val indexPartAccum = mutable.Map.empty[Long, String]
  private val indexFileAccumExec = mutable.Map.empty[Long, Long]
  private val indexFilesByExec = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  private val execsByOp = mutable.Map.empty[Long, mutable.Set[Long]]
  private val jobsByOp = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  private val liveBlocks = mutable.Map.empty[String, Long]
  private var liveBytes = 0L
  val counts = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  private val fixOps = mutable.Set.empty[Long]
  @volatile private var currentOp = 0L

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        if (p.numInputRows > 0) {
          counts("stream.batches") += 1
          def d(k: String): Double =
            Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
          counts("stream.addBatch_ms") += d("addBatch")
          counts("stream.walCommit_ms") += d("walCommit")
          counts("stream.queryPlanning_ms") += d("queryPlanning")
          counts("stream.latestOffset_ms") += d("latestOffset")
          counts("stream.trigger_ms") += d("triggerExecution")
        }
      }
  }

  private val MetadataLen = "spark.sql.maxMetadataStringLength"
  private var metadataLen: Option[String] = None

  def register(): Unit = {
    // scan nodes must name their full location for index attribution
    metadataLen = spark.conf.getOption(MetadataLen)
    spark.conf.set(MetadataLen, "100000")
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
  }

  /** Waits for queued events, then detaches every listener. */
  def unregister(): Unit = {
    Internals.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
    metadataLen.fold(spark.conf.unset(MetadataLen))(spark.conf.set(MetadataLen, _))
  }

  // ---- spans opened by the benchmark's own code ----

  def openOp(kind: String): Long = synchronized {
    val id = open(kind, 0L)
    opKindOf(id) = kind
    currentOp = id
    id
  }

  /** Opens a span on the calling thread; jobs that thread submits carry it
    * as a local property, which is how jobs find their parent. */
  def open(name: String, parent: Long): Long = synchronized {
    val id = ids.getAndIncrement()
    spans(id) = Span(id, parent, name, System.currentTimeMillis(), -1L)
    spark.sparkContext.setLocalProperty(SpanProp, id.toString)
    id
  }

  def close(id: Long): Unit = synchronized {
    val s = spans(id)
    s.end = System.currentTimeMillis()
    spark.sparkContext.setLocalProperty(SpanProp,
      if (s.parent == 0L) null else s.parent.toString)
  }

  /** The op span a streaming microbatch is nested under. */
  def currentOpSpan: Long = currentOp

  def fixpoint(levels: Long, rows: Long): Unit = synchronized {
    counts("fix.levels") += levels
    counts("fix.rows") += rows
    fixOps += currentOp
  }

  // ---- SparkListener ----

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // a job's call site names the API the caller invoked ("localCheckpoint
    // at TripleStore.scala:2020"); its final stage carries it
    val callSite = prop("callSite.short").orElse(
      js.stageInfos.sortBy(-_.stageId).headOption.map(_.name)).getOrElse("")
    if (callSite.startsWith("localCheckpoint")) counts("pin.jobs") += 1
    val caller = prop(SpanProp).map(_.toLong).getOrElse(0L)
    val exec = prop("spark.sql.execution.id").map(_.toLong)
    exec.foreach { x =>
      sqlSpan.get(x).foreach { s =>
        val sp = spans(s)
        if (sp.parent == 0L && caller != 0L) spans(s) = sp.copy(parent = caller)
      }
    }
    val id = ids.getAndIncrement()
    spans(id) = Span(id, exec.flatMap(sqlSpan.get).getOrElse(caller),
      "job", js.time, -1L, mutable.Map("job_id" -> js.jobId,
        "call_site" -> callSite))
    jobSpan(js.jobId) = id
    val op = opOf(caller)
    if (op != 0L) {
      jobsByOp(op) += 1
      exec.foreach(x => execsByOp.getOrElseUpdate(op, mutable.Set.empty) += x)
    }
  }

  /** Jobs count when they succeed: adaptive execution may cancel a job it
    * no longer needs, and whether that job started first is a race. */
  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    if (je.jobResult == JobSucceeded) counts("exec.jobs") += 1
    jobSpan.remove(je.jobId).foreach(s => spans(s).end = je.time)
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmit(s.stageInfo.stageId) =
        s.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    counts("exec.tasks") += 1
    val m = te.taskMetrics
    if (m != null) {
      counts("exec.task_run_ms") += m.executorRunTime
      counts("exec.task_cpu_ms") += m.executorCpuTime / 1e6
      counts("exec.gc_ms") += m.jvmGCTime
      counts("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      counts("exec.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      counts("exec.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageSubmit.get(te.stageId).foreach { t =>
      counts("exec.sched_wait_ms") += math.max(0L, te.taskInfo.launchTime - t)
    }
    te.taskInfo.accumulables.foreach { a =>
      a.update.foreach(u => accumulate(a.id, u))
    }
  }

  override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = b.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        val size = info.memSize + info.diskSize
        liveBytes -= liveBlocks.remove(key).getOrElse(0L)
        if (info.storageLevel.isValid && size > 0) {
          counts("pin.bytes") += size
          liveBlocks(key) = size
          liveBytes += size
        }
        counts("pin.peak_storage_mb") =
          math.max(counts("pin.peak_storage_mb"), liveBytes / 1048576.0)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val id = ids.getAndIncrement()
        spans(id) = Span(id, 0L, "sql", s.time, -1L,
          mutable.Map("execution_id" -> s.executionId,
            "description" -> s.description.take(120)))
        sqlSpan(s.executionId) = id
        indexPlan(s.sparkPlanInfo, s.executionId)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        indexPlan(u.sparkPlanInfo, u.executionId)
      case end: SparkListenerSQLExecutionEnd =>
        sqlSpan.get(end.executionId).foreach(s => spans(s).end = end.time)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => accumulate(id, v) }
      case _ =>
    }
  }

  private def accumulate(id: Long, update: Any): Unit = {
    val v = update match {
      case l: Long => l
      case l: java.lang.Long => l.longValue
      case i: Int => i.toLong
      case _ => 0L
    }
    if (v != 0L) {
      accumCats.get(id).foreach(_.foreach(c => counts(c) += v))
      indexPartAccum.get(id).foreach { loc =>
        counts("vidx.buckets_read") += v
        counts("vidx.buckets_total") += bucketDirs(loc)
      }
      indexFileAccumExec.get(id).foreach(x => indexFilesByExec(x) += v)
    }
  }

  /** Maps each SQL metric of interest to the layer counter it feeds. */
  private def indexPlan(info: SparkPlanInfo, execId: Long): Unit = {
    val loc = info.metadata.get("Location").flatMap(locationPath)
    val indexData = loc.exists(p => indexRoot.exists(r => p.contains(r)) &&
      !p.endsWith("_manifest"))
    info.metrics.foreach { m =>
      val cats = (info.nodeName, m.name) match {
        case ("Generate", "number of output rows") => Seq("flatten.triples")
        case (_, "number of files read") if loc.isDefined => Seq("scan.files")
        case (_, "size of files read") if loc.isDefined => Seq("scan.bytes")
        case (n, "number of output rows") if loc.isDefined &&
            n.startsWith("Scan") => Seq("scan.rows")
        case _ => Nil
      }
      if (cats.nonEmpty) accumCats(m.accumulatorId) = cats
      if (indexData && m.name == "number of partitions read")
        indexPartAccum(m.accumulatorId) = loc.get
      if (indexData && m.name == "number of files read")
        indexFileAccumExec(m.accumulatorId) = execId
    }
    info.children.foreach(indexPlan(_, execId))
  }

  // ---- QueryExecutionListener ----

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planning(qe)

  private def planning(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    counts("plan.executions") += 1
    counts("plan.analysis_ms") += ms("analysis")
    counts("plan.optimizer_ms") += ms("optimization")
    counts("plan.physical_ms") += ms("planning")
  }

  // ---- results ----

  private def opOf(span: Long): Long = {
    var s = span
    while (s != 0L && !opKindOf.contains(s)) s = spans.get(s).map(_.parent).getOrElse(0L)
    s
  }

  /** Aggregate probes answered without reading any index data file. */
  def manifestServed(aggregateKinds: Set[String]): (Long, Long) = synchronized {
    val ops = opKindOf.collect { case (id, k) if aggregateKinds(k) => id }
    val served = ops.count(op =>
      execsByOp.getOrElse(op, Set.empty[Long]).forall(x => indexFilesByExec(x) == 0L))
    (served.toLong, ops.size.toLong)
  }

  def fixJobs: Long = synchronized { fixOps.toSeq.map(jobsByOp).sum }

  def coreBusy(wallMs: Double): Double =
    counts("exec.task_run_ms") / math.max(1.0, wallMs * cores)

  def writeSpans(file: File, layers: Seq[(String, Double, String)]): Unit =
    synchronized {
      val spanJson = spans.values.map { s =>
        Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end) ++ s.attrs.toSeq)
      }
      val metrics = layers.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> v, "unit" -> u)) }
      file.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(file, "UTF-8")
      try w.print(Json.obj(Seq("per_layer" -> Json.obj(metrics),
        "spans" -> Json.arr(spanJson.toSeq))))
      finally w.close()
    }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** The filesystem path named by a scan node's `Location` metadata. */
  def locationPath(loc: String): Option[String] = {
    val i = loc.indexOf('[')
    val j = loc.lastIndexOf(']')
    if (i < 0 || j <= i) None
    else Some(loc.substring(i + 1, j).split(",").head.trim
      .stripPrefix("file:").replaceAll("^/+", "/"))
  }

  /** Bucket directories (a=*, bkt=*) of an index generation. */
  def bucketDirs(path: String): Long = {
    val root = new File(path)
    Option(root.listFiles()).toSeq.flatten.filter(_.getName.startsWith("a="))
      .map(a => Option(a.listFiles()).toSeq.flatten
        .count(_.getName.startsWith("bkt="))).sum.toLong
  }
}
