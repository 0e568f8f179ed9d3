package graftbench

import graft.{TripleStore, ValueIndex}
import graft.model.UnionTripleSource
import graft.query._
import graft.sources.RowIngest
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class DocRow(doc_id: Long, u: Long, t: Long)

/** Row `id` of the corpus or of a batch: `u` uniform, `t` increasing with
  * `id` and unique. */
final case class DocGen(seed: Long) {
  def doc(id: Long): DocRow = DocRow(id, Gen.below(seed, 1, id, IndexIngest.UDomain),
    id * 10 + Gen.below(seed, 2, id, 10))
}

/** Streaming ingest into a persisted [[graft.ValueIndex]] with reads
  * against the same index between batches. Each round drops one seeded
  * batch of new entities into the stream's input directory, waits for the
  * microbatch (append, then the auto-compact valve), and runs the probe
  * ops over every row ingested so far. `u` is uniform; `t` grows with the
  * entity id, so every batch lands in the top `t` bucket, and each append
  * touches every `u` bucket, so the valve compacts after every batch. */
object IndexIngest extends Workload {
  val name = "index_ingest"
  val opKinds = Seq("ingest_batch", "range_match", "topk_pull", "range_count",
    "range_sum", "percentile", "point_match")
  val AggregateKinds = Set("range_count", "range_sum", "percentile")
  val rounds = 2
  val Buckets = 16
  /** An append touching every bucket lifts `frag` to 2.0, so the valve
    * compacts after every batch and every round does the same work. */
  val MaxFrag = 1.5
  val PollMs = 100L
  val MaxBatches = 24
  val UDomain = 1000000000L
  private val catalogIds = new AtomicInteger()

  def setup(spark: SparkSession, dir: Path, seed: Long, scale: Double,
      tracer: () => Option[Tracer]): Instance = {
    import spark.implicits._
    val n0 = math.max(200L, math.round(5000 * scale))
    val per = math.max(20L, math.round(500 * scale))
    val gen = DocGen(seed)
    def doc(id: Long) = gen.doc(id)
    def batchIds(b: Int) = (n0 + b * per) until (n0 + (b + 1) * per)
    val d = dir.toString
    val corpusPath = s"$d/corpus.parquet"
    spark.range(0, n0, 1, 4).as[Long].map(id => gen.doc(id)).write.parquet(corpusPath)
    spark.range(n0, n0 + MaxBatches * per, 1, 4).as[Long]
      .map(id => (gen.doc(id), ((id - n0) / per).toInt))
      .select(col("_1.*"), col("_2").as("batch"))
      .repartition(col("batch")).write.partitionBy("batch").parquet(s"$d/stage")
    val inDir = Files.createDirectories(dir.resolve("in"))
    val idxRoot = Files.createDirectories(dir.resolve("idx")).toString
    val catalog = s"graftbench_vidx_${catalogIds.incrementAndGet()}"
    val schema = spark.read.parquet(corpusPath).schema
    val spec = RowIngest.specFor(spark.read.parquet(corpusPath), "ing",
      Seq("doc_id"), Nil, None)
    def storeOver(df: DataFrame) = new TripleStore(spark,
      RowIngest.tableToTriples(df, spec), spec.attrSchemas, preResolved = true,
      source = Some(UnionTripleSource(Seq(RowIngest.TableSource(df, spec)))))
    ValueIndex.build(storeOver(spark.read.parquet(corpusPath)), catalog,
      s"$idxRoot/g-init", Seq("ing:u", "ing:t"), Buckets)

    val stats = new IngestStats
    def tracing = tracer().isDefined
    @volatile var live = s"$idxRoot/g-init"
    val query: StreamingQuery = spark.readStream.schema(schema).parquet(inDir.toString)
      .writeStream.option("checkpointLocation", s"$d/ckpt")
      // an idle stream lists its input on every trigger; at Spark's default
      // 10 ms cadence that polling is a steady CPU draw under every op
      .trigger(Trigger.ProcessingTime(PollMs))
      .foreachBatch { (b: DataFrame, id: Long) =>
        val tr = tracer()
        val mb = tr.map(t => t.open("microbatch", t.currentOpSpan)).getOrElse(0L)
        def span[T](name: String)(f: => T): (T, Long) = {
          val s = tr.map(t => (t, t.open(name, mb)))
          val t0 = System.nanoTime()
          val v = f
          val ns = System.nanoTime() - t0
          s.foreach { case (t, id) => t.close(id) }
          (v, ns)
        }
        val t0 = System.nanoTime()
        val (_, appendNs) = span("append")(ValueIndex.append(storeOver(b), catalog))
        // fragmentation the valve is about to judge; read only when traced
        val statsNs = tr.fold(0L) { _ =>
          val s0 = System.nanoTime()
          val frag = ValueIndex.stats(spark, catalog).agg(max("frag")).head().getDouble(0)
          stats.fragMax = math.max(stats.fragMax, frag)
          System.nanoTime() - s0
        }
        val (compacted, compactNs) = span("compact")(ValueIndex.compactIfFragmented(
          spark, catalog, s"$idxRoot/g$id", maxFrag = MaxFrag, nBuckets = Buckets))
        compacted.foreach(_ => live = s"$idxRoot/g$id")
        tr.foreach(_.close(mb))
        if (tr.isDefined) {
          stats.appendNs += appendNs
          stats.batchNs :+= System.nanoTime() - t0 - statsNs
          if (compacted.isDefined) {
            stats.compactions += 1
            stats.compactNs += compactNs
          }
        }
      }.start()

    // driver-side model of every row ingested so far
    val model = mutable.ArrayBuffer.empty[DocRow]
    model ++= (0L until n0).map(doc)
    var files = Vector(corpusPath)
    var store = storeOver(spark.read.parquet(corpusPath)).withValueIndex(catalog)
    val seenProgress = mutable.Set.empty[String]
    def treeBytes(p: String): Map[String, Long] = {
      val root = Path.of(p)
      if (!Files.exists(root)) Map.empty
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => f.toString -> Files.size(f)).toMap
        finally s.close()
      }
    }
    var seenIndexFiles = treeBytes(idxRoot)
    var inputBytes = treeBytes(corpusPath).values.sum

    def ingest(r: Int): Op = {
      require(r < MaxBatches, s"only $MaxBatches batches are staged")
      val target = inDir.resolve(f"batch-$r%05d.parquet")
      Op("ingest_batch", ph => {
        val stageFile = Files.list(dir.resolve(s"stage/batch=$r")).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val t0 = System.nanoTime()
        ph.exec {
          Files.move(stageFile, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          query.processAllAvailable()
        }
        val rows = query.recentProgress.filterNot(q => seenProgress(q.timestamp))
        seenProgress ++= rows.map(_.timestamp)
        files :+= target.toString
        store = ph.compile(storeOver(spark.read.schema(schema).parquet(files: _*))
          .withValueIndex(catalog))
        if (tracing) {
          stats.ingestNs += System.nanoTime() - t0
          stats.rowsIngested += rows.map(_.numInputRows).sum
        }
        Answer.scalar(rows.map(_.numInputRows).sum)
      }, () => {
        val added = batchIds(r).map(doc)
        model ++= added
        val batchBytes = Files.size(target)
        inputBytes += batchBytes
        val now = treeBytes(idxRoot)
        if (tracing) {
          stats.batchInputBytes += batchBytes
          stats.indexBytesWritten += now.collect {
            case (f, n) if !seenIndexFiles.contains(f) => n }.sum
          stats.inputBytes = inputBytes
          stats.liveIndexBytes = treeBytes(live).values.sum + treeBytes(live + "_manifest").values.sum
        }
        seenIndexFiles = now
        Answer.scalar(added.size.toLong)
      })
    }

    def eids(df: DataFrame, ph: Phases): Answer = ph.exec(Answer.ofRows(df.collect()))
    def eidsOf(rows: Iterable[DocRow]) = Answer.of(rows.map(x => Seq(Answer.eid("ing", x.doc_id))))
    def p(kind: String, r: Int, n: Long) = Gen.below(seed, kind.hashCode, r, n)

    def read(kind: String, r: Int): Op = kind match {
      case "range_match" =>
        val lo = p(kind, r, UDomain); val hi = lo + UDomain / 100
        Op(kind, ph => eids(ph.compile(store.matchEntities(
          Seq("ing:u" -> MRange(Some(lo), Some(hi))))), ph),
          () => eidsOf(model.filter(x => x.u >= lo && x.u <= hi)))
      case "topk_pull" =>
        val k = 5 + p(kind, r, 20).toInt
        Op(kind, ph => eids(ph.compile(store.pullMany(Seq("ing:t" -> MAny),
          Seq(PAttr("ing:doc_id"), PAttr("ing:t")), sortBy = Some("t"), desc = true,
          limit = Some(k))).select(col("doc_id"), col("t")), ph),
          () => Answer.of(model.sortBy(-_.t).take(k).map(x => Seq(x.doc_id, x.t))))
      case "range_count" =>
        val back = 1 + p(kind, r, 3 * per * 10)
        Op(kind, ph => {
          val lo = model.last.t - back
          ph.exec(Answer.scalar(store.countMatch(Seq("ing:t" -> MRange(lo = Some(lo))))))
        }, () => Answer.scalar(model.count(_.t >= model.last.t - back).toLong))
      case "range_sum" =>
        val lo = p(kind, r, UDomain); val hi = lo + UDomain / 10
        Op(kind, ph => ph.exec(Answer.scalar(store.sumMatch("ing:u",
          Seq("ing:u" -> MRange(Some(lo), Some(hi)))))),
          () => Answer.scalar(model.filter(x => x.u >= lo && x.u <= hi).map(_.u).sum))
      case "percentile" =>
        val q = Seq(0.5, 0.9, 0.99)(p(kind, r, 3).toInt)
        Op(kind, ph => ph.exec(Answer.scalar(store.percentileValue("ing:u", q).orNull)),
          () => {
            val us = model.map(_.u).sorted
            Answer.scalar(us(math.max(1, math.ceil(q * us.size).toInt) - 1))
          })
      case "point_match" =>
        val pick = p(kind, r, Long.MaxValue)
        Op(kind, ph => {
          val v = model((pick % model.size).toInt).u
          eids(ph.compile(store.matchEntities(Seq("ing:u" -> MEq(v)))), ph)
        }, () => {
          val v = model((pick % model.size).toInt).u
          eidsOf(model.filter(_.u == v))
        })
    }

    new Instance {
      def round(r: Int): Seq[Op] = ingest(r) +:
        Gen.shuffle(seed, 3000 + r, opKinds.size - 1).map(i => read(opKinds(i + 1), r))
      override def ingestStats: Option[IngestStats] = Some(stats)
      override def indexRoot: Option[String] = Some(idxRoot)
      val sizes = Map("initial_rows" -> n0, "batch_rows" -> per,
        "staged_batches" -> MaxBatches.toLong, "buckets" -> Buckets.toLong,
        "indexed_attrs" -> 2L)
      override def close(): Unit = query.stop()
    }
  }
}
