package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.{Row, SparkSession}
import scala.util.hashing.MurmurHash3

/** What an op returned, reduced to a row count plus an order-insensitive
  * hash of its rows, so the engine's answer and the independently computed
  * expected answer compare without sorting or shipping rows around. */
final case class Answer(rows: Long, hash: Long)(val sample: String) {
  override def toString: String = s"$rows rows, hash $hash, least row $sample"
}

object Answer {
  /** Rows are sequences of plain values. Doubles render with 2 decimals
    * (every generated double is a whole number of cents). */
  def of(rows: Iterable[Seq[Any]]): Answer = {
    var n = 0L
    var h = 0L
    var least: String = null
    rows.foreach { r =>
      val s = r.map(render).mkString("(", ", ", ")")
      n += 1
      h += MurmurHash3.stringHash(s).toLong * 0x9E3779B97F4A7C15L
      if (least == null || s < least) least = s
    }
    Answer(n, h)(String.valueOf(least))
  }

  def ofRows(rows: Iterable[Row]): Answer = of(rows.map(_.toSeq))

  def scalar(v: Any): Answer = of(Seq(Seq(v)))

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.2f"
    case i: Int => i.toString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case o => o.toString
  }

  /** The engine's documented entity-id convention, md5('<table>:<key>'),
    * recomputed on the driver so expected answers name entities the way
    * the engine's results do. */
  def eid(table: String, key: Any): String = {
    val md = MessageDigest.getInstance("MD5")
    md.digest(s"$table:$key".getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Deterministic generator: every input value is a pure function of a
  * seed and an index, so Spark tasks writing the inputs and the driver
  * computing expected answers agree without sharing state. */
object Gen {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 31 + stream) ^ i)
  def below(seed: Long, stream: Long, i: Long, n: Long): Long =
    java.lang.Math.floorMod(h(seed, stream, i), n)

  /** A seeded permutation of 0 until n. */
  def shuffle(seed: Long, stream: Long, n: Int): Seq[Int] =
    (0 until n).sortBy(i => h(seed, stream, i))
}

/** One operation of a round. `run` calls the engine through `phases`
  * (compile = building the DataFrame, exec = the terminal action);
  * `expected` is computed independently of the engine and is never
  * timed. */
final case class Op(kind: String, run: Phases => Answer,
    expected: () => Answer)

/** Per-op timing of the two phases every engine call goes through. The
  * tracer, when present, turns each phase into a span. */
final class Phases(tracer: Option[Tracer], opSpan: Long) {
  var compileNs = 0L
  var execNs = 0L
  def compile[T](f: => T): T = phase("compile", f, compileNs += _)
  def exec[T](f: => T): T = phase("exec", f, execNs += _)
  /** Fixpoint work an op reports from its own result (levels, rows). */
  def fixpoint(levels: Long, rows: Long): Unit =
    tracer.foreach(_.fixpoint(levels, rows))
  private def phase[T](name: String, f: => T, add: Long => Unit): T = {
    val span = tracer.map(t => (t, t.open(name, opSpan)))
    val t0 = System.nanoTime()
    try f finally {
      add(System.nanoTime() - t0)
      span.foreach { case (t, s) => t.close(s) }
    }
  }
}

/** A workload prepared by [[Workload.setup]]: the inputs are written,
  * expected answers are known, and stores are built. */
trait Instance {
  /** The ops of round `r`, in the seeded order. */
  def round(r: Int): Seq[Op]
  /** Index directories and input byte counts, for the index layer. */
  def ingestStats: Option[IngestStats] = None
  /** Root directory of persisted index data, if the workload has one. */
  def indexRoot: Option[String] = None
  def sizes: Map[String, Long]
  def close(): Unit = ()
}

/** Client-side bookkeeping of the streaming ingest loop. */
final class IngestStats {
  @volatile var batchNs = Vector.empty[Long]
  @volatile var appendNs = 0L
  @volatile var compactNs = 0L
  @volatile var compactions = 0L
  @volatile var rowsIngested = 0L
  @volatile var ingestNs = 0L
  @volatile var inputBytes = 0L
  @volatile var batchInputBytes = 0L
  @volatile var indexBytesWritten = 0L
  @volatile var liveIndexBytes = 0L
  @volatile var fragMax = 0.0
}

trait Workload {
  def name: String
  def opKinds: Seq[String]
  /** Rounds a timed run measures at least, so every run holds the same mix
    * of work; a traced run measures exactly this many untraced and then
    * this many traced, so its counts repeat exactly. */
  def rounds: Int
  def setup(spark: SparkSession, dir: java.nio.file.Path, seed: Long,
      scale: Double, tracer: () => Option[Tracer]): Instance
}

object Workloads {
  val all: Seq[Workload] = Seq(EavQuery, IndexIngest)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
  def allOpKinds: Seq[String] = all.flatMap(_.opKinds)
}
