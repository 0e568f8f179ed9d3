package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.Internals
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's own checks, at tiny input sizes. */
class BenchSpec extends AnyFunSuite {
  private lazy val work: Path = Files.createTempDirectory("graftbench-spec")
  private lazy val spark: SparkSession = Main.session(work)
  private val declared = new ObjectMapper().readTree(
    Files.readString(Path.of("..", "BENCHMARK.json")))

  private def names(key: String): Seq[(String, String)] =
    declared.get(key).elements().asScala.map(m =>
      m.get("name").asText() -> m.get("unit").asText()).toSeq

  /** Runs `wl` like the launcher does and returns the result together with
    * the number of benchmark listeners registered at the start of each
    * round. */
  private def run(wl: Workload, trace: Boolean): (Bench.Result, Seq[Int]) = {
    val seen = mutable.ArrayBuffer.empty[Int]
    val probe = new Workload {
      val name = wl.name
      val opKinds = wl.opKinds
      val rounds = wl.rounds
      def setup(s: SparkSession, dir: Path, seed: Long, scale: Double,
          tracer: () => Option[Tracer]): Instance = {
        val in = wl.setup(s, dir, seed, scale, tracer)
        new Instance {
          def round(r: Int): Seq[Op] = {
            seen += Internals.registeredCount(s,
              _.getClass.getName.startsWith(classOf[Tracer].getName))
            in.round(r)
          }
          override def ingestStats = in.ingestStats
          override def indexRoot = in.indexRoot
          def sizes = in.sizes
          override def close(): Unit = in.close()
        }
      }
    }
    val o = Main.Opts(wl.name, seed = 7, seconds = 1, trace = trace,
      out = work.resolve("out").toString, scale = 0.05)
    (Bench.run(spark, probe, o, Files.createTempDirectory(work, wl.name), 1.0), seen.toSeq)
  }

  private def metricsOf(r: Bench.Result): Map[String, String] =
    r.metrics.map { case (n, _, u) => n -> u }.toMap

  for (wl <- Workloads.all) {
    test(s"${wl.name}: a timed run checks every op, emits the end-to-end metrics and registers no listener") {
      val (r, listeners) = run(wl, trace = false)
      assert(r.failed == 0, r.detail)
      assert(r.attempted >= 2 * wl.opKinds.size)
      assert(metricsOf(r) == names("end_to_end").toMap)
      assert(r.metrics.forall { case (_, v, _) => v > 0.0 }, r.metrics)
      assert(listeners.nonEmpty && listeners.forall(_ == 0))
    }

    test(s"${wl.name}: a traced run emits every per-layer metric and registers its listeners") {
      val (r, listeners) = run(wl, trace = true)
      assert(r.failed == 0, r.detail)
      assert(metricsOf(r) == names("per_layer").toMap)
      assert(listeners.count(_ > 0) == wl.rounds)
      val m = r.metrics.map { case (n, v, _) => n -> v }.toMap
      assert(m("exec.jobs") > 0 && m("plan.executions") > 0 && m("flatten.triples") > 0)
      wl.opKinds.foreach(k => assert(m(s"op.$k.p50_ms") > 0.0, k))
      if (wl == IndexIngest)
        assert(m("stream.batches") == wl.rounds && m("vidx.compactions") == wl.rounds)
      else assert(m("fix.levels") > 0 && m("pin.jobs") > 0)
    }
  }

  test("a planted wrong expected answer counts as a failure") {
    val planted = new Workload {
      val name = IndexIngest.name
      val opKinds = IndexIngest.opKinds
      val rounds = IndexIngest.rounds
      def setup(s: SparkSession, dir: Path, seed: Long, scale: Double,
          tracer: () => Option[Tracer]): Instance = {
        val in = IndexIngest.setup(s, dir, seed, scale, tracer)
        new Instance {
          def round(r: Int): Seq[Op] = in.round(r).map { op =>
            if (op.kind != "point_match") op
            else op.copy(expected = () => { op.expected(); Answer(0L, 0L)("planted") })
          }
          def sizes = in.sizes
          override def close(): Unit = in.close()
        }
      }
    }
    val o = Main.Opts(planted.name, seed = 7, seconds = 1, trace = false,
      out = work.resolve("out").toString, scale = 0.05)
    val r = Bench.run(spark, planted, o, Files.createTempDirectory(work, "planted"), 1.0)
    assert(r.failed >= 2 && r.failed < r.attempted)
    assert(r.record.toString.contains("\"correct\":false"))
  }
}
