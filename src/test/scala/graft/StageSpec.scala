package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's build-once staging recipe (`stage`), the staged-world
  * stream run built on it (`replay`), and the per-run working copy a
  * mutating consumer of a staged index gets. */
class StageSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** A stand-in sf dir: one parquet-named file for the fingerprint. */
  private def sfDir(): String = {
    val d = Files.createTempDirectory("graft_stagespec")
    Files.writeString(d.resolve("t.parquet"), "rows")
    d.toString
  }

  private def cleanup(path: String, trees: Seq[String]): Unit =
    for (t <- trees :+ "_OK") SparkEntry.deleteRec(Paths.get(path + t))

  private def marker(path: String): String =
    Files.readString(Paths.get(path + "_OK"))

  /** Every file under `root`, relative path → bytes. */
  private def bytesUnder(root: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => r.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap
  }

  test("stage: builds once, never evaluates build under a matching " +
      "stamp, and a changed stamp deletes the listed trees and rebuilds") {
    val dir = sfDir()
    val trees = Seq("", "_side")
    var builds = 0
    def build(p: String): Unit = {
      builds += 1
      for (t <- trees) {
        Files.createDirectories(Paths.get(p + t))
        Files.writeString(Paths.get(p + t, "data"), s"build $builds")
      }
    }
    val p = SparkEntry.stage("stagespec", dir, "v1", trees)(build)
    assert(builds === 1)
    assert(marker(p).startsWith("v1 src="))
    assert(SparkEntry.stage("stagespec", dir, "v1", trees)(
      _ => fail("build ran under a matching stamp")) === p)
    // a leftover file in a listed tree must not survive a restage
    Files.writeString(Paths.get(p + "_side", "leftover"), "stale")
    SparkEntry.stage("stagespec", dir, "v2", trees) { q =>
      assert(!Files.exists(Paths.get(q + "_OK")))
      for (t <- trees) assert(!Files.exists(Paths.get(q + t)))
      build(q)
    }
    assert(builds === 2)
    assert(marker(p).startsWith("v2 src="))
    assert(!Files.exists(Paths.get(p + "_side", "leftover")))
    assert(Files.readString(Paths.get(p, "data")) === "build 2")
    // the sf dir's fingerprint is part of the stamp: new testdata
    // restages under an unchanged stamp
    Files.writeString(Paths.get(dir, "t.parquet"), "regenerated rows")
    SparkEntry.stage("stagespec", dir, "v2", trees)(build)
    assert(builds === 3)
    cleanup(p, trees)
  }

  test("stage: a build that throws leaves no marker, so the next call " +
      "rebuilds") {
    val dir = sfDir()
    var builds = 0
    def ok(p: String): Unit = {
      builds += 1
      Files.createDirectories(Paths.get(p))
    }
    val p = SparkEntry.stage("stagespec_fail", dir, "v1", Seq(""))(ok)
    intercept[IllegalStateException] {
      SparkEntry.stage("stagespec_fail", dir, "v2", Seq(""))(
        _ => throw new IllegalStateException("build died"))
    }
    assert(!Files.exists(Paths.get(p + "_OK")))
    // even the OLD stamp no longer matches: its trees were deleted
    SparkEntry.stage("stagespec_fail", dir, "v1", Seq(""))(ok)
    assert(builds === 2)
    assert(marker(p).startsWith("v1 src="))
    cleanup(p, Seq(""))
  }

  test("replay: stages batch 1 once, then every call restores the " +
      "staged world and executes only the later batches") {
    val dir = sfDir()
    val inputs = Files.createTempDirectory("graft_stagespec_rp_in")
    val batches = Seq(1L to 3L, 4L to 5L).zipWithIndex.map { case (r, i) =>
      val p = inputs.resolve(s"b$i").toString
      r.toDF("k").write.parquet(p)
      p
    }
    var prepares = 0
    var restores = 0
    val ran = scala.collection.mutable.ArrayBuffer.empty[Long]
    def call(): SparkEntry.RunDirs = {
      ran.clear()
      SparkEntry.replay("stagespec_rp", dir, "v1", batches,
        prepare = prepares += 1, afterRestore = restores += 1) { r =>
        spark.readStream.schema("k BIGINT").parquet(r.in)
          .writeStream.option("checkpointLocation", r.ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            ran.synchronized(ran += id)
            b.write.mode("overwrite").parquet(s"${r.out}/batch_$id")
          }.start()
      }
    }
    def output(r: SparkEntry.RunDirs): Map[String, Seq[Long]] =
      Seq(0, 1).map(id => s"batch_$id" ->
        spark.read.parquet(s"${r.out}/batch_$id").as[Long].collect()
          .toSeq.sorted).toMap

    val first = call()
    assert(prepares === 1 && restores === 1)
    // staging ran batch 0 (batch 1's files); the replay ran batch 1
    assert(ran.toSeq === Seq(0L, 1L))
    val root =
      first.in.replace("_stagespec_rpin_", "_stagespec_rps1_staged_")
    assert(marker(root).startsWith("stagespec_rps1 streamstagev2 v1 b1="))
    val staged = output(first)
    assert(staged === Map("batch_0" -> Seq(1L, 2L, 3L),
      "batch_1" -> Seq(4L, 5L)))

    val second = call()
    assert(second === first)
    assert(prepares === 1 && restores === 2)
    // the restored checkpoint knows batch 0: only batch 1 executes
    assert(ran.toSeq === Seq(1L))
    assert(output(second) === staged)
    for (p <- Seq(first.in, first.out, first.ckpt))
      SparkEntry.deleteRec(Paths.get(p))
    cleanup(root, Seq(""))
  }

  test("workingCopy: writes into a mutating consumer's copy leave the " +
      "pristine files' bytes unchanged") {
    val dir = sfDir()
    val trees = Seq("", "_stats")
    val p = SparkEntry.stage("stagespec_wc", dir, "v1", trees) { q =>
      (1L to 20L).toDF("k").repartition(2).write.parquet(q)
      (1L to 3L).toDF("n").write.parquet(q + "_stats")
    }
    val before = trees.map(t => bytesUnder(p + t))
    val work = Files.createTempDirectory("graft_stagespec_work") + "/idx"
    assert(SparkEntry.workingCopy(p, work, trees, mutates = false) === p)
    assert(SparkEntry.workingCopy(p, work, trees, mutates = true) === work)
    // an append adds files, an overwrite unlinks and rewrites
    (21L to 30L).toDF("k").write.mode("append").parquet(work)
    (7L to 8L).toDF("n").write.mode("overwrite").parquet(work + "_stats")
    assert(spark.read.parquet(work).count() === 30)
    assert(trees.map(t => bytesUnder(p + t)) === before)
    assert(spark.read.parquet(p).count() === 20)
    // the next run's copy starts from the pristine state again
    SparkEntry.workingCopy(p, work, trees, mutates = true)
    assert(spark.read.parquet(work).count() === 20)
    assert(spark.read.parquet(work + "_stats").count() === 3)
    cleanup(p, trees)
  }
}
