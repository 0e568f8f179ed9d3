package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // A throwing query must FAIL LOUDLY, never silently shrink coverage:
    // its output dir still exists but holds only an _ERROR sidecar (no
    // parquet), so the driver's read records `err` instead of absence,
    // and verify_errors.json lists every failure for the round report.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(2000)}"
        System.err.println(s"[verify] $name FAILED: $msg")
        failed(name) = msg
        val d = Paths.get(s"$outDir/$name")
        // wipe any stale (previous-run) result so a broken query can't
        // masquerade as green via leftovers, then leave the marker
        if (Files.exists(d)) {
          import scala.jdk.CollectionConverters._
          Files.walk(d).iterator().asScala.toSeq
            .sortBy(-_.getNameCount).filterNot(_ == d).foreach(Files.delete)
        } else Files.createDirectories(d)
        Files.writeString(d.resolve("_ERROR"), msg)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"}" +
          s" FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
