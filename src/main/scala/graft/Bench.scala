package graft
import java.nio.file.{Files, Paths}

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * Emits ONE JSON line on stdout AND writes the same line to a file
  * (positional arg, or $SPARK_GRAFT_BENCH_OUT, default BENCH_LOCAL.json)
  * so the driver can parse it even when a launcher prefixes stdout. A
  * failing query is recorded per-name in "failed" and makes the whole run
  * exit non-zero — a regression that throws must never read as a fast
  * success.
  *
  * Each query runs `--reps N` times (default 3, or $SPARK_GRAFT_BENCH_REPS)
  * and reports the per-query MEDIAN: single runs on a shared box show
  * 2-5× spreads on unchanged code (BENCH_r05 vs BENCH_LOCAL at the same
  * commit), so per-query perf judgments need a location estimate that one
  * GC pause or page-cache miss can't move. "value" is the sum of medians;
  * "reps" records N so consumers know what they're reading.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    var reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(3)
    // --only q125,q126: builder-side iteration on a subset (prefix or
    // full name); the driver's per-round run never passes it.
    var only: Option[Set[String]] = None
    var positional = List.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--reps" =>
          require(i + 1 < args.length, "--reps needs a value")
          reps = args(i + 1).toInt; i += 2
        case "--only" =>
          require(i + 1 < args.length, "--only needs a value")
          only = Some(args(i + 1).split(',').map(_.trim).toSet); i += 2
        case p => positional :+= p; i += 1
      }
    }
    require(reps >= 1, s"--reps must be >= 1, got $reps")
    val outFile = positional.headOption
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
      .getOrElse("BENCH_LOCAL.json")
    val spark = Sessions.local()
    // Untimed warm-up: first Spark action pays JVM/codegen/parquet-footer
    // startup that belongs to the session, not to whichever query happens
    // to run first. Standard throughput-benchmark practice; q01's number
    // is the operator's, not the JIT's. A bad sf dir fails here, with
    // its real cause.
    graft.sources.Tpch.raw(spark, sfDir, "lineitem").limit(1).count()
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    var failed = List.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(_.exists(o => name == o || name.startsWith(o))) }
      .map { case (name, fn) =>
      // only SUCCESSFUL reps contribute to the stats: a rep that throws
      // usually fails much faster than a healthy run completes, so mixing
      // time-to-failure into the median would report a misleadingly fast
      // number for a broken query ("failed" already records the name and
      // the run exits non-zero; a query with zero good reps reports null)
      val times = (0 until reps).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            if (!failed.contains(name)) failed ::= name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // a query that leaks a CacheManager entry must pay for it itself,
        // not squeeze every later query's execution memory; checkpoint
        // blocks are ContextCleaner-owned and the cleaner is GC-triggered —
        // on a large heap GC may not run for many queries, so nudge it, or
        // dead queries' blocks stack up in the block manager and force
        // evictions under later queries' shuffles
        spark.catalog.clearCache()
        System.gc()
        if (ok) Some(dt) else None
      }
      name -> times
    }
    def fmt(o: Option[Double]): String = o.map(_.toString).getOrElse("null")
    def med(ts: Seq[Double]): Option[Double] =
      if (ts.isEmpty) None else Some(median(ts))
    val qs = results.map { case (k, ts) => "\"" + k + "\":" + fmt(med(ts)) }
      .mkString("{", ",", "}")
    // per-query spread alongside the location estimate: single runs on a
    // shared box show 2-5x spreads, so regression checks need min/max to
    // tell a real slowdown from one bad rep
    val stats = results.map { case (k, ts) =>
      "\"" + k + "\":{\"p50\":" + fmt(med(ts)) +
        ",\"min\":" + fmt(ts.minOption) +
        ",\"max\":" + fmt(ts.maxOption) + ",\"n\":" + ts.size + "}"
    }.mkString("{", ",", "}")
    val fs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.flatMap { case (_, ts) => med(ts) }.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"query_stats":$stats,"reps":$reps,"failed":$fs,"sf":"$sfDir"}"""
    println(line)
    Files.writeString(Paths.get(outFile), line + "\n")
    // Compact summary as the LAST stdout line: at 189 queries the full
    // line above is ~25 KB, so a consumer that keeps only a bounded
    // tail of stdout can never parse it — the summary carries the
    // totals in well under 2000 chars (the per-query map stays in the
    // full line above and in the out-file, which is unchanged).
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"reps":$reps,"failed":$fs,"sf":"$sfDir","detail":"$outFile"}"""
    println(summary)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
