package graft.tools

import org.apache.spark.sql.functions._

/** Micro-benchmark main: where does the ValueIndex RANGE probe start
  * beating the full attr-pruned scan?
  *
  * ScaleBench's `eav_range_match` vs `eav_range_match_scan` pair prices
  * the probe at the documents corpus' size (50k facts at 10×), where
  * ONE attribute's fact slice is a handful of row groups and the scan
  * is fixed-cost-bound — the probe's extra catalog resolution + LIST
  * there costs more than the IO it prunes, so the honest 100 TB claim
  * rests on scan VOLUME, not those toy seconds. This main measures the
  * actual crossover: synthetic stores of growing fact counts, a ~2%
  * range, probe (warm stats cache, as in steady-state serving) vs scan,
  * median-of-3 each. Usage:
  *
  *   runMain graft.tools.RangeBreakEven [n1,n2,...]
  *
  * Defaults to 200k / 1M / 4M / 16M facts. Prints one line per size:
  * `[rbe] n=<facts> probe=<s> scan=<s> conj_*=<s> count_*=<s>
  * sum_*=<s>` — membership, index-driven conjunction, and the
  * count/sum aggregate pushdowns, each against its exact-scan
  * fallback. Results land in README's break-even note; an idle box is
  * assumed (same caveat as Bench). */
object RangeBreakEven {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption
      .map(_.split(',').map(_.trim.toLong).toSeq)
      .getOrElse(Seq(200000L, 1000000L, 4000000L, 16000000L))
    val spark = graft.Sessions.local()
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    for (n <- sizes) {
      val tag = s"rbe$n"
      val dir = s"/tmp/graft_rbe/$n"
      graft.SparkEntry.deleteRec(java.nio.file.Paths.get(dir))
      // Knuth-hash values into [0, 1M): uniform, deterministic, and the
      // > 980k predicate keeps ~2% — the "documents longer than N"
      // selectivity class. `cat` adds a 10-way category for the
      // conjunctive measurement (range ∧ equality).
      val df = spark.range(n).select(col("id").as("doc_id"),
        pmod(col("id") * 2654435761L, lit(1000000L)).as("n_chars"),
        concat(lit("c"), pmod(col("id") * 40503L, lit(10L))).as("cat"))
      val spec = graft.sources.RowIngest.specFor(df, tag, Seq("doc_id"),
        Nil, None)
      new graft.TripleStore(spark,
          graft.sources.RowIngest.tableToTriples(df, spec),
          spec.attrSchemas)
        .save(s"$dir/store")
      val plain = graft.TripleStore.load(spark, s"$dir/store")
      graft.ValueIndex.build(plain, s"vidx_$tag", s"$dir/vidx",
        Seq(s"$tag:n_chars"), 64)
      val probing = plain.withValueIndex(s"vidx_$tag")
      val r = graft.query.MRange(lo = Some(980000L), loStrict = true)
      val pat = Seq(s"$tag:n_chars" -> (r: graft.query.MVal))
      // warm both paths once (stats cache, parquet footers, page cache)
      probing.matchEntities(pat).count()
      plain.matchEntities(pat).count()
      val probe = med((1 to 3).map(_ =>
        time(probing.matchEntities(pat).count())))
      val scan = med((1 to 3).map(_ =>
        time(plain.matchEntities(pat).count())))
      // conjunction: the ~2% range drives, the 10-way category equality
      // is the residual scan — vs the collapse compilation's
      // union-slice scan + full-width groupBy
      val conj = Seq(s"$tag:n_chars" ->
          (r: graft.query.MVal),
        s"$tag:cat" -> (graft.query.MEq("c3"): graft.query.MVal))
      probing.matchEntities(conj).count()
      plain.matchEntities(conj).count()
      val conjDriven = med((1 to 3).map(_ =>
        time(probing.matchEntities(conj).count())))
      val conjScan = med((1 to 3).map(_ =>
        time(plain.matchEntities(conj).count())))
      // aggregate pushdowns (count/sum over the same ~2% range): inner
      // buckets answer from the manifest, only edges scan — and unlike
      // the membership rows the OUTPUT is one number, so the pruned
      // cost is the WHOLE cost at any scale, not Ω(matches)
      probing.countMatch(pat); plain.countMatch(pat)
      val cntPush = med((1 to 3).map(_ => time(probing.countMatch(pat))))
      val cntScan = med((1 to 3).map(_ => time(plain.countMatch(pat))))
      probing.sumMatch(s"$tag:n_chars", pat)
      plain.sumMatch(s"$tag:n_chars", pat)
      val sumPush = med((1 to 3).map(_ =>
        time(probing.sumMatch(s"$tag:n_chars", pat))))
      val sumScan = med((1 to 3).map(_ =>
        time(plain.sumMatch(s"$tag:n_chars", pat))))
      println(f"[rbe] n=$n%d probe=$probe%.3f scan=$scan%.3f " +
        f"conj_driven=$conjDriven%.3f conj_scan=$conjScan%.3f " +
        f"count_push=$cntPush%.3f count_scan=$cntScan%.3f " +
        f"sum_push=$sumPush%.3f sum_scan=$sumScan%.3f")
    }
    spark.stop()
  }
}
