package graft.tools

/** Ad-hoc timing harness: `runMain graft.tools.Probe <sfDir> <query>...`
  * times named SparkEntry queries in a fresh session (all queries when
  * none named). Dev tool — not part of the library API. */
object Probe {
  def main(args: Array[String]): Unit = {
    val shuffleIdx = args.indexOf("--shuffle")
    val spark = graft.Sessions.local()
    if (shuffleIdx >= 0)
      spark.conf.set("spark.sql.shuffle.partitions",
        args(shuffleIdx + 1).toInt)
    val explain = args.contains("--explain")
    val rest = args.zipWithIndex.filterNot { case (a, i) =>
      a == "--explain" || a == "--shuffle" ||
        (shuffleIdx >= 0 && i == shuffleIdx + 1)
    }.map(_._1)
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (rest.length > 1) rest.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      if (explain) {
        println(s"==== $name ====")
        graft.SparkEntry.queries(name)(spark, dir).explain("formatted")
      } else {
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(name)(spark, dir).count()
        println(f"== $name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
    }
    spark.stop()
  }
}
