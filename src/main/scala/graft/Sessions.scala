package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe every main builds on, so Bench, Verify,
  * the CLI and the tools all measure and answer under the same
  * settings. */
object Sessions {

  /** Task slots and shuffle partitions: `SPARK_GRAFT_CPUS`, else every
    * available core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A session on `local[cpus]` (or `SPARK_MASTER` when set) with
    * `cpus` shuffle partitions, the UTC session zone (timestamps convert
    * and render the same on every machine), pushed IN lists kept as
    * row-group filters up to [[TripleStore.TopKLiteralCap]] literals,
    * no UI and WARN logging. */
  def local(): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.pushdown.inFilterThreshold",
        TripleStore.TopKLiteralCap)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
