package graft.sources

import graft.sources.RowIngest.{RefSpec, TableSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** Table specs for the driver testdata (TESTDATA.md / FIXTURES.md §4) and a
  * per-session cache of their triple encodings, so the many demo queries in
  * SparkEntry share one flattening per table instead of re-scanning.
  *
  * Ref attrs use entity-style names (`customer:nation` → nation entity),
  * while the raw fk number is also kept as a scalar (`customer:nationkey`)
  * so flat pulls stay DuckDB-comparable.
  */
object Tpch {
  private def strip(letter: String) = Some(letter + "_")

  def spec(df: DataFrame, table: String): TableSpec = table match {
    case "region" => RowIngest.specFor(df, table, Seq("r_regionkey"), Nil, strip("r"))
    case "nation" => RowIngest.specFor(df, table, Seq("n_nationkey"),
      Seq(RefSpec("n_regionkey", "nation:region", "region")), strip("n"))
    case "customer" => RowIngest.specFor(df, table, Seq("c_custkey"),
      Seq(RefSpec("c_nationkey", "customer:nation", "nation")), strip("c"))
    case "supplier" => RowIngest.specFor(df, table, Seq("s_suppkey"),
      Seq(RefSpec("s_nationkey", "supplier:nation", "nation")), strip("s"))
    case "part" => RowIngest.specFor(df, table, Seq("p_partkey"), Nil, strip("p"))
    case "orders" => RowIngest.specFor(df, table, Seq("o_orderkey"),
      Seq(RefSpec("o_custkey", "orders:customer", "customer")), strip("o"))
    // lineitem has NO unique natural key in this synthetic data (duplicate
    // (orderkey, linenumber) pairs exist); full rows ARE unique, so the
    // entity id is a content hash of all columns — the id_attrs=[all]
    // analogue of the reference's entity resolution (tripl.py:457-481).
    case "lineitem" => RowIngest.specFor(df, table, df.columns.toSeq,
      Seq(RefSpec("l_orderkey", "lineitem:order", "orders"),
        RefSpec("l_partkey", "lineitem:part", "part"),
        RefSpec("l_suppkey", "lineitem:supplier", "supplier")), strip("l"))
    case "events" => RowIngest.specFor(df, table, Seq("event_id"), Nil, None)
    case "documents" => RowIngest.specFor(df, table, Seq("doc_id"), Nil, None)
    case "embeddings" =>
      // embedding FLOAT[] is not a scalar — arrays are cardinality-many
      // sugar in the EAV model, and similarity ops read the raw table.
      RowIngest.specFor(df.drop("embedding"), table, Seq("vec_id"), Nil, None)
    case other => sys.error(s"no spec for table $other")
  }

  // weak-keyed by session: a restarted/discarded SparkSession's frames are
  // GC-reclaimable instead of pinned forever by an identityHashCode key
  // (two sessions can even share one hash). The VALUES are softly held:
  // each cached DataFrame strongly references its own SparkSession, so a
  // strong map value would keep the weak key reachable forever (the
  // WeakHashMap value→key pitfall); the SoftReference breaks that cycle —
  // a discarded session's entry is reclaimed under memory pressure.
  // Harness-side convenience cache.
  private val cache = new java.util.WeakHashMap[SparkSession,
    java.lang.ref.SoftReference[TrieMap[(String, String), DataFrame]]]()
  private def sessionCache(spark: SparkSession): TrieMap[(String, String), DataFrame] =
    cache.synchronized {
      Option(cache.get(spark)).flatMap(r => Option(r.get)) match {
        case Some(m) => m
        case None =>
          val m = TrieMap.empty[(String, String), DataFrame]
          cache.put(spark, new java.lang.ref.SoftReference(m))
          m
      }
    }

  /** Raw parquet table. `events.ts` has been written by the driver both as
    * TIMESTAMP(NANOS) (which Spark's vectorized reader can only surface as
    * a nanos long via the legacy conf) and, in newer testdata, as
    * TIMESTAMP_MICROS/NTZ. Branch on the dtype Spark actually read so one
    * reader absorbs either generation of the files — every events consumer
    * must route through here rather than re-deriving the conversion. */
  def raw(spark: SparkSession, sfDir: String, table: String): DataFrame =
    sessionCache(spark).getOrElseUpdate((sfDir, "raw:" + table), {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$sfDir/$table.parquet")
      table match {
        case "events" => normalizeEventsTs(df)
        case "documents" =>
          pinTypes(df, Map("doc_id" -> "bigint", "n_chars" -> "bigint"))
        case "embeddings" =>
          pinTypes(df, Map("vec_id" -> "bigint",
            "embedding" -> "array<float>", "label" -> "int"))
        // TPC-H-ish tables: pin every key/measure so a testdata
        // regeneration flipping int64↔int32 or double↔float (the r8
        // events.ts incident, different column) can't shift query
        // output schemas; casts on already-right types are free no-ops
        case "region" => pinTypes(df, Map("r_regionkey" -> "int"))
        case "nation" => pinTypes(df,
          Map("n_nationkey" -> "int", "n_regionkey" -> "int"))
        case "customer" => pinTypes(df, Map("c_custkey" -> "bigint",
          "c_nationkey" -> "int", "c_acctbal" -> "double"))
        case "supplier" => pinTypes(df, Map("s_suppkey" -> "bigint",
          "s_nationkey" -> "int", "s_acctbal" -> "double"))
        case "part" => pinTypes(df, Map("p_partkey" -> "bigint",
          "p_size" -> "int", "p_retailprice" -> "double"))
        case "orders" => pinTypes(df, Map("o_orderkey" -> "bigint",
          "o_custkey" -> "bigint", "o_totalprice" -> "double",
          "o_orderdate" -> "timestamp_ntz"))
        case "lineitem" => pinTypes(df, Map("l_orderkey" -> "bigint",
          "l_partkey" -> "bigint", "l_suppkey" -> "bigint",
          "l_linenumber" -> "int", "l_quantity" -> "double",
          "l_extendedprice" -> "double", "l_discount" -> "double",
          "l_tax" -> "double", "l_shipdate" -> "timestamp_ntz"))
        case _ => df
      }
    })

  /** Pin named columns to their EXPECTED types — the same
    * drift-absorption contract as [[normalizeEventsTs]], for the
    * text/embedding tables: the driver regenerates testdata between
    * rounds, and a pandas/pyarrow version bump can silently flip
    * int64↔int32 or float↔double (the events.ts TIMESTAMP(NANOS)→MICROS
    * flip cost round 8 fourteen queries). Casts on already-right types
    * are no-ops Catalyst erases, so this costs nothing while nothing
    * has drifted; absent columns are left to fail analysis loudly at
    * the query that needs them. */
  def pinTypes(df: DataFrame, expected: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    expected.foldLeft(df) { case (acc, (name, ddl)) =>
      if (acc.columns.contains(name))
        acc.withColumn(name, col(name).cast(ddl))
      else acc
    }
  }

  /** Normalize an events frame's `ts` to TIMESTAMP_NTZ regardless of how
    * the parquet writer encoded it (nanos-as-long vs native micros). */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as a long: exact div to micros
        df.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _: TimestampNTZType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }

  /** Streaming file-source read of the events table with `ts` normalized
    * to TIMESTAMP (identity to NTZ under the engine's fixed UTC session
    * timezone — watermarks/windows then behave exactly as in batch). A
    * stream must DECLARE its schema, so a cheap batch probe reads the
    * physical `ts` type first: legacy nanos files surface as BIGINT (via
    * the nanosAsLong conf) and get the exact div-1000 conversion; newer
    * micros files surface as TIMESTAMP_NTZ and just cast. Glob form:
    * the streaming file source requires a directory or glob and the
    * driver testdata ships events as a single parquet FILE. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val physical =
      spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    val tsDdl = physical match {
      case LongType => "BIGINT"
      case _: TimestampNTZType => "TIMESTAMP_NTZ"
      case _ => "TIMESTAMP"
    }
    val schema = StructType.fromDDL(
      s"event_id BIGINT, ts $tsDdl, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
    val stream = spark.readStream.schema(schema)
      .parquet(sfDir + "/events.parque*")
    physical match {
      case LongType =>
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => stream.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** A TripleStore over the union of the given tables' triples, backed by
    * attribute-pruning TableSources so each operator only generates the
    * triples it reads. The triples are deliberately NOT persisted: they
    * are a 10-20× blow-up of the base tables, and the narrow flatten
    * recomputes from the columnar scan far cheaper than caching the
    * blow-up — the 100 TB-correct trade. */
  def store(spark: SparkSession, sfDir: String, tables: String*): graft.TripleStore =
    RowIngest.store(tables.map { t =>
      val df = raw(spark, sfDir, t)
      (df, spec(df, t))
    })
}
