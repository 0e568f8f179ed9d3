package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Physical-layout operators: co-located (bucketed) storage.
  *
  * At 100 TB the dominant join cost is the shuffle. Writing both sides
  * of a recurring equi-join bucketed AND sorted by the join key lets
  * Spark's bucketed-scan rule prove the partitioning requirement is
  * already met — the sort-merge join runs with NO Exchange on either
  * side (asserted by LayoutSpec's explain test). This is the batch
  * analogue of the persisted triple layout's namespace partitioning
  * (TripleStore.save): spend one layout shuffle at write time, amortize
  * it over every subsequent join.
  */
object Layout {

  /** Write `df` bucketed + sorted by `keyCols` into `buckets` buckets at
    * `path`, registered in the session catalog as `table` (bucket
    * metadata lives in the catalog — path-based parquet has nowhere to
    * record it, which is why this is saveAsTable, not save). */
  def saveBucketed(df: DataFrame, table: String, path: String,
      buckets: Int, keyCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Re-register an EXISTING bucketed table (written by [[saveBucketed]]
    * or the index builders) in a fresh session's catalog — the missing
    * half of the "bucket metadata lives in the session catalog" caveat:
    * the parquet needs no rewrite, but a new session must re-declare the
    * bucket spec or scans lose co-location and pruning. Reads the schema
    * from the files, then issues the CREATE TABLE … CLUSTERED/SORTED
    * BY … LOCATION DDL with the SAME buckets/keys the writer used
    * (mismatched declarations would silently mis-bucket reads — this is
    * the caller's contract to honor, same as any external-table DDL). */
  def registerBucketed(spark: org.apache.spark.sql.SparkSession,
      table: String, path: String, buckets: Int,
      keyCols: Seq[String]): Unit = {
    // fast path: the identical (location, bucket spec) is already
    // registered — the files under it may have changed (per-run relink
    // of a pristine index), so drop the stale listing/footer caches
    // with REFRESH, but skip the per-call schema inference + DDL pair
    if (sameRegistration(spark, table, path, Some((buckets, keyCols))))
      spark.sql(s"REFRESH TABLE $table")
    else
      registerBucketedWithSchema(spark, table, path, buckets, keyCols,
        spark.read.parquet(path).schema)
  }

  /** [[registerBucketed]] for an UNBUCKETED parquet location — an
    * index sidecar (text stats, IVF centroids) — with the same fast
    * path. */
  private[graft] def registerPlain(spark: org.apache.spark.sql.SparkSession,
      table: String, path: String): Unit =
    if (sameRegistration(spark, table, path, None))
      spark.sql(s"REFRESH TABLE $table")
    else {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val schema = spark.read.parquet(path).schema
      spark.sql(s"CREATE TABLE $table (${schema.toDDL}) USING PARQUET " +
        s"LOCATION '$path'")
    }

  /** Is `table` a catalog table at `path` with exactly the bucket spec
    * `bucketing` ((buckets, key columns), or None for unbucketed)? Asks
    * the session catalog, which holds tables only: a temp view of the
    * same name is not a registration (the DROP TABLE on the slow path
    * removes it), and a non-file location never matches. */
  private def sameRegistration(spark: org.apache.spark.sql.SparkSession,
      table: String, path: String,
      bucketing: Option[(Int, Seq[String])]): Boolean = {
    val catalog = spark.sessionState.catalog
    val id = org.apache.spark.sql.catalyst.TableIdentifier(table)
    catalog.tableExists(id) && {
      val m = catalog.getTableMetadata(id)
      m.storage.locationUri.exists(u => u.getScheme == "file" &&
        new java.io.File(u).getAbsolutePath ==
          new java.io.File(path).getAbsolutePath) &&
        m.bucketSpec.map(b => (b.numBuckets, b.bucketColumnNames)) ==
          bucketing
    }
  }

  /** [[registerBucketed]] with a pre-read schema — lets
    * [[compactBucketed]] validate the new location BEFORE dropping the
    * live catalog entry, so the only step after the drop is a CREATE
    * whose inputs are already known-good. */
  private def registerBucketedWithSchema(
      spark: org.apache.spark.sql.SparkSession, table: String,
      path: String, buckets: Int, keyCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"CREATE TABLE $table (${schema.toDDL}) USING PARQUET " +
        s"CLUSTERED BY (${keyCols.mkString(", ")}) " +
        s"SORTED BY (${keyCols.mkString(", ")}) INTO $buckets BUCKETS " +
        s"LOCATION '$path'")
  }

  /** COMPACT an append-maintained bucketed table — the operational
    * counterpart of the index append paths (TextOps.appendTextIndex,
    * Similarity.appendIvfIndex, Dedup.appendLshIndex): every append adds
    * one file per bucket, and at 100 TB thousands of appends turn each
    * bucket into thousands of small files (scan-open overhead, footer
    * reads, task-per-file scheduling). This rewrites the table ONCE into
    * `newPath` with the SAME bucket/sort spec — one file per bucket —
    * and re-points the catalog entry at the new location; the old files
    * stay on disk until [[vacuum]] deletes them once readers drain (the
    * swap is catalog-atomic per statement, not transactional — run it
    * in the ingest pipeline's maintenance window, like any compaction).
    * The new location is validated (schema read) BEFORE the live entry
    * is dropped, and a failed re-register restores the OLD location —
    * the table never stays dropped. Queries, pruning, and shuffle-free
    * joins behave identically before and after (asserted by LayoutSpec).
    * Returns the old location, ready to pass to [[vacuum]]. */
  def compactBucketed(spark: org.apache.spark.sql.SparkSession,
      table: String, newPath: String, buckets: Int,
      keyCols: Seq[String]): String = {
    val oldPath = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location.toString
    val tmp = table + "_compacting"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    saveBucketed(spark.table(table), tmp, newPath, buckets, keyCols)
    // external tables: DROP removes only the catalog entry, files stay
    spark.sql(s"DROP TABLE $tmp")
    // pre-validate the new location while the live table still serves
    val newSchema = spark.read.parquet(newPath).schema
    spark.sql(s"DROP TABLE $table")
    try registerBucketedWithSchema(spark, table, newPath, buckets,
      keyCols, newSchema)
    catch { case e: Throwable =>
      // never lose the catalog entry: restore the old location
      registerBucketed(spark, table, oldPath, buckets, keyCols)
      throw e
    }
    oldPath
  }

  /** Delete a superseded table location — the completing half of
    * [[compactBucketed]] (which otherwise leaks one full table copy per
    * compaction: at 100 TB a real storage bill). Call once readers of
    * the old files have drained (same maintenance-window discipline as
    * the compaction itself). Refuses to delete a path that is STILL the
    * location of any catalog table — the guard against vacuuming the
    * live copy instead of the superseded one. */
  def vacuum(spark: org.apache.spark.sql.SparkSession,
      oldPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(oldPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val target = fs.makeQualified(p).toUri
    val catalog = spark.sessionState.catalog
    val live = catalog.listTables(catalog.getCurrentDatabase)
      .flatMap(t => scala.util.Try(catalog.getTableMetadata(t)).toOption)
      .filter { m =>
        // a table's storage location, or — for a path-backed VIEW (the
        // ValueIndex registration shape, which has no locationUri) —
        // the data and manifest paths its location property implies
        val locs = m.storage.locationUri.map(_.toString).toSeq ++
          (m.properties.get(graft.ValueIndex.PathPropHex)
              .map(graft.ValueIndex.decodePathHex) ++
            m.properties.get(graft.ValueIndex.PathProp))
            .toSeq.flatMap(p => Seq(p, p + "_manifest"))
        locs.exists(l => fs.makeQualified(
          new org.apache.hadoop.fs.Path(l)).toUri == target)
      }
      .map(_.identifier.table)
    require(live.isEmpty,
      s"vacuum($oldPath): still the live location of catalog table(s) " +
        s"${live.mkString(", ")} — compact (or drop) them first")
    fs.delete(p, true)
  }

  /** Contiguous global row ids 0..n−1 in `orderCol` order WITHOUT a
    * global window — the 100 TB replacement for
    * `row_number() OVER (ORDER BY …)`, whose empty PARTITION BY funnels
    * the entire corpus through ONE task (the single-reducer shape this
    * codebase bans). Training-example numbering, shard manifests, and
    * resumable cursors all need exactly this.
    *
    * Two passes over a range-partitioned sort (the same shape
    * `df.sort(...).write` produces): (1) a count job that materializes
    * the sort shuffle and collects ONE LONG PER PARTITION to the driver
    * — plan-time metadata, not data, same budget class as IVF centroids
    * or bootstrap schema facts; (2) a per-partition map attaching
    * offset + local index. The second pass REUSES the first's shuffle
    * files (same RDD lineage — `.rdd` is a lazy val on the Dataset), so
    * the sort happens once. One of the few legitimate `mapPartitions`
    * uses: genuinely per-partition imperative state (the running local
    * index) that no Column expression can express without the global
    * window this exists to avoid.
    *
    * `orderCol` values must be UNIQUE: ids are ranks in the global sort
    * order, and ties would make the rank (hence the id) depend on
    * physical partition layout. Output: input columns + `row_id`. */
  def contiguousIds(df: DataFrame, orderCol: String,
      numPartitions: Int = 0): DataFrame =
    contiguousIdsBy(df, Seq(orderCol), numPartitions)

  /** [[contiguousIds]] over a COMPOSITE sort key — ranks are positions
    * in the lexicographic (c1, c2, …) order; the TUPLE must be unique
    * (typical shape: a value column + an id tiebreak). */
  def contiguousIdsBy(df: DataFrame, orderCols: Seq[String],
      numPartitions: Int = 0): DataFrame = {
    require(orderCols.nonEmpty)
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(n, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    // count in a Long loop — it.size is an Int and would silently
    // overflow on a partition exceeding 2^31 rows
    val counts = sorted.rdd
      .mapPartitionsWithIndex { (i, it) =>
        var c = 0L
        while (it.hasNext) { it.next(); c += 1L }
        Iterator((i, c))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = sorted.schema.add("row_id", LongType, nullable = false)
    val withIds = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      var next = bc.value(i)
      it.map { r => val out = Row.fromSeq(r.toSeq :+ next); next += 1; out }
    }
    spark.createDataFrame(withIds, schema)
  }
}
