package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Triples

/** Persisted VALUE-ORDERED projection of cardinality-one attributes —
  * the ORDER BY analogue of the attribute-pruned scan, and the index
  * that makes a sort+limit pull SUB-LINEAR (the reference leaves sort
  * efficiency as its own TODO, tripl.py:730-732; the technique is the
  * classic zone-map / small-materialized-aggregates design: data
  * range-bucketed on the value with a tiny per-bucket (min, max, count)
  * manifest that turns "top k" into "which buckets can hold the top k").
  *
  * Layout: one parquet tree partitioned by (attr, range-bucket) — the
  * bucket of a fact is the number of build-time value quantiles below
  * it, so directories hold disjoint-ish value ranges and a top-k probe
  * PARTITION-PRUNES to the few highest buckets at planning time —
  * plus a `<path>_manifest` sidecar of per-(attr, bucket)
  * (min, max, count) rows. Probe correctness needs NO disjointness:
  * from the manifest pick a threshold t with (provably) at least k
  * facts ≥ t — walk buckets by min descending, accumulate counts to k,
  * t = the last bucket's min; every one of those rows is ≥ t — then
  * scan exactly the buckets whose max reaches t. Any value in the true
  * top k is ≥ the k-th largest ≥ t, so it lives in a scanned bucket;
  * appended buckets may OVERLAP the build ranges (they are assigned by
  * the stale manifest cuts) and the argument never notices.
  *
  * ALL range machinery (cuts, buckets, manifest stats, thresholds)
  * operates on a [[shadowOf]] DOUBLE of the value — for numeric attrs
  * the plain widening, for STRING attrs the first 6 UTF-8 bytes read as
  * a big-endian integer (exact in a double, and monotone in the
  * string's binary collation order), and for TIMESTAMP attrs the
  * store's NTZ value linearized to UTC-interpreted epoch micros by
  * pure FIELD arithmetic (unix_date + hour/minute/second — no cast
  * through the session time zone exists for NTZ, and none is needed:
  * the native sort column IS the NTZ value, whose SQL order is the
  * calendar order the field linearization reproduces; DST is a
  * property of instants, not of the local-datetime line). The micros
  * are computed EXACTLY in decimal and take ONE rounding at the final
  * cast to double — a single IEEE round-to-nearest is monotone, so
  * the shadow contract holds over the whole NTZ range (a three-term
  * double sum would not be provably monotone past 2^53 µs). Monotone
  * is all the threshold argument needs: strict shadow inequality
  * implies strict native inequality, so a shadow threshold covering k
  * rows covers the native top k; common-prefix-heavy string corpora
  * merely degrade bucket SELECTIVITY (ties collapse into one bucket),
  * never correctness. The final order always uses the NATIVE column
  * (vlong / vdbl / vstr / vts), exact at full precision.
  *
  * Scale shape at 100 TB: the manifest is O(attrs × buckets × appends
  * since the last compact) rows, held on the driver as ONE cached
  * snapshot per generation that every manifest question folds over
  * (see [[snapshots]]), the probe scans O(k + bucket width)
  * rows instead of every fact of the attribute, and the build is one
  * linear pass (quantile sketch + range shuffle) paid once and
  * append-maintained after ([[append]] never rewrites or re-reads the
  * existing data — same contract as the LSH/text/IVF index family).
  *
  * CATALOG CONTRACT: [[register]] publishes the layout as two VIEWS
  * over the parquet paths (`table`, `table_manifest`), each carrying
  * the data location in a table property. Re-pointing an existing view
  * uses ONLY atomic `alterTable` mutations (ALTER VIEW SET
  * TBLPROPERTIES / ALTER VIEW AS — never CREATE OR REPLACE VIEW, which
  * Spark implements as drop + create and thus opens a real "table not
  * found" window for concurrent readers), so [[compact]]'s swap never
  * makes the name vanish, and probes resolve BOTH the data and the
  * manifest from a SINGLE read of that property, so a probe planned
  * while a compact lands sees one generation of the index, never new
  * data under an old manifest.
  * Partition discovery and pruning come from the filesystem layout
  * (listing is cached per path), so there is no per-register partition
  * recovery (the old MSCK — a metadata scan of every (a, bkt)
  * directory) and no catalog partition set to go stale when the path
  * is rewritten out-of-band.
  *
  * SNAPSHOT CONTRACT (same as [[TripleStore.source]]): the index must
  * cover the store's current facts for its attributes — build it from
  * the store you query, [[append]] every ingested batch (NEW
  * (entity, attr) facts only between compactions — see append's upsert
  * caveat and [[compact]]'s latest-txId reconciliation), and note that
  * every TripleStore write op returns a store with the index handle
  * DROPPED (a snapshot can't see the write). A store queries it only
  * through [[TripleStore.withValueIndex]]. */
object ValueIndex {
  /** Bump when the table layout changes incompatibly — probes fail fast
    * with a rebuild message instead of silently mis-reading (the lshv2
    * lesson: a format change with no stamp strands old persisted
    * tables). */
  private[graft] val Fmt = 6
                      // v6: manifest rows carry suml — the per-bucket
                      // SUM of native LONG values (null for non-long
                      // attrs, and for buckets whose decimal-computed
                      // total falls outside the long range), the
                      // materialized aggregate the sum pushdown reads
                      // for buckets provably inside a range; exact and
                      // order-independent, with every overflow path
                      // declining to the exact fallback
                      // (v5: data rows carry vts — NTZ timestamp attrs
                      // served through the decimal-exact field-micros
                      // shadow — and registration stamps the location
                      // as a HEX property, created WITH the view
                      // definition on fresh names, flipped by atomic
                      // ALTER VIEW mutations on existing ones, never
                      // CREATE OR REPLACE, which Spark implements as
                      // drop + create: a real not-found window;
                      // v4 added manifest maxtx; v3 vstr rows, the
                      // string shadow keying, and view registration)

  /** Catalog property on the index's views naming the data location —
    * the ONE value a probe reads to resolve both the data and the
    * manifest (what makes [[compact]]'s swap atomic for probes). The
    * value is the UTF-8 path HEX-ENCODED: the property must NEVER go
    * absent on a registered name (the v4 drop-recreate design had such
    * a window — a probe then fell back to per-name views and could
    * pair new data with an old manifest), which [[register]] ensures
    * by creating it with the view and thereafter only flipping it via
    * atomic ALTERs; and no single string-literal escaping is
    * parser-mode-proof (backslash handling flips with
    * spark.sql.parser.escapedStringLiterals) — hex digits
    * need no escaping in ANY mode. `private[graft]`:
    * [[graft.ops.Layout.vacuum]]'s live-location guard must treat
    * property-named paths as live. */
  private[graft] val PathPropHex = "graft.vidx.pathhex"

  /** The pre-v5 RAW-path property — read-only legacy support so a
    * stale v4 registration resolves far enough to hit the format gate's
    * loud rebuild message (instead of a confusing view-has-no-location
    * error). Never written. */
  private[graft] val PathProp = "graft.vidx.path"

  /** The v$Fmt data-tree schema, partition columns (`a`, `bkt`) included.
    * Every read of an index path pins it (and [[ManifestSchema]]), so
    * opening a generation lists files but never runs a parquet
    * schema-inference job. */
  private val DataSchema = StructType(Seq(
    StructField("e", StringType), StructField("vlong", LongType),
    StructField("vdbl", DoubleType), StructField("vstr", StringType),
    StructField("vts", TimestampNTZType), StructField("vnum", DoubleType),
    StructField("txId", LongType), StructField("a", StringType),
    StructField("bkt", IntegerType)))

  /** The v$Fmt manifest schema ([[manifestOf]]'s columns). A legacy
    * manifest missing a column reads it as null: a missing `fmt` fails
    * every reader's format gate, and `maxtx`/`suml` only ever go missing
    * on manifests stamped below v4/v6, which those gates reject. */
  private val ManifestSchema = StructType(Seq(
    StructField("minv", DoubleType), StructField("maxv", DoubleType),
    StructField("cnt", LongType), StructField("maxtx", LongType),
    StructField("fmt", IntegerType), StructField("suml", LongType),
    StructField("a", StringType), StructField("bkt", IntegerType)))

  private def readData(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(DataSchema).parquet(path)

  private[graft] def encodePathHex(p: String): String =
    p.getBytes("UTF-8").map("%02x".format(_)).mkString
  private[graft] def decodePathHex(h: String): String =
    new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
      "UTF-8")

  /** The location a table's catalog metadata names: the v5 hex
    * property, a legacy v4 raw property, or — for a plain external
    * TABLE (tests, pre-v3 sessions) — its storage location. */
  private def pathOfMeta(
      m: org.apache.spark.sql.catalyst.catalog.CatalogTable): Option[String] =
    m.properties.get(PathPropHex).map(decodePathHex)
      .orElse(m.properties.get(PathProp))

  /** Order-preserving DOUBLE shadow of the fact's value: numeric values
    * widen (exact for doubles; monotone for 64-bit longs), strings map
    * to their first 6 UTF-8 bytes as a big-endian integer (< 2^48, so
    * integer-exact in a double; byte-prefix order is monotone in the
    * binary collation Spark compares strings with), and NTZ timestamps
    * linearize to UTC-interpreted epoch micros by pure field
    * arithmetic — unix_date/hour/minute/date_part are TZ-free field
    * reads on NTZ (the cast routes through the session TZ and is
    * rejected by Spark anyway), computed exactly in decimal so the
    * cast to double is ONE monotone rounding, not a sum of three. */
  private[graft] def shadowOf: Column = {
    val micros = unix_date(col("vts").cast("date"))
        .cast("decimal(38,6)") * lit(86400000000L) +
      (hour(col("vts")) * lit(3600L) + minute(col("vts")) * lit(60L))
        .cast("decimal(38,6)") * lit(1000000L) +
      date_part(lit("SECOND"), col("vts")).cast("decimal(38,6)") *
        lit(1000000L)
    coalesce(col("vdbl"), col("vlong").cast("double"),
      micros.cast("double"),
      conv(rpad(hex(substring(encode(col("vstr"), "UTF-8"), 1, 6)),
        12, "0"), 16, 10).cast("double"))
  }

  /** DRIVER-SIDE twin of [[shadowOf]] for a single literal value — what
    * [[rangeEids]] turns a range bound into before pruning buckets
    * against the manifest's shadow [min, max]. Must agree with the
    * column form bit-for-bit on every supported type (PropertySpec
    * pins this): longs/ints widen, doubles pass through, strings take
    * the first 6 UTF-8 bytes as a big-endian integer zero-padded on the
    * right (= the column's hex/rpad form), NTZ timestamps linearize to
    * UTC-interpreted epoch micros computed exactly in Long with ONE
    * rounding at the final toDouble. None = a type the shadow can't
    * represent — the caller declines to probe and falls back. */
  private[graft] def shadowOfValue(v: Any): Option[Double] = v match {
    case null => None
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case l: Long => Some(l.toDouble)
    case i: Int => Some(i.toDouble)
    case s: Short => Some(s.toDouble)
    case b: Byte => Some(b.toDouble)
    case s: String =>
      val bs = s.getBytes("UTF-8")
      var acc = 0L
      var i = 0
      while (i < 6) {
        acc = (acc << 8) | (if (i < bs.length) bs(i) & 0xffL else 0L)
        i += 1
      }
      Some(acc.toDouble)
    case t: java.time.LocalDateTime =>
      // exact in Long over the NTZ range (≤ ~2.5e17 µs for year 9999),
      // then the single monotone IEEE rounding — mirrors the decimal
      // column arithmetic
      Some((t.toLocalDate.toEpochDay * 86400000000L +
        t.toLocalTime.toNanoOfDay / 1000L).toDouble)
    case _ => None
  }

  /** Per-attr shadow-quantile cut points — one aggregate + one bounded
    * collect (attrs × (nBuckets−1) doubles). */
  private def cutsOf(base: DataFrame, nBuckets: Int): Map[String, Seq[Double]] = {
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    base.groupBy(col("a"))
      .agg(percentile_approx(col("vnum"),
        array(probs.map(lit): _*), lit(10000)).as("cuts"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toSeq).toMap
  }

  /** The (a, bkt)-partitioned data tree + manifest sidecar at `path`.
    * Files are sorted within partitions on the shadow, so a pruned scan
    * reads value-clustered row groups. */
  private def writeLayout(data: DataFrame, path: String): Unit = {
    data.repartition(col("a"), col("bkt"))
      .sortWithinPartitions(col("a"), col("bkt"), col("vnum"))
      .select(DataSchema.fieldNames.toSeq.map(col): _*)
      .write.mode("overwrite").partitionBy("a", "bkt").parquet(path)
    manifestOf(data)
      .write.mode("overwrite").parquet(path + "_manifest")
  }

  /** Build the index for `attrs` (each must be declared cardinality-one
    * with a long, double, or string value type). One pass computes
    * per-attr shadow quantiles (the bucket cuts), one range-partitioned
    * write lays the data out, the manifest aggregates from the same
    * scan, and the views register over the fresh paths. */
  def build(store: TripleStore, table: String, path: String,
      attrs: Seq[String], nBuckets: Int = 64): Unit = {
    require(attrs.nonEmpty && nBuckets >= 2)
    val spark = store.spark
    attrs.foreach { a =>
      val s = store.schemaOf(a)
      require(s.cardOne && (s.vtype == Triples.VLong ||
          s.vtype == Triples.VDbl || s.vtype == Triples.VStr ||
          s.vtype == Triples.VTs),
        s"valueIndex attr $a must be cardinality-one with a long, " +
          s"double, string, or timestamp value type (got " +
          s"card-${if (s.cardOne) "one" else "many"} ${s.vtype})")
    }
    // index ONLY facts carrying a native value of the attr's DECLARED
    // type: a mixed-type stray (vtype drift within an attr — legal in
    // the EAV model) would otherwise take its shadow from the wrong
    // value column and be COUNTED by the manifest while every native
    // predicate rejects it — poisoning the aggregate pushdowns, which
    // read manifest counts/sums as native-predicate-equivalent, and
    // shifting percentile ranks
    val typedFacts = attrs.map(a => col("a") === a &&
        col(Triples.valueColFor(store.schemaOf(a).vtype)).isNotNull)
      .reduce(_ || _)
    val base = store.scanFor(attrs)
      .where(typedFacts)
      .select(col("a"), col("e"), col("vlong"), col("vdbl"), col("vstr"),
        col("vts"), shadowOf.as("vnum"), col("txId"))
      .where(col("vnum").isNotNull)
      .persist()
    try {
      val data = base.withColumn("bkt", bucketOf(cutsOf(base, nBuckets)))
      writeLayout(data, path)
      register(spark, table, path)
    } finally base.unpersist()
  }

  /** Append a batch store's facts for the index's attributes: the batch
    * alone is scanned, bucketed by the EXISTING manifest's cuts (per
    * attr, the per-bucket min shadows — an appended row between two old
    * buckets' ranges lands in one of them; the probe's threshold
    * argument tolerates the overlap), and appended to both trees. The
    * existing corpus is never read or rewritten — which also means a
    * batch that RE-asserts a card-one attr for an already-indexed
    * entity leaves the stale row beside the new one: probes in that
    * window can rank the entity by the old value (and return it twice).
    * [[compact]] reconciles (latest txId per (a, e) wins, the store's
    * own resolution rule); until then append is exact only for batches
    * asserting NEW (entity, attr) facts — the append-only norm of a
    * training-corpus ingest. Appending into a pre-v3 layout fails loud
    * at the WRITE (probes would anyway: mixed-format rows poison the
    * manifest). */
  def append(batch: TripleStore, table: String): Unit = {
    val spark = batch.spark
    val path = dataPathOf(spark, table)
    // format check + cut harvest, both folds over the manifest snapshot
    val man = snapshot(spark, path)
    requireCurrent(man, table, " before appending (mixed-format rows " +
      "would poison probes)")
    val cuts: Map[String, Seq[Double]] = man.groupBy(_.a).map {
      case (a, rs) =>
        // drop the lowest bucket's min: k cut points make k+1 buckets,
        // and values below every cut belong in bucket 0
        a -> rs.map(_.minv).sortWith(cmp(_, _) < 0).toSeq.drop(1)
    }
    require(cuts.nonEmpty, s"valueIndex $table has an empty manifest")
    // same declared-type fact filter as build (see build's comment)
    val typedFacts = cuts.keys.toSeq.map(a => col("a") === a &&
        col(Triples.valueColFor(batch.schemaOf(a).vtype)).isNotNull)
      .reduce(_ || _)
    val base = batch.scanFor(cuts.keys.toSeq)
      .where(typedFacts)
      .select(col("a"), col("e"), col("vlong"), col("vdbl"), col("vstr"),
        col("vts"), shadowOf.as("vnum"), col("txId"))
      .where(col("vnum").isNotNull)
      .persist()
    try {
      val data = base.withColumn("bkt", bucketOf(cuts))
      data.select(DataSchema.fieldNames.toSeq.map(col): _*)
        .write.mode("append").partitionBy("a", "bkt").parquet(path)
      manifestOf(data)
        .write.mode("append").parquet(path + "_manifest")
      // appended files must be visible past any cached listing
      spark.catalog.refreshByPath(path)
      spark.catalog.refreshByPath(path + "_manifest")
    } finally base.unpersist()
  }

  /** Publish catalog entries for an EXISTING index layout: views
    * `table` over the (a, bkt)-partitioned data at `path` and
    * `table_manifest` over the sidecar, each stamped with the location
    * property probes resolve through. A fresh name is ONE `CREATE VIEW
    * ... TBLPROPERTIES` (definition + property in one catalog create);
    * an existing view is re-pointed by an `ALTER VIEW SET
    * TBLPROPERTIES` + `ALTER VIEW AS` pair — each a SINGLE atomic
    * `alterTable`, so a by-name reader NEVER sees the name missing.
    * (`CREATE OR REPLACE VIEW` is NOT that: Spark's CreateViewCommand
    * implements replace as dropTable + createTable — sql/core
    * execution/command/views.scala — and the concurrent-reader hammer
    * in TripleStoreSpec catches the not-found window.) The DEFINITION
    * flips first: `ALTER VIEW AS` analyzes its query, so an unreadable
    * path fails loud BEFORE any catalog mutation (no extra validation
    * scan needed), and a probe straddling the pair — which resolves
    * BOTH data and manifest from the property alone — still reads the
    * complete OLD generation, never a mixed pairing (the v4 bug was a
    * window with the property ABSENT, which dropped probes into
    * per-name fallback pairing new data with the old manifest; here it
    * is merely one step stale, and a crash between the two statements
    * leaves probes on the old path, which the property still names so
    * [[graft.ops.Layout.vacuum]]'s live-location guard keeps its files).
    * A view over a path needs no partition recovery, so a persisted
    * index reopens in a new session at catalog-metadata cost. A
    * same-named plain TABLE (a pre-v3 registration) is NOT silently
    * dropped — run [[migrate]] (CLI: vidxmigrate) so the one remaining
    * non-atomic transition is an explicit maintenance action, never a
    * side effect of a routine register. */
  def register(spark: SparkSession, table: String, path: String): Unit =
    for ((t, p) <- Seq((table, path), (table + "_manifest", path + "_manifest"))) {
      val isView = spark.catalog.tableExists(t) && {
        val tt = spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(t)).tableType
        if (tt != org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW)
          sys.error(s"valueIndex $t exists as a plain TABLE (a pre-v3 " +
            "registration) — run ValueIndex.migrate (CLI: vidxmigrate) " +
            "to convert it; register never drops tables, so the steady " +
            "state stays atomic view mutations")
        true
      }
      // the path is USER input: in the one DDL position it must occupy
      // (the quoted identifier) backtick DOUBLING is the complete
      // escape — quotes and spaces are literal between backticks in
      // every parser mode. Spark resolves a direct file query's path
      // as a file GLOB, so glob metacharacters cannot be made literal
      // there at all — reject them LOUDLY instead of registering a
      // view that silently resolves elsewhere. The location PROPERTY
      // value is HEX-ENCODED ([[PathPropHex]]): hex survives every
      // string-literal escaping mode unchanged.
      require(!p.exists("\\*?[]{}".contains(_)),
        s"valueIndex path '$p' contains glob metacharacters " +
          "(\\ * ? [ ] { }) — the catalog views resolve paths as file " +
          "globs, so such a path would silently read the wrong files")
      val ip = p.replace("`", "``")
      if (!isView)
        spark.sql(s"CREATE VIEW $t TBLPROPERTIES " +
          s"('$PathPropHex'='${encodePathHex(p)}') " +
          s"AS SELECT * FROM parquet.`$ip`")
      else {
        // definition first: its analysis validates the path, so a bad
        // path fails loud with the catalog untouched
        spark.sql(s"ALTER VIEW $t AS SELECT * FROM parquet.`$ip`")
        spark.sql(s"ALTER VIEW $t SET TBLPROPERTIES " +
          s"('$PathPropHex'='${encodePathHex(p)}')")
      }
      // the path may have been rewritten/relinked since a prior
      // registration cached its listing
      spark.catalog.refreshByPath(p)
    }

  /** Convert a pre-v3 PLAIN-TABLE registration (table + table_manifest
    * as external parquet TABLEs) to the v5 view shape, re-registering
    * over the tables' own storage locations. This is the ONE
    * non-atomic catalog transition left in the lifecycle (DROP TABLE
    * then CREATE VIEW — a reader in the gap sees "table not found"),
    * so it is an explicit maintenance verb run once per legacy index,
    * never part of build/append/compact/register. The data itself
    * still predates v$Fmt and fails the format gate at the first
    * probe — migrate fixes the CATALOG shape; rebuild fixes the rows. */
  def migrate(spark: SparkSession, table: String): Unit = {
    val view = org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW
    val cat = spark.sessionState.catalog
    val m = cat.getTableMetadata(TableIdentifier(table))
    require(m.tableType != view,
      s"valueIndex $table is already view-registered — nothing to migrate")
    val path = m.location.toString
    // [[register]] resolves the manifest as `path + "_manifest"` — if
    // the legacy manifest TABLE actually lives elsewhere, dropping it
    // would strand the layout (both names gone, register then fails on
    // the missing sidecar path, no catalog entry left). Check BEFORE
    // touching the catalog so a refusal leaves everything as found.
    val manT = table + "_manifest"
    val norm = (p: String) => p.stripSuffix("/")
    if (spark.catalog.tableExists(manT)) {
      val mm = cat.getTableMetadata(TableIdentifier(manT))
      if (mm.tableType != view)
        require(norm(mm.location.toString) == norm(path + "_manifest"),
          s"valueIndex manifest table $manT lives at ${mm.location} — " +
            s"not beside the data at ${path}_manifest where register " +
            "resolves it; relocate the sidecar (or rebuild with " +
            "ValueIndex.build) before migrating")
    }
    // DROP TABLE on a VIEW name throws in Spark 4 — a half-migrated
    // layout (manifest already a view from a crashed prior migrate)
    // must drop each name by its ACTUAL catalog type
    for (t <- Seq(table, manT) if spark.catalog.tableExists(t)) {
      val isView = cat.getTableMetadata(TableIdentifier(t)).tableType == view
      spark.sql(if (isView) s"DROP VIEW IF EXISTS $t"
                else s"DROP TABLE IF EXISTS $t")
    }
    register(spark, table, path)
  }

  /** The data location behind `table`: the view's [[PathPropHex]] (or
    * legacy raw [[PathProp]]), or — for a layout registered as a plain
    * external TABLE by other means (tests, older sessions) — its
    * storage location. */
  private def dataPathOf(spark: SparkSession, table: String): String = {
    val m = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
    pathOfMeta(m).getOrElse(m.location.toString)
  }

  /** One resolved GENERATION of the index: the (manifest, data) frame
    * constructors a probe — and the asc universe proof that licenses
    * it — must share, so the pair can never straddle a concurrent
    * [[compact]] (which swaps the location property to a NEW path; two
    * independent resolves could prove the universe against the old
    * generation and probe the new). The manifest is read at most once
    * per Gen, on first use, so a format error surfaces before the data
    * path is touched and every bucket question one probe asks is
    * answered from the same rows. */
  private[graft] final class Gen(table: String,
      readManifest: () => Array[ManRow], val dat: () => DataFrame) {
    lazy val manifest: Array[ManRow] = readManifest()
    def bucketStats(attr: String): Array[BucketStat] =
      ValueIndex.bucketStats(manifest, table, attr)
  }

  /** Resolve the probe-facing generation. A view-registered index
    * resolves BOTH frames from one read of the location property — the
    * snapshot-consistency half of the atomic-swap story — and reads its
    * manifest through the [[snapshot]] cache; anything else falls back
    * to per-name catalog resolution (legacy tables, specs that
    * hand-build manifests), collected uncached. */
  private[graft] def resolveGeneration(spark: SparkSession,
      table: String): Gen = {
    val at: Option[String] =
      if (!spark.catalog.tableExists(table)) None
      else pathOfMeta(spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(table)))
    at match {
      case Some(p) =>
        new Gen(table, () => snapshot(spark, p), () => readData(spark, p))
      case None =>
        new Gen(table, () => collectManifest(spark.table(table + "_manifest")),
          () => spark.table(table))
    }
  }

  /** Re-cut and rewrite the index into `newPath` — the MAINTENANCE
    * VALVE for the append path. [[append]] harvests its cut points from
    * the manifest (which already holds prior appends' rows), so cuts
    * trail the data: drifted batches open fresh edge buckets past the
    * build-time ids, every append adds one file and one manifest row
    * per touched bucket (the small-file fragmentation every
    * append-maintained layout accrues), and as harvested cuts shift,
    * bucket VALUE RANGES smear across ids. Probes stay EXACT throughout
    * (the threshold argument never needed bucket disjointness) but the
    * partition-pruned scan and the manifest read widen with the
    * fragmentation. Compaction recomputes the quantile cuts over the
    * CURRENT rows and rewrites both trees — back to nBuckets tight
    * buckets, one file and one manifest row each; O(index) work,
    * index-only (the store is never re-scanned) — then swaps the
    * catalog entries to the new location via [[register]]'s ALTER VIEW
    * pair: every mutation is an atomic alterTable, so a concurrent
    * reader always resolves the table (old or new generation, never
    * "not found"), and a PROBE — which resolves data + manifest from
    * the single location property — always sees one generation, never
    * new data under an old manifest. (A SQL user reading the two views
    * directly in separate queries can still straddle the swap; the
    * probe path cannot.) Returns the old (data, manifest) locations
    * for [[graft.ops.Layout.vacuum]] once readers drain. */
  def compact(spark: SparkSession, table: String, newPath: String,
      nBuckets: Int = 64): (String, String) = {
    val oldPath = dataPathOf(spark, table)
    // compact is v$Fmt-ONLY: it consumes data rows that build/append
    // wrote under the current format, whose invariant (declared-type
    // fact filter — rows whose declared value column is null were
    // dropped at index time) the aggregate pushdowns rely on when they
    // treat manifest counts as native-predicate-equivalent. A foreign
    // format's rows (e.g. the old v5 layout) may predate that filter,
    // and compact has no store handle to re-apply it — migrating them
    // would launder a type-drifted stray into a tree whose counts the
    // pushdowns trust. So any non-current row forces a rebuild from
    // the store, which re-runs the filter by construction.
    requireCurrent(snapshot(spark, oldPath), table, " (compact migrates " +
      "no foreign formats: only a rebuild from the store re-applies the " +
      "declared-type fact filter the aggregate pushdowns rely on)")
    // RECONCILE UPSERTS: append never reads the existing corpus, so a
    // batch that re-asserted a card-one attr for an already-indexed
    // entity left the stale row beside the new one (probes between that
    // append and this compact see both). Keep the latest txId per
    // (a, e) — map-side-combinable max_by, shadow+native tie-break for
    // determinism on equal-tx duplicates — exactly the store's own
    // latest-tx-wins resolution, applied to the index's rows.
    val latest = readData(spark, oldPath)
      .groupBy(col("a"), col("e"))
      .agg(max_by(
        struct(col("vlong"), col("vdbl"), col("vstr"), col("vts"),
          col("vnum"), col("txId")),
        // vts joins the equal-tx tie-break: past 2^53 µs two distinct
        // NTZ values can share one double shadow, and vstr is null for
        // timestamp rows — without the native column the pick between
        // such twins would be partition-order nondeterministic
        struct(col("txId"), col("vnum"), col("vstr"), col("vts")))
        .as("_m"))
      .select(col("a"), col("e"), col("_m.vlong").as("vlong"),
        col("_m.vdbl").as("vdbl"), col("_m.vstr").as("vstr"),
        col("_m.vts").as("vts"), col("_m.vnum").as("vnum"),
        col("_m.txId").as("txId"))
    val base = latest.persist()
    try {
      val data = base.withColumn("bkt", bucketOf(cutsOf(base, nBuckets)))
      writeLayout(data, newPath)
      try register(spark, table, newPath)
      catch { case e: Throwable =>
        // never strand the live names mid-swap: restore the old
        // location on both views, then surface the failure
        try register(spark, table, oldPath)
        catch { case r: Throwable => e.addSuppressed(r) }
        throw e
      }
      // the swap supersedes the old generation: its snapshot (keyed by
      // the OLD path) can never be read again — probes resolve the new
      // location — so drop it now rather than leak one manifest per
      // compaction for the JVM's lifetime in a long-running service
      snapshots.remove(oldPath)
      (oldPath, oldPath + "_manifest")
    } finally base.unpersist()
  }

  /** bucket = number of this attr's cut points strictly below the
    * shadow (0 .. |cuts|), as one literal-map lookup + bounded HOF — no
    * shuffle, no UDF. */
  private def bucketOf(cuts: Map[String, Seq[Double]]) = {
    val cutsMap = map_from_arrays(
      array(cuts.keys.toSeq.map(lit): _*),
      array(cuts.values.toSeq.map(cs => array(cs.map(lit): _*)): _*))
    size(filter(element_at(cutsMap, col("a")),
      c => col("vnum") > c)).cast("int")
  }

  private def manifestOf(data: DataFrame): DataFrame =
    data.groupBy(col("a"), col("bkt"))
      .agg(min(col("vnum")).as("minv"), max(col("vnum")).as("maxv"),
        count(lit(1)).as("cnt"), max(col("txId")).as("maxtx"),
        // per-bucket materialized SUM of native long values (null for
        // non-long attrs) — what the sum pushdown reads for buckets
        // provably inside a range. Summed in DECIMAL(38,0) so the
        // build can never overflow (ANSI mode would THROW on a LONG
        // sum); a bucket total outside the long range stores NULL and
        // the pushdown declines to the exact fallback, which owns the
        // engine-native overflow semantics
        sum(col("vlong").cast("decimal(38,0)")).as("_sumd"))
      .select(col("minv"), col("maxv"), col("cnt"), col("maxtx"),
        lit(Fmt).as("fmt"),
        when(col("_sumd").between(lit(Long.MinValue), lit(Long.MaxValue)),
          col("_sumd").cast("long")).as("suml"),
        col("a"), col("bkt"))

  /** One manifest row on the driver, read through [[ManifestSchema]].
    * `fmt`, `maxtx` and `suml` are None where the row holds a null: a
    * legacy manifest without the column, or (suml only) a non-long attr
    * or a bucket total outside the long range. The other fields fall
    * back to NaN / 0 only on legacy rows, which no format gate admits. */
  private[graft] final case class ManRow(a: String, bkt: Int, minv: Double,
      maxv: Double, cnt: Long, maxtx: Option[Long], fmt: Option[Int],
      suml: Option[Long])

  /** Collect a manifest frame into driver rows: ONE plain scan, no
    * aggregate. The frame is projected onto [[ManifestSchema]] first, so
    * a per-name legacy manifest lacking a column reads it as null exactly
    * as a pinned path read does. */
  private def collectManifest(man: DataFrame): Array[ManRow] = {
    val have = man.columns.toSet
    man.select(ManifestSchema.fields.toSeq.map(f =>
        (if (have(f.name)) col(f.name) else lit(null))
          .cast(f.dataType).as(f.name)): _*)
      .collect()
      .map { r =>
        def opt[T](c: String): Option[T] =
          Option(r.get(r.fieldIndex(c))).map(_.asInstanceOf[T])
        ManRow(r.getString(r.fieldIndex("a")), opt[Int]("bkt").getOrElse(0),
          opt[Double]("minv").getOrElse(Double.NaN),
          opt[Double]("maxv").getOrElse(Double.NaN),
          opt[Long]("cnt").getOrElse(0L), opt[Long]("maxtx"),
          opt[Int]("fmt"), opt[Long]("suml"))
      }
  }

  /** Manifest SNAPSHOTS per generation (data) path: the raw manifest
    * rows, O(attrs × buckets × appends since the last compact), so
    * driver-sized. Every manifest question (bucket stats, health,
    * the valve's frag, append's cut harvest, the format gates, maxTx,
    * fact counts) is a fold over the snapshot, so one plain scan serves
    * all of them until the manifest changes. An entry is VALIDATED by
    * the manifest directory's file listing ([[manifestFingerprint]]):
    * every mutation that can change the manifest changes the listing —
    * [[append]] adds NEW part files (parquet files are immutable and
    * Spark mints fresh UUID names per write), [[build]]/[[compact]]
    * write a fresh tree (compact under a NEW path, so even the key
    * moves). A warm read therefore pays ONE filesystem LIST (a single
    * RPC on an object store, sub-ms locally) instead of a scheduled
    * Spark job — the dominant fixed cost of zone-map probes and of the
    * valve on small-to-mid corpora, and the steady-state serving cost at
    * 100 TB. Unlike a blind per-path memo, the listing check also
    * catches the OUT-OF-BAND append the asc-proof memo defends against
    * (the hazard mutates the path in place — and in doing so adds
    * files). Bounded: one entry per live index generation ([[compact]]
    * evicts the superseded one). */
  private val snapshots = scala.collection.concurrent.TrieMap
    .empty[String, (String, Array[ManRow])]

  /** Test hook: the generation paths currently held by [[snapshots]] —
    * pins compact's eviction of superseded paths. */
  private[graft] def snapshotCacheKeys: Set[String] = snapshots.keySet.toSet

  /** name:length:mtime fingerprint of the manifest directory listing —
    * the snapshot-validation token. Missing dir fingerprints to "" (the
    * read in [[snapshot]] then fails loud on its own). */
  private def manifestFingerprint(spark: SparkSession,
      path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path + "_manifest")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) ""
    else fs.listStatus(p)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("\n")
  }

  /** The manifest rows of the generation at `path`, through
    * [[snapshots]]. The fingerprint is taken BEFORE the scan, so a
    * concurrent append can only make a cached snapshot look stale,
    * never make a stale one look current. */
  private def snapshot(spark: SparkSession, path: String): Array[ManRow] = {
    val fp = manifestFingerprint(spark, path)
    snapshots.get(path) match {
      case Some((f, rows)) if f == fp => rows
      case _ =>
        val rows = collectManifest(
          spark.read.schema(ManifestSchema).parquet(path + "_manifest"))
        snapshots.put(path, (fp, rows))
        rows
    }
  }

  /** The null-safe format gate the manifest readers share: a row not
    * stamped with the current format — a null stamp included, which is
    * how a manifest with no `fmt` column reads — fails LOUD with the
    * rebuild message. Silently skipping stale rows would report (or
    * probe) an index whose other readers are about to refuse. */
  private def requireCurrent(man: Array[ManRow], table: String,
      why: String = ""): Unit =
    require(man.forall(_.fmt.contains(Fmt)),
      s"valueIndex $table holds pre-v$Fmt manifest rows — rebuild with " +
        s"ValueIndex.build$why")

  /** ALL driver-side shadow comparisons use java.lang.Double.compare —
    * the total order with NaN LARGEST, which is exactly Spark SQL's
    * ordering AND predicate semantics for NaN. Scala's IEEE operators
    * would disagree (NaN >= t is false), silently pruning the bucket
    * holding a double attr's NaN facts out of a desc scan while the
    * fallback ranks them first. (String shadows are always finite —
    * the NaN analysis is vacuous there.) */
  private def cmp(a: Double, b: Double): Int = java.lang.Double.compare(a, b)
  private def shadowMin(xs: Array[Double]): Double =
    xs.reduce((x, y) => if (cmp(x, y) <= 0) x else y)
  private def shadowMax(xs: Array[Double]): Double =
    xs.reduce((x, y) => if (cmp(x, y) >= 0) x else y)

  /** The largest txId any indexed fact carries — read from the MANIFEST
    * (every build/append/compact batch stamps its max onto the rows it
    * writes), so a caller minting the next append's txId pays a fold
    * over the snapshot, never a corpus scan. 0 when the index is empty. */
  private[graft] def maxTx(spark: SparkSession, table: String): Long = {
    val m = resolveGeneration(spark, table).manifest
    // maxtx arrived in v4: an unstamped or older row carries none
    require(m.forall(_.fmt.exists(_ >= 4)),
      s"valueIndex $table predates format v$Fmt — rebuild it with " +
        "ValueIndex.build (older manifests carry no maxtx bookkeeping)")
    m.flatMap(_.maxtx).maxOption.getOrElse(0L)
  }

  /** Per-attr indexed-fact counts summed from the MANIFEST snapshot —
    * the receipt the CLI build/append verbs print, O(manifest) like
    * [[maxTx]] (the v4 receipt ran groupBy().count() over the full
    * index: an O(index) scan four lines after append's own "must stay
    * O(batch)" argument — at 100 TB the receipt dwarfed the append).
    * Counts include not-yet-compacted upsert duplicates, exactly as
    * counting the data rows would. Fails LOUD on any non-current
    * manifest row, same as [[stats]]/[[bucketStats]] — silently
    * excluding stale rows would print an under-counted receipt for an
    * index whose first probe is about to refuse with the rebuild
    * message. */
  private[graft] def factCounts(spark: SparkSession,
      table: String): DataFrame = {
    val m = resolveGeneration(spark, table).manifest
    requireCurrent(m, table, " (receipts and probes must agree on the " +
      "rebuild story)")
    import spark.implicits._
    m.groupBy(_.a).toSeq.sortBy(_._1)
      .map { case (a, rs) => (table, a, rs.map(_.cnt).sum) }
      .toDF("table", "attr", "n_facts")
  }

  /** One bucket summary row: (bkt, min shadow, max shadow, fact count,
    * manifest-row count, native-long sum). The nman field is the append
    * detector: build and compact write EXACTLY one manifest row per
    * (a, bkt), and the first append after either lands in the existing
    * bucket-id space (its cuts are harvested from the
    * one-row-per-bucket manifest, so it can mint no new ids), so
    * `nman == 1` on every bucket ⟺ no append since the last
    * build/compact ⟺ the layout holds one row per (a, e) — the
    * PRISTINE state exact-membership probes require. The suml field is
    * the materialized per-bucket SUM of native long values (None for
    * non-long attrs, and whenever a row's sum is missing or the total
    * leaves the long range) the sum pushdown reads. */
  private[graft] type BucketStat = (Int, Double, Double, Long, Long,
    Option[Long])

  /** Per-bucket [[BucketStat]]s for `attr`, folded from the manifest
    * rows, and the format gate: an unstamped manifest, or ANY row for
    * the attr carried by a non-current format, fails LOUD —
    * aggregating only current-format rows while the data scan reads
    * every file would silently drop top-k rows living in buckets the
    * stale manifest rows describe. Empty result = attr not indexed (the
    * caller's decline-to-fallback case). [[TripleStore]]'s asc-proof
    * path folds ONCE (through [[Gen.bucketStats]]) and threads the
    * result through [[provesUniverse]] and [[topKEids]]. */
  private[graft] def bucketStats(man: Array[ManRow], table: String,
      attr: String): Array[BucketStat] = {
    require(man.forall(_.fmt.isDefined),
      s"valueIndex $table predates format v$Fmt — rebuild it with " +
        "ValueIndex.build (old tables carry no version stamp)")
    val rows = man.filter(_.a == attr)
    require(rows.forall(_.fmt.contains(Fmt)),
      s"valueIndex $table holds pre-v$Fmt rows for $attr — rebuild " +
        s"with ValueIndex.build (v$Fmt data rows carry vstr and the " +
        "shadow keying; older rows cannot be probed)")
    rows.groupBy(_.bkt).toArray.sortBy(_._1).map { case (b, rs) =>
      // summed in decimal so a multi-row (appended) bucket's total can
      // never overflow the fold itself; out-of-long-range totals become
      // None and the sum pushdown declines
      val suml =
        if (rs.exists(_.suml.isEmpty)) None
        else toLongOpt(rs.foldLeft(java.math.BigDecimal.ZERO)((acc, r) =>
          acc.add(java.math.BigDecimal.valueOf(r.suml.get))))
      (b, shadowMin(rs.map(_.minv)), shadowMax(rs.map(_.maxv)),
        rs.map(_.cnt).sum, rs.length.toLong, suml)
    }
  }

  private val LongMinBD = new java.math.BigDecimal(Long.MinValue)
  private val LongMaxBD = new java.math.BigDecimal(Long.MaxValue)
  private def toLongOpt(bd: java.math.BigDecimal): Option[Long] =
    if (bd.compareTo(LongMinBD) >= 0 && bd.compareTo(LongMaxBD) <= 0)
      Some(bd.longValueExact()) else None

  /** ONE bounded aggregate proving `ents` IS exactly `attr`'s fact
    * universe in the index, one row per entity — the sound form of the
    * asc-serving proof, three conditions from one left-join aggregate:
    * every ent matches an index row (ents ⊆ universe), the matched row
    * count equals the distinct ent count (no entity holds two index
    * rows — an unreconciled upsert's stale twin would let the probe
    * rank by the dead value or emit an eid twice), and that count
    * equals the manifest's total for the attr (universe ⊆ ents:
    * containment + equal sizes force set equality — a bare count
    * comparison proves nothing, two disjoint sets of equal size pass
    * it, and the probe would then rank entities that are not even in
    * the match). Any failure is a conservative decline — the caller
    * falls back. Returns false when the attr is not indexed; this is
    * an EAGER action (see pullMany's laziness note). */
  private[graft] def provesUniverse(spark: SparkSession, table: String,
      attr: String, ents: DataFrame, gen: Option[Gen] = None,
      preStats: Option[Array[BucketStat]] = None): Boolean = {
    val g = gen.getOrElse(resolveGeneration(spark, table))
    val stats = preStats.getOrElse(g.bucketStats(attr))
    if (stats.isEmpty) return false
    val total = stats.map(_._4).sum
    val idx = g.dat().where(col("a") === attr)
      .select(col("e"), lit(1).as("_m"))
    val r = ents.select(col("e")).join(idx, Seq("e"), "left_outer")
      .agg(count_distinct(col("e")).as("nEnts"),
        count_distinct(when(col("_m").isNotNull, col("e"))).as("nMatched"),
        count(col("_m")).as("nRows")).head()
    val (nEnts, nMatched, nRows) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    nMatched == nEnts && nRows == nEnts && nRows == total
  }

  /** Per-attr `frag` = manifest rows / distinct buckets, rounded exactly
    * as Spark's `round(…, 2)` rounds a double (HALF_UP on its decimal
    * form), the value [[stats]] reports and the valve compares. */
  private def fragOf(rs: Array[ManRow]): Double =
    BigDecimal(rs.length.toDouble / rs.map(_.bkt).distinct.length)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Per-attr manifest-only HEALTH REPORT — the number the compaction
    * cadence reads: `frag` = manifest rows / distinct buckets (append
    * writes one manifest row and ≥ one file per touched bucket per
    * batch, so 1.0 is the tight post-build/compact state and growth
    * tracks accrued appends; the measured probe tax of 4 worst-case
    * drifted appends is ~40-65%, see ScaleBench's eav_vidx_* rows).
    * Also surfaces the indexed fact count, bucket count, shadow value
    * range, and the largest indexed txId per attr. A fold over the
    * manifest snapshot like [[maxTx]]/[[factCounts]] — the index data
    * is never scanned. */
  def stats(spark: SparkSession, table: String): DataFrame = {
    val m = resolveGeneration(spark, table).manifest
    requireCurrent(m, table)
    import spark.implicits._
    m.groupBy(_.a).toSeq.sortBy(_._1).map { case (a, rs) =>
      (table, a, rs.map(_.cnt).sum, rs.map(_.bkt).distinct.length.toLong,
        rs.length.toLong, fragOf(rs), shadowMin(rs.map(_.minv)),
        shadowMax(rs.map(_.maxv)), rs.flatMap(_.maxtx).maxOption)
    }.toDF("table", "attr", "n_facts", "n_buckets", "n_manifest_rows",
      "frag", "min_shadow", "max_shadow", "max_tx")
  }

  /** AUTO-COMPACT VALVE — makes compaction cadence POLICY instead of
    * caller discipline: reads [[stats]]' `frag` (manifest rows per
    * bucket; 1.0 is the tight post-build state, each append adds one
    * row per touched bucket) and runs [[compact]] into `newPath` only
    * when any attr's frag exceeds `maxFrag`. A streaming maintenance
    * loop calls this once per microbatch with a batch-unique
    * `newPath`; the check is a driver-side fold over the manifest
    * snapshot — no data scanned, and no Spark job at all when the
    * snapshot is warm — and [[compact]]'s own format gate reuses the
    * same snapshot. The aggregate/membership probes (which decline on
    * any un-reconciled append) regain pristine service exactly when
    * the measured probe tax (~40-65% at frag ≈ 5, see ScaleBench's
    * eav_vidx rows) says reconciliation pays for itself. Returns the
    * superseded (data, manifest) paths when a compaction ran — the
    * caller's vacuum hook — or None when the index was tight (newPath
    * untouched, so callers may derive it from a monotone batch id
    * without burning names). */
  def compactIfFragmented(spark: SparkSession, table: String,
      newPath: String, maxFrag: Double = 2.0, nBuckets: Int = 64)
      : Option[(String, String)] = {
    require(maxFrag >= 1.0, s"maxFrag must be >= 1.0, got $maxFrag")
    val m = resolveGeneration(spark, table).manifest
    requireCurrent(m, table)
    val frag = m.groupBy(_.a).values.map(fragOf).maxOption.getOrElse(1.0)
    if (frag > maxFrag) Some(compact(spark, table, newPath, nBuckets))
    else None
  }

  /** The best-bucket-first threshold walk behind both top-k probes
    * ([[topKEids]] over an attr's buckets, [[rangeTopKEids]] over its
    * range-kept buckets with the in-range predicate riding along). */
  private final class TopKWalk(g: Gen, attr: String, nativeCol: String,
      buckets: Array[BucketStat], k: Int, desc: Boolean,
      inRange: Option[Column]) {
    // walk order: best-bucket-first. Desc walks by min DESC and cuts on
    // the min (every row of a walked bucket is >= cut); asc mirrors —
    // by max ASC, cutting on the max (every row is <= cut).
    private val walk =
      if (desc) buckets.sortWith((x, y) => cmp(x._2, y._2) > 0)
      else buckets.sortWith((x, y) => cmp(x._3, y._3) < 0)
    val total: Long = buckets.map(_._4).sum
    // "no threshold" sentinels are the order's minimum/maximum: -Inf for
    // desc, NaN (Spark's largest value) for asc — both make scan keep
    // every bucket and every row, NaN facts included
    private val noCut = if (desc) Double.NegativeInfinity else Double.NaN
    // threshold t(target): walk buckets until their counts cover the
    // target — at least `target` rows sit on the kept side of t, so the
    // true top-target all do too
    private def thresholdFor(target: Long): Double = {
      var acc = 0L
      var cut = noCut
      val it = walk.iterator
      while (acc < target && it.hasNext) {
        val b = it.next(); acc += b._4; cut = if (desc) b._2 else b._3
      }
      if (acc < target) noCut else cut
    }
    /** The kept side of t(`target`), partition-pruned to buckets that
      * can reach it. */
    def scan(target: Long): DataFrame = {
      val t = thresholdFor(target)
      val bkts =
        if (desc) buckets.filter(b => cmp(b._3, t) >= 0).map(_._1)
        else buckets.filter(b => cmp(b._2, t) <= 0).map(_._1)
      val ofAttr = col("a") === attr
      g.dat().where(inRange.fold(ofAttr)(ofAttr && _) &&
        col("bkt").isInCollection(bkts) &&
        (if (desc) col("vnum") >= t else col("vnum") <= t))
    }
    def ordered(df: DataFrame): DataFrame =
      df.orderBy(if (desc) col(nativeCol).desc else col(nativeCol).asc)
        .limit(k).select(col("e"))
  }

  /** The top-`k` eids by `attr` through the index (descending when
    * `desc`, else ascending), restricted to `ents` when given — or None
    * when the index can't answer (attr not indexed, or `ents` so
    * selective that even the full value range holds < k matches; the
    * caller falls back to the linear scan, which also owns the
    * missing-attr null-fill).
    *
    * `ents = None` means the caller PROVED the entity set is exactly
    * this attribute's fact universe — syntactically (pullMany's
    * single-clause `(attr, any)` match) or by [[provesUniverse]]'s
    * counting argument. Then manifest counts are exact, the first
    * threshold is decisive, and the probe is FULLY LAZY — one
    * partition-pruned TakeOrdered job when the pull executes, no
    * counting round-trips: the whole query becomes sub-linear, not
    * just the ranking half. ASCENDING is served ONLY in this universe
    * form: every universe entity has the attr by definition, so SQL's
    * nulls-first ranking of missing-attr entities (see
    * [[TripleStore.pullMany]]) is vacuous; with a general `ents` the
    * probe declines asc — a value index fundamentally cannot enumerate
    * absent facts.
    *
    * With `ents`, driver work is bounded: the bucket stats (≤
    * buckets-per-attr rows) fold once from the generation's manifest
    * snapshot; each widening round is one partition-pruned count, and
    * the target 4×s per round, so rounds ≤ log₄ of the attr's fact
    * count even against a hostile `ents`. */
  private[graft] def topKEids(spark: SparkSession, table: String,
      attr: String, nativeCol: String, ents: Option[DataFrame],
      k: Int, desc: Boolean = true, gen: Option[Gen] = None,
      preStats: Option[Array[BucketStat]] = None)
      : Option[DataFrame] = {
    if (!desc && ents.isDefined) return None
    val g = gen.getOrElse(resolveGeneration(spark, table))
    val buckets = preStats.getOrElse(g.bucketStats(attr))
    if (buckets.isEmpty) return None // attr not indexed → fallback
    val w = new TopKWalk(g, attr, nativeCol, buckets, k, desc, None)
    ents match {
      case None =>
        // exact counts → one decisive threshold, no actions here (if
        // the whole universe holds < k facts, the un-thresholded scan
        // IS the full answer set and limit(k) is a no-op)
        Some(w.ordered(w.scan(math.min(k.toLong, w.total))))
      case Some(es) =>
        var target = k.toLong
        while (true) {
          val cand = w.scan(target).join(es, Seq("e"), "left_semi")
          if (cand.count() >= k) return Some(w.ordered(cand))
          if (target >= w.total) return None
          target = math.min(w.total, target * 4)
        }
        None // unreachable
    }
  }

  /** Does the RUNTIME type of range bound `v` belong to the same value
    * FAMILY as the attr's declared `vtype`? The range probe compares
    * the bound's shadow against bucket shadows, and shadows are only
    * comparable WITHIN a family: a numeric bound's shadow (the plain
    * widening) against a string attr's shadows (6-byte prefixes, ~2^40+)
    * would exclude every bucket and silently return 0 rows where the
    * un-indexed fallback's Spark cast-comparison could match — range
    * semantics must be identical indexed or not, so a cross-family
    * bound DECLINES to probe. Numerics are ONE family (vlong/vdbl share
    * the widening shadow and Spark's numeric coercion). */
  private def boundFamilyOk(v: Any, vtype: String): Boolean = v match {
    case _: Double | _: Float | _: Long | _: Int | _: Short | _: Byte =>
      vtype == Triples.VLong || vtype == Triples.VDbl
    case _: String => vtype == Triples.VStr
    case _: java.time.LocalDateTime => vtype == Triples.VTs
    case _ => false
  }

  /** The range-intersecting subset of `buckets` under the shadowed
    * bounds — every native match lives in a kept bucket (shadow
    * monotonicity: native v in range ⇒ shadow(v) in the non-strict
    * shadow window). */
  private def keepForRange(buckets: Array[BucketStat],
      sLo: Option[Double], sHi: Option[Double]): Array[BucketStat] = {
    buckets.filter(b =>
      sLo.forall(lo => cmp(b._3, lo) >= 0) &&
        sHi.forall(hi => cmp(b._2, hi) <= 0))
  }

  /** The eids whose `attr` value falls inside the range, served through
    * the zone-map manifest — the RANGE-PREDICATE twin of [[topKEids]],
    * using the same walk machinery and no new layout: buckets whose
    * shadow [min, max] cannot intersect the range are PARTITION-PRUNED
    * at planning time, so `attr > v` (the "documents longer than N"
    * curation filter) reads O(intersecting buckets) instead of the
    * attr's full fact slice. None = can't answer (attr not indexed, a
    * bound's type has no shadow or mismatches the attr's declared value
    * family, or the generation holds un-reconciled appends — see
    * [[rangeProbe]]) — the caller falls back to the attr-pruned
    * scan, which owns the identical exact semantics.
    *
    * Correctness needs only the shadow's MONOTONICITY, never bucket
    * disjointness: native v in range ⇒ shadow(v) in [shadow(lo),
    * shadow(hi)] (non-strict — strict native bounds stay conservative
    * under shadow ties, e.g. two strings sharing a 6-byte prefix), so
    * every qualifying row lives in a kept bucket; the scan then applies
    * the EXACT native-column predicate, and the non-strict shadow
    * bounds ride along so parquet row-group stats prune within kept
    * files (data files are vnum-sorted). The pristine gate guarantees
    * one row per (a, e), so no distinct is needed. */
  private[graft] def rangeEids(spark: SparkSession, table: String,
      attr: String, nativeCol: String, vtype: String,
      r: graft.query.MRange): Option[DataFrame] =
    matchProbe(spark, table, attr, nativeCol, vtype, r).map(_._1)

  /** The eids whose `attr` value equals ANY of `vs` — POINT lookups
    * (match's MEq/MIn) through the zone map: a point is a degenerate
    * range, so the same machinery serves "lang = 'en'" / "n_chars IN
    * (300, 450)" by pruning to the buckets whose [min, max] contains
    * at least one value's shadow, then applying the EXACT native
    * IN-predicate (the shadow IN-filter rides along for row-group
    * stats inside kept files — values sharing a 6-byte string prefix
    * merely keep a bucket the native predicate then filters). Decline
    * conditions are [[rangeEids]]'s (family mismatch, un-indexed,
    * non-pristine — point MEMBERSHIP has the same stale-twin hazard),
    * so point semantics are identical indexed or not. */
  private[graft] def inEids(spark: SparkSession, table: String,
      attr: String, nativeCol: String, vtype: String,
      vs: Seq[Any]): Option[DataFrame] =
    inProbe(spark, table, attr, nativeCol, vtype, vs).map(_._1)

  /** [[inEids]] plus the manifest numbers a PLANNER wants: (probe,
    * kept-bucket fact count — an UPPER BOUND on matches, since kept
    * buckets also hold rows the native predicate rejects — and the
    * attr's total fact count). */
  private def inProbe(spark: SparkSession, table: String,
      attr: String, nativeCol: String, vtype: String,
      vs: Seq[Any]): Option[(DataFrame, Long, Long)] = {
    if (vs.isEmpty) return None
    if (!vs.forall(boundFamilyOk(_, vtype))) return None
    val shadows = vs.map(shadowOfValue)
    if (shadows.exists(_.isEmpty)) return None
    val sh = shadows.flatten
    pristineStats(spark, table, attr).map { case (g, buckets) =>
      val keep = buckets.filter(b =>
        sh.exists(s => cmp(b._2, s) <= 0 && cmp(b._3, s) >= 0))
      val df =
        if (keep.isEmpty)
          g.dat().where(lit(false)).select(col("e"))
        else
          g.dat().where(col("a") === attr &&
              col("bkt").isInCollection(keep.map(_._1)) &&
              col(nativeCol).isInCollection(vs) &&
              col("vnum").isInCollection(sh))
            .select(col("e"))
      (df, keep.map(_._4).sum, buckets.map(_._4).sum)
    }
  }

  /** The planner-facing entry over BOTH membership probes: serve a
    * scalar match value (equality / IN / range) from the index and
    * report the manifest's selectivity numbers — what
    * [[TripleStore.matchEntities]]'s index-driven conjunctive path
    * ranks candidate conjuncts by. None = the shared decline contract
    * (presence/sub-pattern shapes, family mismatch, un-indexed,
    * un-reconciled appends). */
  private[graft] def matchProbe(spark: SparkSession, table: String,
      attr: String, nativeCol: String, vtype: String,
      mv: graft.query.MVal): Option[(DataFrame, Long, Long)] = mv match {
    case graft.query.MEq(v) =>
      inProbe(spark, table, attr, nativeCol, vtype, Seq(v))
    case graft.query.MIn(vs) =>
      inProbe(spark, table, attr, nativeCol, vtype, vs)
    case r: graft.query.MRange =>
      rangeProbe(spark, table, attr, vtype, r).map { case (g, keep, sLo, sHi) =>
        val df = g.dat().where(col("a") === attr &&
            rangePred(keep, nativeCol, r, sLo, sHi))
          .select(col("e"))
        (df, keep.map(_._4).sum,
          // rangeProbe returns only the kept buckets; the generation's
          // snapshot still holds the full stats for the attr total
          g.bucketStats(attr).map(_._4).sum)
      }
    case _ => None
  }

  /** Shared decline gate of the membership probes ([[rangeEids]],
    * [[rangeTopKEids]], [[inEids]]): the attr must be indexed and the
    * generation PRISTINE. None ⇒ exact fallback. */
  private def pristineStats(spark: SparkSession, table: String,
      attr: String): Option[(Gen, Array[BucketStat])] = {
    val g = resolveGeneration(spark, table)
    val buckets = g.bucketStats(attr)
    if (buckets.isEmpty) None // attr not indexed → fallback
    else if (buckets.exists(_._5 > 1L)) None // appended → not pristine
    else Some((g, buckets))
  }

  /** Guards + bucket pruning shared by [[rangeEids]] and
    * [[rangeTopKEids]]: None ⇒ decline to the exact fallback. Declines
    * unless the range is real, every bound's runtime type matches the
    * attr's declared family ([[boundFamilyOk]]), the attr is indexed,
    * and the generation is PRISTINE (one manifest row per bucket — no
    * append since the last build/compact, see [[BucketStat]]).
    * Pristineness is what makes range MEMBERSHIP exact: an un-compacted
    * upsert leaves the stale (a, e) twin beside the new row, and unlike
    * the top-k probes (whose documented append window only perturbs
    * ranking near the boundary) a stale twin here can assert membership
    * for an entity whose CURRENT value is outside the range, or emit an
    * eid twice into callers relying on one-row-per-entity
    * (matchEntities' single-clause distinct shortcut). After any append
    * the range probes fall back to the exact store scan until
    * [[compact]] reconciles. */
  private def rangeProbe(spark: SparkSession, table: String, attr: String,
      vtype: String, r: graft.query.MRange)
      : Option[(Gen, Array[BucketStat], Option[Double], Option[Double])] = {
    if (r.lo.isEmpty && r.hi.isEmpty) return None // MAny in disguise
    if (!(r.lo.toSeq ++ r.hi.toSeq).forall(boundFamilyOk(_, vtype)))
      return None
    val sLo = r.lo.flatMap(shadowOfValue)
    val sHi = r.hi.flatMap(shadowOfValue)
    if (r.lo.isDefined != sLo.isDefined || r.hi.isDefined != sHi.isDefined)
      return None // a bound the shadow can't represent
    pristineStats(spark, table, attr).map { case (g, buckets) =>
      (g, keepForRange(buckets, sLo, sHi), sLo, sHi)
    }
  }

  /** The pruned-scan predicate: kept-bucket partition pruning + the
    * EXACT native predicate + the non-strict shadow window (riding
    * along for parquet row-group pruning inside kept files). */
  private def rangePred(keep: Array[BucketStat], nativeCol: String,
      r: graft.query.MRange, sLo: Option[Double], sHi: Option[Double])
      : Column = {
    if (keep.isEmpty) return lit(false) // no bucket can hold a match
    val nc = col(nativeCol)
    val nativeConds =
      r.lo.map(v => if (r.loStrict) nc > lit(v) else nc >= lit(v)).toSeq ++
        r.hi.map(v => if (r.hiStrict) nc < lit(v) else nc <= lit(v))
    val shadowConds =
      sLo.map(col("vnum") >= _).toSeq ++ sHi.map(col("vnum") <= _)
    col("bkt").isInCollection(keep.map(_._1)) &&
      (nativeConds ++ shadowConds).reduce(_ && _)
  }

  /** Top-`k` eids by `attr` WITHIN a value range, in ONE probe — the
    * composition a "longest documents above a threshold" curation pull
    * wants, fusing [[rangeEids]]'s bucket pruning with [[topKEids]]'s
    * threshold walk instead of running a range probe and then ranking
    * its output with a second index read. The walk is restricted to the
    * RANGE-INTERSECTING buckets; because kept-bucket counts include
    * rows the exact native predicate rejects, a count-picked threshold
    * is not decisive here — the probe verifies with a bounded count and
    * 4×-widens like topKEids' `ents` loop, and when the whole kept set
    * has been scanned that scan IS the full in-range answer (ordered,
    * limit k — possibly fewer than k rows). BOTH directions are served:
    * the range predicate is null-rejecting, so no missing-attr entity
    * can be in the answer and ascending needs no universe proof.
    * Decline conditions are [[rangeEids]]'s. */
  private[graft] def rangeTopKEids(spark: SparkSession, table: String,
      attr: String, nativeCol: String, vtype: String,
      r: graft.query.MRange, k: Int, desc: Boolean): Option[DataFrame] =
    rangeProbe(spark, table, attr, vtype, r).flatMap {
      case (g, keep, sLo, sHi) =>
        val w = new TopKWalk(g, attr, nativeCol, keep, k, desc,
          Some(rangePred(keep, nativeCol, r, sLo, sHi)))
        if (keep.isEmpty)
          return Some(g.dat().where(lit(false)).select(col("e")))
        var target = k.toLong
        while (target < w.total) {
          val cand = w.scan(target)
          if (cand.count() >= k) return Some(w.ordered(cand))
          target = math.min(w.total, target * 4)
        }
        // every kept bucket scanned: the in-range predicate leaves
        // exactly the full answer set
        Some(w.ordered(w.scan(w.total)))
    }

  /** EXACT count of the entities whose `attr` value lies in the range,
    * served mostly WITHOUT touching data — the zone map's AGGREGATE
    * pushdown: a kept bucket whose shadow span lies STRICTLY inside the
    * shadowed bounds provably holds only matching rows (monotonicity:
    * s(v) ≥ bucket-min > s(lo) ⇒ v > lo — STRICT shadow inequality is
    * what survives shadow plateaus, where s(v) = s(lo) pairs with
    * native v on either side of lo, and it subsumes both native
    * strictnesses), so its manifest fact count contributes with ZERO
    * rows read (the pristine gate makes fact count = entity count: one
    * row per (a, e)); only the STRADDLING buckets — typically the two
    * range edges, however many rows match — are scanned with the exact
    * native predicate. "How many documents exceed N chars" over 100 TB
    * reads O(edge buckets), independent of the answer's size. Decline
    * conditions are [[rangeEids]]'s (family mismatch, un-indexed,
    * un-reconciled appends); the caller owns the exact fallback count,
    * so the count is index-independent. */
  /** The (provably-inner, straddling-edge) split of the range's kept
    * buckets — THE correctness core shared by both aggregate pushdowns
    * so count and sum can never diverge: a bucket is inner only when
    * its shadow span lies STRICTLY inside the shadowed bounds, the test
    * that survives shadow plateaus (where s(v) = s(bound) pairs with
    * native v on either side of the bound) and subsumes both native
    * strictnesses. Conservative by construction: an equal-shadow edge
    * is scanned exactly, never counted blind. */
  private def splitInnerEdge(keep: Array[BucketStat], sLo: Option[Double],
      sHi: Option[Double]): (Array[BucketStat], Array[BucketStat]) = {
    keep.partition(b =>
      sLo.forall(lo => cmp(b._2, lo) > 0) &&
        sHi.forall(hi => cmp(b._3, hi) < 0))
  }

  private[graft] def countRange(spark: SparkSession, table: String,
      attr: String, nativeCol: String, vtype: String,
      r: graft.query.MRange): Option[Long] =
    rangeProbe(spark, table, attr, vtype, r).map { case (g, keep, sLo, sHi) =>
      val (inner, edge) = splitInnerEdge(keep, sLo, sHi)
      val edgeCount =
        if (edge.isEmpty) 0L
        else g.dat().where(col("a") === attr &&
          rangePred(edge, nativeCol, r, sLo, sHi)).count()
      inner.map(_._4).sum + edgeCount
    }

  /** The k-th smallest (1-indexed) values of `valueCol` for every k in
    * `ks`, via [[graft.ops.Layout.contiguousIdsBy]]'s range-partitioned
    * two-pass rank — NEVER a no-partition window (the single-reducer
    * shape this codebase bans; equal values may order arbitrarily, but
    * the VALUE at any rank is tie-independent). One job serves every
    * requested rank. */
  private[graft] def rankPick(df: DataFrame, valueCol: String,
      ks: Seq[Long]): Map[Long, Any] = {
    if (ks.isEmpty) return Map.empty
    val spark = df.sparkSession
    import spark.implicits._
    val ranked = graft.ops.Layout.contiguousIdsBy(
      df.select(col(valueCol)), Seq(valueCol))
    val want = ks.distinct.map(k => (k, k - 1)).toDF("_k", "_rk")
    ranked.join(broadcast(want), col("row_id") === col("_rk"))
      .select(col("_k"), col(valueCol)).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
  }

  /** EXACT nearest-rank PERCENTILES of `attr` (per q: rank k = ⌈q·N⌉,
    * the k-th smallest native value), each rank served by scanning ONE
    * bucket: pristine buckets partition the shadow space into ordered
    * half-open intervals (bucketOf assigns every shadow to exactly one
    * bucket, equal natives share a shadow so no tie straddles a
    * boundary, and strict cross-bucket shadow order implies strict
    * native order by monotonicity), so the manifest's cumulative fact
    * counts locate each rank's bucket without touching data; only
    * those buckets scan, ONE ranked pass per distinct bucket serving
    * all its ranks ([[rankPick]]) — "p50/p99 document length" over
    * 100 TB reads at most two buckets. Decline conditions are the
    * membership probes' (un-indexed, un-reconciled appends — a stale
    * upsert twin shifts every rank); the caller owns the exact
    * fallback. None when the attr has no facts. */
  private[graft] def percentileValues(spark: SparkSession, table: String,
      attr: String, nativeCol: String, qs: Seq[Double])
      : Option[Map[Double, Any]] = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"percentile qs must be in (0, 1], got $qs")
    pristineStats(spark, table, attr).flatMap { case (g, buckets) =>
      val total = buckets.map(_._4).sum
      if (total == 0L) return None
      val walk = buckets.sortWith((x, y) => cmp(x._2, y._2) < 0)
      val cumBefore = walk.scanLeft(0L)(_ + _._4)
      def locate(k: Long): (Int, Long) = {
        val i = walk.indices.find(i => cumBefore(i) + walk(i)._4 >= k).get
        (walk(i)._1, k - cumBefore(i)) // (bucket id, rank within it)
      }
      val ranks = qs.distinct.map(q =>
        q -> locate(math.ceil(q * total).toLong.max(1L).min(total)))
      val byBucket = ranks.groupBy(_._2._1)
      val picked: Map[(Int, Long), Any] = byBucket.flatMap {
        case (bkt, rs) =>
          val withins = rs.map(_._2._2)
          rankPick(g.dat().where(col("a") === attr && col("bkt") === bkt),
              nativeCol, withins)
            .map { case (w, v) => (bkt, w) -> v }
      }
      Some(ranks.map { case (q, loc) => q -> picked(loc) }.toMap)
    }
  }

  /** Single-q [[percentileValues]]. */
  private[graft] def percentileValue(spark: SparkSession, table: String,
      attr: String, nativeCol: String, q: Double): Option[Any] =
    percentileValues(spark, table, attr, nativeCol, Seq(q)).map(_(q))

  /** EXACT sum of a LONG attr's values inside the range — the SUM twin
    * of [[countRange]], reading the manifest's materialized per-bucket
    * sums for provably-inner buckets ([[splitInnerEdge]]) and scanning
    * only the straddling edges. "Total chars above the threshold" — the
    * token-budget estimate behind a curation gate — costs O(edge
    * buckets) however much matches. Long-only by design: long addition
    * is associative and exactness is checkable, where a double sum's
    * value depends on association order. OVERFLOW-SAFE end to end: the
    * manifest's per-bucket sums are decimal-computed and NULLed when
    * outside the long range, the edge scan aggregates in DECIMAL(38,0),
    * and the driver-side total uses addExact — any sum not
    * representable in Long DECLINES to the exact fallback, which owns
    * the engine-native overflow semantics (ANSI mode throws; legacy
    * wraps). The pushdown never returns a silently-wrapped value.
    * Decline conditions are [[rangeEids]]'s plus a non-long attr. */
  private[graft] def sumRange(spark: SparkSession, table: String,
      attr: String, vtype: String, r: graft.query.MRange): Option[Long] = {
    if (vtype != Triples.VLong) return None
    rangeProbe(spark, table, attr, vtype, r).flatMap {
      case (g, keep, sLo, sHi) =>
        val (inner, edge) = splitInnerEdge(keep, sLo, sHi)
        if (inner.exists(_._6.isEmpty)) None // no representable sum
        else {
          val edgeSumOpt: Option[Long] =
            if (edge.isEmpty) Some(0L)
            else {
              val row = g.dat().where(col("a") === attr &&
                  rangePred(edge, "vlong", r, sLo, sHi))
                .agg(sum(col("vlong").cast("decimal(38,0)"))).collect()(0)
              if (row.isNullAt(0)) Some(0L) else toLongOpt(row.getDecimal(0))
            }
          try edgeSumOpt.map(es =>
            inner.foldLeft(es)((acc, b) => Math.addExact(acc, b._6.get)))
          catch { case _: ArithmeticException => None }
        }
    }
  }

  /** EXACT MIN (or MAX, `isMax`) of `attr`'s native values inside the
    * range, read by scanning O(1) buckets: strict cross-bucket shadow
    * order implies strict cross-bucket NATIVE order (monotonicity — see
    * [[percentileValues]]'s walk argument), so the extremum lives in
    * the extremal kept buckets. The scan covers the edge buckets on the
    * extremal side plus the FIRST provably-inner bucket in walk order
    * (guaranteed non-empty of matches by the pristine manifest count,
    * so the aggregate can never come back null when any inner bucket
    * exists); when no bucket is inner, every kept bucket — at most the
    * two straddling edges — scans under the exact predicate. The
    * manifest's minv/maxv alone can NOT answer: they are SHADOW values
    * (doubles), and past the shadow's precision (2^53 longs, string
    * prefixes) two natives share one shadow — the native extremum
    * requires touching the one bucket that holds it. Outer None =
    * decline ([[rangeProbe]]'s conditions); inner None = zero matching
    * facts (the pushdown is decisive about emptiness: kept-bucket
    * scans under the exact predicate found nothing, or no bucket
    * intersects the range at all). */
  private[graft] def extremumRange(spark: SparkSession, table: String,
      attr: String, nativeCol: String, vtype: String,
      r: graft.query.MRange, isMax: Boolean): Option[Option[Any]] =
    rangeProbe(spark, table, attr, vtype, r).map { case (g, keep, sLo, sHi) =>
      if (keep.isEmpty) None
      else {
        val (inner, _) = splitInnerEdge(keep, sLo, sHi)
        val innerSet = inner.map(_._1).toSet
        val walk =
          if (isMax) keep.sortWith((x, y) => cmp(x._3, y._3) > 0)
          else keep.sortWith((x, y) => cmp(x._2, y._2) < 0)
        val firstInner = walk.indexWhere(b => innerSet(b._1))
        val cand = if (firstInner >= 0) walk.take(firstInner + 1) else walk
        val row = g.dat().where(col("a") === attr &&
            rangePred(cand, nativeCol, r, sLo, sHi))
          .agg(if (isMax) max(col(nativeCol)) else min(col(nativeCol)))
          .collect()(0)
        if (row.isNullAt(0)) None else Some(row.get(0))
      }
    }

  /** EXACT nearest-rank PERCENTILES of `attr` RESTRICTED to the range —
    * the pattern-conditional twin of [[percentileValues]] ("p90 length
    * of the docs between the gates"), composing [[countRange]]'s
    * inner/edge split with the rank walk: provably-inner buckets
    * contribute their manifest counts with zero rows read, the
    * straddling edges contribute EXACT counts from one pruned pre-scan,
    * and each rank then scans only the single bucket the cumulative
    * walk locates (edge buckets ranked under the exact predicate —
    * their in-range rows are an order-preserving subset). Cost:
    * O(edge buckets + one bucket per distinct rank), independent of how
    * many facts match. Outer None = decline ([[rangeProbe]]'s
    * conditions); Some(empty) = the pushdown decisively found ZERO
    * matching facts (the caller renders every q as None). */
  private[graft] def percentileRange(spark: SparkSession, table: String,
      attr: String, nativeCol: String, vtype: String, qs: Seq[Double],
      r: graft.query.MRange): Option[Map[Double, Any]] = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"percentile qs must be in (0, 1], got $qs")
    rangeProbe(spark, table, attr, vtype, r).map { case (g, keep, sLo, sHi) =>
      if (keep.isEmpty) Map.empty[Double, Any]
      else {
        val (inner, edge) = splitInnerEdge(keep, sLo, sHi)
        val innerSet = inner.map(_._1).toSet
        val edgeCounts: Map[Int, Long] =
          if (edge.isEmpty) Map.empty
          else g.dat().where(col("a") === attr &&
              rangePred(edge, nativeCol, r, sLo, sHi))
            .groupBy(col("bkt")).count().collect()
            .map(x => x.getInt(0) -> x.getLong(1)).toMap
        // (bucket id, in-range count, provably-inner?) ascending by
        // shadow — strict cross-bucket shadow order makes this the
        // global native order
        val walk = keep.sortWith((x, y) => cmp(x._2, y._2) < 0).map(b =>
          (b._1,
            if (innerSet(b._1)) b._4 else edgeCounts.getOrElse(b._1, 0L),
            innerSet(b._1)))
        val total = walk.map(_._2).sum
        if (total == 0L) Map.empty[Double, Any]
        else {
          val cumBefore = walk.scanLeft(0L)(_ + _._2)
          def locate(k: Long): (Int, Long, Boolean) = {
            val i = walk.indices
              .find(i => cumBefore(i) + walk(i)._2 >= k).get
            (walk(i)._1, k - cumBefore(i), walk(i)._3)
          }
          val ranks = qs.distinct.map(q =>
            q -> locate(math.ceil(q * total).toLong.max(1L).min(total)))
          val statOf = keep.map(b => b._1 -> b).toMap
          val picked: Map[(Int, Long), Any] = ranks.groupBy(_._2._1)
            .flatMap { case (bkt, rs) =>
              val base = g.dat()
                .where(col("a") === attr && col("bkt") === bkt)
              val rows =
                if (rs.head._2._3) base // inner: every row matches
                else base.where(
                  rangePred(Array(statOf(bkt)), nativeCol, r, sLo, sHi))
              rankPick(rows, nativeCol, rs.map(_._2._2))
                .map { case (w, v) => (bkt, w) -> v }
            }
          ranks.map { case (q, loc) => q -> picked((loc._1, loc._2)) }
            .toMap
        }
      }
    }
  }
}
