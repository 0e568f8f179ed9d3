package graft

import graft.graph.Fixpoint
import graft.model.{AttrSchema, Triples}
import graft.query._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Spark-native EAV triple store — the engine core.
  *
  * Replaces the reference's in-memory `TripleStore` + three nested-dict
  * indexes (tripl/tripl.py:304-358, 322-324) with ONE triples DataFrame;
  * access-path selection (EAV vs AEV vs VAE probes, tripl.py:589-595) is
  * delegated to Catalyst filter pushdown. All query operators compile to
  * declarative DataFrame plans — set-at-a-time, no per-entity driver
  * loops — so the same code runs on local[32] and a 1000-executor
  * cluster.
  *
  * Semantics implemented (SURVEY.md §2):
  *  - set semantics: duplicate facts collapse (tripl.py:78, 322-324)
  *  - cardinality-one latest-tx-wins upsert (tripl.py:419-427) — Spark
  *    storage is append-only, so upsert = window-dedup at read time
  *  - retraction as anti-join (W6; the reference's own retract path is
  *    broken, SURVEY.md §1.4 — we define the clean semantics)
  *  - conjunctive `match` with IN-lists and nested sub-patterns
  *    (tripl.py:589-609) as left-semi join chains
  *  - `pull` projection/re-nesting (tripl.py:627-727) compiled to ONE
  *    conditional aggregation pass for flat attrs + one join per nesting
  *    level — NOT one join per attribute
  *  - reverse lookups 'ns:_attr' (tripl.py:274-278, 694-706)
  *  - Datalog-lite find/where (the reference's PLANNED grammar,
  *    tripl.py:571-584) as self-joins of the triples relation
  *  - '...' style recursion / reachability as an iterative fixpoint with
  *    localCheckpoint (tripl.py:652-669)
  */
class TripleStore(
    val spark: SparkSession,
    val triples: DataFrame,
    val schemas: Map[String, AttrSchema],
    /** True when `triples` already satisfies set semantics + card-one
      * invariants BY CONSTRUCTION (single-tx ingest of distinct relational
      * rows emits exactly one fact per (e, a)). Skips the resolution
      * window+dedup — two full-relation shuffles — in the common case;
      * any write op flips it back to false. NOT safe for id-attr doc
      * ingest (merged entities re-assert identical facts). */
    val preResolved: Boolean = false,
    /** Attribute-pruning scan (TripleSource): when present AND the store
      * is preResolved, per-attribute operators scan only the requested
      * attributes' triples — the EAV analogue of columnar pruning (see
      * model.TripleSource). Write ops drop it (derived stores fall back
      * to filtering the materialized relation). */
    val source: Option[graft.model.TripleSource] = None,
    /** db.refs:lazy — the reference's DEFAULT-ON behavior ("refs need not
      * be declared", tripl.py:320, 184-188): an attr NOT declared as a
      * ref still traverses in match/pull/Entity access wherever its
      * string value is a known entity id. Declared-ref attrs always use
      * the typed edges; the lazy derivation only runs for undeclared
      * attrs a query actually traverses. */
    val lazyRefs: Boolean = true,
    /** db.cardinality:default (tripl.py:297, 342-345): the cardinality
      * assumed for attrs with NO declaration. The reference default is
      * card-many; flipping to card-one makes every undeclared attr
      * upsert-resolve (latest tx wins) and pull as a scalar. Set via the
      * bootstrap kwarg or the in-band `db:schema / db.cardinality:default`
      * fact (kwargs > in-band > default-many). */
    val defaultCardOne: Boolean = false,
    /** Catalog name of a [[ValueIndex]] built FROM THIS STORE'S facts
      * (the snapshot contract — see ValueIndex's scaladoc): when set,
      * descending sort+limit pulls probe it for a sub-linear top-k
      * instead of the linear attr scan. Write ops return stores with
      * this dropped, like [[source]]: a snapshot can't see the write. */
    val valueIndex: Option[String] = None) {
  import spark.implicits._

  /** Pruned scan for the given attributes: generate-only-what's-asked
    * when a source is available, else filter the resolved relation.
    * Package-private so driver-side Entity point lookups ride the same
    * attribute pruning as match/pull instead of re-deriving the full
    * all-table triple relation per accessed attribute. */
  private[graft] def scanFor(attrs: Seq[String]): DataFrame = source match {
    case Some(src) if preResolved =>
      src.scan(Some(attrs)).where($"a".isInCollection(attrs))
    case _ => resolved.where($"a".isInCollection(attrs))
  }

  /** Ref-edge projection restricted to `attrs` (None = all DECLARED
    * edges). Attrs declared ref-typed read the typed edges; the rest get
    * the lazy-ref derivation (when enabled) — per-attr, so queries that
    * only touch declared refs never pay for it. */
  private def edgesFor(attrs: Option[Seq[String]]): DataFrame = attrs match {
    case Some(as) =>
      // ref-TYPED facts are edges regardless of declaration (doc ingest
      // emits vref facts for struct children even when no schema names
      // the attr); the lazy derivation additionally promotes STRING facts
      // of non-declared attrs whose values are known eids
      val typed = scanFor(as)
        .where($"vtype" === Triples.VRef && $"vref".isNotNull)
        .select($"e", $"a", $"vref")
      val lzyAttrs = as.filter(a => !schemaOf(a).isRef &&
        a != Triples.IdentAttr && a != Triples.TypeAttr)
      if (!lazyRefs || lzyAttrs.isEmpty) typed
      else typed.unionByName(lazyEdgesFor(lzyAttrs))
    case None => edges
  }

  /** Lazy ref edges (tripl.py:184-188): the attrs' STRING facts
    * semi-joined against the store's entity-id set — only values that ARE
    * known eids become edges. db:ident is excluded (every entity
    * self-asserts its eid as a string fact; treating it as an edge would
    * put a self-loop on every entity). Per-fact semantics: a fact whose
    * value is an eid traverses even if a sibling value of the same
    * (e, attr) is not (the reference's Entity accessor checks all-values
    * per entity; the set-at-a-time relaxation only differs on mixed
    * eid/non-eid value sets, where non-eid values cannot resolve to
    * entities anyway). */
  /** True iff the pruned db:ident scan yields any row — ONE cached
    * LIMIT-1 probe per store, the cheap loud-failure guard for the
    * TripleSource db:ident contract (see [[model.TripleSource.scan]]):
    * false means either an empty store (fallback is also empty,
    * harmless) or a source that never self-asserts idents (fallback is
    * the correct, if slower, eid set). */
  private lazy val identScanNonEmpty: Boolean =
    !scanFor(Seq(Triples.IdentAttr)).isEmpty

  private def lazyEdgesFor(attrs: Seq[String]): DataFrame = {
    val strFacts = scanFor(attrs)
      .where($"vtype" === Triples.VStr && $"vstr".isNotNull)
      .select($"e", $"a", $"vstr")
    // the known-eid set: every ingest path self-asserts db:ident per
    // entity (RowIngest.tableToTriples metaStructs, DocIngest :93, and
    // persisted stores carry those facts through save/load — the
    // TripleSource trait documents the obligation), so a source-backed
    // store derives the set from the PRUNED ident scan — one
    // attribute's generation, not the full triple blow-up the
    // resolved-distinct fallback pays. Shipped sources DECLARE the
    // contract (assertsIdents — no runtime cost); for custom sources
    // identScanNonEmpty guards it with a one-row probe, since a source
    // that skipped db:ident would otherwise silently drop every lazy
    // edge (empty semi-join) — it falls back to the resolved scan
    // instead.
    val ids = (source match {
      case Some(s) if preResolved && (s.assertsIdents || identScanNonEmpty) =>
        scanFor(Seq(Triples.IdentAttr)).select($"e")
      case _ => resolved.select($"e")
    }).distinct().select($"e".as("vstr"))
    strFacts.join(ids, Seq("vstr"), "left_semi")
      .select($"e", $"a", $"vstr".as("vref"))
  }

  /** Public per-attr ref edges (declared OR lazy) — Entity access and
    * graph extraction route through this so undeclared refs traverse
    * uniformly. */
  def refEdges(attr: String): DataFrame = edgesFor(Some(Seq(attr)))

  private[graft] def schemaOf(attr: String): AttrSchema =
    schemas.getOrElse(attr, TripleStore.BaseSchema.getOrElse(attr,
      AttrSchema(attr, cardOne = defaultCardOne, isRef = false, Triples.VStr)))

  private def valueCol(attr: String): String =
    Triples.valueColFor(schemaOf(attr).vtype)

  // ---------------------------------------------------------------------
  // Materialization: set semantics + cardinality-one upsert resolution
  // ---------------------------------------------------------------------

  /** Facts after upsert resolution: for cardinality-one attrs only the
    * latest transaction's assertions survive (tripl.py:419-427); then
    * exact-duplicate facts collapse (set semantics). One window + one
    * dedup, both on the same (e, a) shuffle key — AQE merges them.
    */
  lazy val resolved: DataFrame = if (preResolved) triples else {
    val eff = TripleStore.BaseSchema ++ schemas
    val oneAttrs = eff.collect { case (a, s) if s.cardOne => a }.toSeq
    val manyAttrs = eff.collect { case (a, s) if !s.cardOne => a }.toSeq
    // which facts fall under card-one upsert resolution: declared-one
    // attrs, plus (under db.cardinality:default = one) every UNdeclared
    // attr — declared-many attrs are exempt either way
    val oneCond: Option[Column] =
      if (defaultCardOne)
        Some(if (manyAttrs.isEmpty) lit(true)
             else !$"a".isInCollection(manyAttrs))
      else if (oneAttrs.isEmpty) None
      else Some($"a".isInCollection(oneAttrs))
    val base = oneCond match {
      case None => triples
      case Some(isOne) =>
        val w = Window.partitionBy("e", "a")
        triples
          .withColumn("_maxTx", max("txId").over(w))
          .where(!isOne || $"txId" === $"_maxTx")
          .drop("_maxTx")
    }
    base.dropDuplicates(Triples.factCols)
  }

  /** Ref-edge projection (the VAE index's job, tripl.py:324): (e, a, vref).
    * Declared refs + lazy refs (any vref-typed fact). */
  lazy val edges: DataFrame =
    resolved.where($"vtype" === Triples.VRef && $"vref".isNotNull)
      .select($"e", $"a", $"vref")

  // ---------------------------------------------------------------------
  // Write path (W1/W5/W6): assertion, merge, retraction
  // ---------------------------------------------------------------------

  /** Assert a batch of triples (append; resolution happens at read). */
  def assertTriples(batch: DataFrame): TripleStore =
    new TripleStore(spark, triples.unionByName(batch), schemas,
      lazyRefs = lazyRefs, defaultCardOne = defaultCardOne)

  /** Graph merge (W5, tripl.py:526-529): set union of two stores. Correct
    * because entity ids are globally unique strings (vision.md:62). */
  def merge(other: TripleStore): TripleStore =
    new TripleStore(spark, triples.unionByName(other.triples),
      schemas ++ other.schemas, lazyRefs = lazyRefs && other.lazyRefs,
      // conservative like lazyRefs: default-one in the merged store would
      // upsert-resolve (drop facts of) the default-many side's undeclared
      // card-many attrs — only default to one when BOTH sides did
      defaultCardOne = defaultCardOne && other.defaultCardOne)

  /** AS-OF (time-travel) view: the store as it stood after transaction
    * `tx` — only facts with txId ≤ tx exist, and cardinality-one
    * resolution picks the latest SURVIVING assertion per (e, a), so an
    * upsert made after `tx` un-happens and the prior value is visible
    * again. The dataset-versioning primitive for reproducible training
    * runs: pin the txId a corpus snapshot was built at and every query
    * over the view replays identically, regardless of later ingests.
    * Purely a plan-level filter on the txId column — no data is copied,
    * and a persisted layout partitioned by txId range prunes the scan.
    * Retractions are physical deletes (W6's clean semantics) and are
    * NOT replayed: as-of sees the current physical fact set restricted
    * to ≤ tx — same contract as `resolved`. */
  def asOf(tx: Long): TripleStore =
    new TripleStore(spark, triples.where($"txId" <= tx), schemas,
      preResolved, lazyRefs = lazyRefs, defaultCardOne = defaultCardOne)

  /** Retraction (W6) with clean semantics: anti-join on the fact identity
    * columns. `pattern` columns must be a subset of factCols. */
  def retract(pattern: DataFrame): TripleStore = {
    val keys = pattern.columns.toSeq
    // removing facts preserves the resolution invariants
    new TripleStore(spark,
      triples.join(pattern, keys, "left_anti"), schemas, preResolved,
      lazyRefs = lazyRefs, defaultCardOne = defaultCardOne)
  }

  /** Retract everything matching an attribute predicate. */
  def retractWhere(cond: Column): TripleStore =
    new TripleStore(spark, triples.where(!coalesce(cond, lit(false))),
      schemas, preResolved, lazyRefs = lazyRefs,
      defaultCardOne = defaultCardOne)

  /** W7/Q9 — the attribute schema rendered IN-BAND as triples, exactly as
    * the reference stores it: attribute entities carrying db:cardinality
    * and db:valueType, hanging off the well-known 'db:schema' entity
    * (base_schema / assert_schema, tripl.py:281-297, 363-373). */
  def schemaTriples: DataFrame = {
    val attrRows = schemas.values.toSeq.sortBy(_.attr).flatMap { s =>
      Seq(
        (s.attr, Triples.IdentAttr, Triples.VStr, Some(s.attr), None),
        (s.attr, "db:cardinality", Triples.VStr,
          Some(if (s.cardOne) "db.cardinality:one" else "db.cardinality:many"), None),
        (s.attr, "db:valueType", Triples.VStr,
          Some(if (s.isRef) "db.type:ref" else "db.type:" + s.vtype), None))
    } ++ schemas.keys.toSeq.sorted.map(a =>
      ("db:schema", "db.schema:attributes", Triples.VRef, None, Some(a)))
    val rows = attrRows.map { case (e, a, vt, vstr, vref) =>
      org.apache.spark.sql.Row(e, a, vt, vstr.orNull, null, null, null, null,
        vref.orNull, null, 0L)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), Triples.schema)
  }

  /** Store with its schema asserted in-band (W8 bootstrap step). */
  def withSchemaAsserted: TripleStore = assertTriples(schemaTriples)

  /** Register type entities on the well-known db:schema entity via the
    * card-many `db.schema:types` ref attr (base_schema, tripl.py:291-293;
    * the reference's `types` kwarg stores the same registry). */
  def assertTypes(types: Seq[String]): TripleStore = {
    val rows = types.distinct.sorted.map(t => org.apache.spark.sql.Row(
      "db:schema", "db.schema:types", Triples.VRef, null, null, null, null,
      null, t, null, 0L))
    assertTriples(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Triples.schema))
  }

  /** db.schema:types introspection: the type entities registered on
    * db:schema (in-band or via [[assertTypes]]), sorted. Plan-time
    * metadata — a driver collect is the right call here, as with
    * bootstrap's schema read. */
  def schemaTypes: Seq[String] = scanFor(Seq("db.schema:types"))
    .where($"e" === "db:schema" && $"vref".isNotNull)
    .select($"vref").distinct().collect().map(_.getString(0)).sorted.toSeq

  /** Persist the store as the engine-native Parquet triple layout
    * (SURVEY.md §1.5/§4; reference analogue: the store IS the persistent
    * artifact, `load`/`dump` tripl.py:536-558): RESOLVED facts + the
    * effective schema in-band (so `TripleStore.load` bootstraps it back)
    * + the `db.refs:lazy` flag, partitioned by attribute namespace and
    * range-partitioned/sorted by (ns, a, e) within files — directory
    * pruning per namespace, row-group min/max pruning per attribute,
    * dictionary-encoded attr strings (see ParquetTripleSource).
    *
    * Resolution happens ON WRITE (card-one latest-wins + set semantics),
    * so the reopened store is preResolved: reads skip the resolution
    * shuffles forever after — the payoff for persisting. Any in-band
    * schema facts for attrs this store DECLARES are rewritten to the
    * effective declaration (kwargs won the precedence fight at bootstrap;
    * persisting stale losers would flip the winner at reload). */
  def save(path: String): Unit = {
    val declared = schemas.keySet.toSeq
    val cleaned = {
      val noFlags = resolved.where(
        !($"e" === "db:schema" &&
          $"a".isInCollection(Seq("db.refs:lazy", "db.cardinality:default"))))
      if (declared.isEmpty) noFlags
      else noFlags.where(
        !($"a".isInCollection(Seq("db:cardinality", "db:valueType")) &&
          $"e".isInCollection(declared)))
    }
    val flags = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(
          "db:schema", "db.refs:lazy", Triples.VBool, null, null, null,
          lazyRefs, null, null, null, 0L),
        org.apache.spark.sql.Row(
          "db:schema", "db.cardinality:default", Triples.VStr,
          if (defaultCardOne) "db.cardinality:one" else "db.cardinality:many",
          null, null, null, null, null, null, 0L)), 1), Triples.schema)
    cleaned.unionByName(schemaTriples).unionByName(flags)
      // deterministic dedup across data/schema overlap (set semantics)
      .groupBy(Triples.factCols.map(col): _*).agg(max($"txId").as("txId"))
      .withColumn("ns", substring_index($"a", ":", 1))
      .repartitionByRange($"ns", $"a", $"e")
      .sortWithinPartitions("ns", "a", "e")
      .write.mode("overwrite").partitionBy("ns").parquet(path)
  }

  /** Build a [[ValueIndex]] over this store's facts for `attrs` (each
    * cardinality-one numeric) and return a store handle that probes it
    * — see ValueIndex's scaladoc for the layout, the sub-linear top-k
    * argument, and the snapshot contract. */
  def buildValueIndex(table: String, path: String, attrs: Seq[String],
      nBuckets: Int = 64): TripleStore = {
    ValueIndex.build(this, table, path, attrs, nBuckets)
    withValueIndex(table)
  }

  /** This store reading an ALREADY-BUILT [[ValueIndex]] (catalog name).
    * Caller contract: the index covers this store's current facts for
    * its attributes (built from it, plus [[ValueIndex.append]] per
    * ingested batch). */
  def withValueIndex(table: String): TripleStore =
    new TripleStore(spark, triples, schemas, preResolved, source,
      lazyRefs, defaultCardOne, Some(table))

  // ---------------------------------------------------------------------
  // match (Q1/Q2): conjunctive pattern → entity ids
  // ---------------------------------------------------------------------

  /** Q1 — single-attribute lookup `(a, v)` → DataFrame["e"]. Scalar =
    * equality, list = IN (tripl.py:596-602), sub-pattern = semi-join
    * through the ref edge (tripl.py:591-592). */
  def entityIds(attr: String, mval: MVal): DataFrame = mval match {
    case MAny => scanFor(Seq(attr)).select($"e")
    case MEq(v) => entityIds(attr, MIn(Seq(v)))
    case MIn(vs) =>
      // POINT lookups through the index when the store carries one
      // over the attr: a point is a degenerate range, so equality/IN
      // prunes to the buckets whose [min, max] contains a value's
      // shadow (ValueIndex.inEids — same decline-to-fallback contract
      // as the range probe: family mismatch, un-indexed, or
      // un-reconciled appends all fall back to the identical exact
      // scan predicate)
      val vc = valueCol(attr)
      valueIndex.flatMap(t =>
        ValueIndex.inEids(spark, t, attr, vc, schemaOf(attr).vtype, vs))
      .getOrElse(
        scanFor(Seq(attr)).where(col(vc).isInCollection(vs)).select($"e"))
    case r: MRange =>
      // a store carrying a ValueIndex over the attr serves the range
      // from the zone map: buckets that can't intersect [lo, hi] are
      // partition-pruned, so the probe reads O(intersecting buckets)
      // instead of the attr's full fact slice (ValueIndex.rangeEids —
      // snapshot contract, like the top-k probes). Fallback: the
      // attr-pruned scan with the same predicate.
      valueIndex.flatMap(t =>
        ValueIndex.rangeEids(spark, t, attr, valueCol(attr),
          schemaOf(attr).vtype, r))
      .getOrElse {
        val cond = TripleStore.rangeCond(col(valueCol(attr)), r)
        scanFor(Seq(attr)).where(cond).select($"e")
      }
    case MSub(sub) =>
      // entities whose ref through `attr` lands in the sub-pattern's match
      edgesFor(Some(Seq(attr)))
        .join(matchEntities(sub).withColumnRenamed("e", "vref"),
          Seq("vref"), "left_semi")
        .select($"e")
  }

  /** Q2 — conjunctive match (tripl.py:604-609). Two compilations:
    *
    *  - ALL-SCALAR patterns with ≥ 2 conjuncts take the MATCH-COLLAPSE
    *    path (the optional optimization SURVEY.md §4 names): ONE
    *    attribute-pruned scan of the conjuncts' union, an OR-prefilter
    *    (rows satisfying no conjunct never enter the exchange — the
    *    same rows the join chain would shuffle in total, shuffled
    *    once), then ONE groupBy(e) with a per-conjunct satisfied flag
    *    (`max(when(cond, 1))` — any-value semantics for multi-valued
    *    attrs) kept only when every flag is set. k scans + k−1
    *    semi-join shuffles become 1 scan + 1 shuffle, and the groupBy
    *    subsumes the distinct.
    *  - patterns with nested sub-patterns (or a single conjunct) keep
    *    the left-semi join chain; Catalyst/AQE pick broadcast vs
    *    shuffle per conjunct (a genuine upgrade over the reference's
    *    fixed-order full intersections, SURVEY.md §4). */
  def matchEntities(pattern: Seq[(String, MVal)]): DataFrame = {
    require(pattern.nonEmpty, "empty match pattern")
    indexDrivenMatch(pattern).getOrElse(matchViaScan(pattern))
  }

  /** Number of entities matching `pattern` — `matchEntities(_).count()`
    * with the zone map's AGGREGATE PUSHDOWN for the single-range shape:
    * on an indexed store, buckets provably inside the range are counted
    * straight off the manifest (zero data rows read — the pristine gate
    * makes fact count = entity count) and only the straddling edge
    * buckets scan ([[ValueIndex.countRange]]). "How many documents
    * exceed N chars" is a curation question whose ANSWER can be
    * billions of rows; the pushdown's cost is O(edge buckets) either
    * way. Any decline (family mismatch, un-indexed, un-reconciled
    * appends, other pattern shapes) falls back to counting the exact
    * match, so the count is index-independent. */
  def countMatch(pattern: Seq[(String, MVal)]): Long = {
    require(pattern.nonEmpty, "empty match pattern")
    val pushed = pattern match {
      case Seq((a, r: MRange)) =>
        valueIndex.flatMap(t => ValueIndex.countRange(spark, t, a,
          valueCol(a), schemaOf(a).vtype, r))
      case _ => None
    }
    pushed.getOrElse(matchEntities(pattern).count())
  }

  /** Sum of a LONG attr's values over the entities matching `pattern` —
    * the token-budget question ("total chars of the docs above the
    * threshold") as a scalar, with the zone map's SUM pushdown for the
    * single-range-on-the-summed-attr shape: inner buckets contribute
    * their materialized manifest sums with zero data rows read
    * ([[ValueIndex.sumRange]]), only edges scan. Long-only by design —
    * long addition is associative, so pushed == scanned always (a
    * double sum's value depends on association order). An empty match
    * sums to 0, the monoid identity (SQL's SUM would say NULL). Any
    * decline falls back to the exact scan: the attr's fact slice
    * semi-joined to the match (card-many attrs sum every fact of a
    * matched entity; the pushdown never fires there — the index is
    * card-one-only). */
  def sumMatch(attr: String, pattern: Seq[(String, MVal)]): Long = {
    require(pattern.nonEmpty, "empty match pattern")
    require(schemaOf(attr).vtype == Triples.VLong,
      s"sumMatch sums LONG attrs only (got ${schemaOf(attr).vtype} " +
        s"for $attr) — double sums are association-order-dependent " +
        "and belong to the DataFrame layer where the plan is explicit")
    val pushed = pattern match {
      case Seq((a, r: MRange)) if a == attr =>
        valueIndex.flatMap(t =>
          ValueIndex.sumRange(spark, t, a, schemaOf(a).vtype, r))
      case _ => None
    }
    pushed.getOrElse {
      val row = scanFor(Seq(attr))
        .join(matchEntities(pattern), Seq("e"), "left_semi")
        .agg(sum($"vlong")).collect()(0)
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }
  }

  /** EXACT nearest-rank percentiles of `attr` over its fact universe —
    * per q: the k-th smallest native value, k = ⌈q·N⌉ (q = 0.5 the
    * median, 0.99 the p99). On an indexed store the zone-map manifest's
    * cumulative counts locate each rank's bucket and ONLY those buckets
    * scan ([[ValueIndex.percentileValues]]) — the "p99 document length"
    * curation statistic at O(bucket) cost. The exact fallback
    * (un-indexed, un-reconciled appends) is one count + ONE
    * range-partitioned contiguous-rank pass serving every q
    * ([[ValueIndex.rankPick]] — never a no-partition window, the
    * single-reducer shape this codebase bans). None on an attr with no
    * (declared-type) facts. Value ties make each rank's VALUE
    * deterministic either way. NOTE the rank definition is ⌈q·N⌉
    * nearest-rank; [[graft.ops.Skew.exactQuantiles]] (the tabular
    * `stats`/`quantiles` surface) uses SQL-oracle Type-1
    * ⌊(N−1)·q⌋+1 — the two can differ by one position on small N. */
  def percentileValues(attr: String, qs: Seq[Double])
      : Map[Double, Option[Any]] = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"percentile qs must be in (0, 1], got $qs")
    val vc = valueCol(attr)
    valueIndex.flatMap(t =>
        ValueIndex.percentileValues(spark, t, attr, vc, qs))
      .map(m => m.map { case (q, v) => q -> (Some(v): Option[Any]) })
      .getOrElse {
        val facts = scanFor(Seq(attr)).where(col(vc).isNotNull)
        val n = facts.count()
        if (n == 0L) qs.map(_ -> (None: Option[Any])).toMap
        else {
          val ks = qs.distinct.map(q =>
            q -> math.ceil(q * n).toLong.max(1L).min(n))
          val picked = ValueIndex.rankPick(facts, vc, ks.map(_._2))
          ks.map { case (q, k) => q -> picked.get(k) }.toMap
        }
      }
  }

  /** Single-q [[percentileValues]]. */
  def percentileValue(attr: String, q: Double): Option[Any] =
    percentileValues(attr, Seq(q))(q)

  /** PATTERN-CONDITIONAL [[percentileValues]] — exact nearest-rank
    * percentiles of `attr` over the entities matching `pattern` ("p90
    * length of the docs between the curation gates"). For the
    * single-range-on-`attr` shape on an indexed store the zone map
    * serves it ([[ValueIndex.percentileRange]]): provably-inner buckets
    * contribute manifest counts with zero rows read, straddling edges
    * contribute exact counts from one pruned scan, and each rank scans
    * only its one bucket — O(edge buckets + one bucket per rank)
    * however many facts match. Every other shape (and any index
    * decline) is the exact fallback: the attr's fact slice semi-joined
    * to the match, one count + one range-partitioned [[ValueIndex
    * .rankPick]] pass serving all qs — never a no-partition window.
    * q → None when no matching entity carries the attr. Card-many
    * attrs rank every fact of a matched entity (the pushdown never
    * fires there — the index is card-one-only). */
  def percentileValues(attr: String, qs: Seq[Double],
      pattern: Seq[(String, MVal)]): Map[Double, Option[Any]] = {
    require(pattern.nonEmpty, "empty match pattern")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"percentile qs must be in (0, 1], got $qs")
    val vc = valueCol(attr)
    val pushed: Option[Map[Double, Any]] = pattern match {
      case Seq((a, r: MRange)) if a == attr =>
        valueIndex.flatMap(t => ValueIndex.percentileRange(spark, t, a,
          vc, schemaOf(a).vtype, qs, r))
      case _ => None
    }
    pushed.map(m => qs.map(q => q -> m.get(q)).toMap).getOrElse {
      val facts = scanFor(Seq(attr)).where(col(vc).isNotNull)
        .join(matchEntities(pattern), Seq("e"), "left_semi")
      val n = facts.count()
      if (n == 0L) qs.map(_ -> (None: Option[Any])).toMap
      else {
        val ks = qs.distinct.map(q =>
          q -> math.ceil(q * n).toLong.max(1L).min(n))
        val picked = ValueIndex.rankPick(facts, vc, ks.map(_._2))
        val m = ks.map { case (q, k) => q -> picked(k) }.toMap
        qs.map(q => q -> (Some(m(q)): Option[Any])).toMap
      }
    }
  }

  /** MIN of `attr`'s values over the entities matching `pattern` —
    * None when no matching entity carries the attr. The
    * single-range-on-`attr` shape on an indexed store is served by the
    * zone map ([[ValueIndex.extremumRange]]): strict cross-bucket
    * shadow order localizes the extremum, so the probe scans the
    * extremal edge bucket(s) plus at most one provably-inner bucket —
    * O(1 buckets) however many facts match. The manifest's own
    * min/max can NOT answer alone: they are shadow doubles, and past
    * the shadow's precision two natives share one shadow. Any decline
    * falls back to the exact scan (fact slice semi-joined to the
    * match). */
  def minMatch(attr: String, pattern: Seq[(String, MVal)]): Option[Any] =
    extremumMatch(attr, pattern, isMax = false)

  /** MAX twin of [[minMatch]] — same pushdown, opposite walk end. */
  def maxMatch(attr: String, pattern: Seq[(String, MVal)]): Option[Any] =
    extremumMatch(attr, pattern, isMax = true)

  private def extremumMatch(attr: String, pattern: Seq[(String, MVal)],
      isMax: Boolean): Option[Any] = {
    require(pattern.nonEmpty, "empty match pattern")
    val vc = valueCol(attr)
    val pushed: Option[Option[Any]] = pattern match {
      case Seq((a, r: MRange)) if a == attr =>
        valueIndex.flatMap(t => ValueIndex.extremumRange(spark, t, a,
          vc, schemaOf(a).vtype, r, isMax))
      case _ => None
    }
    pushed.getOrElse {
      val c = col(vc)
      val row = scanFor(Seq(attr)).where(c.isNotNull)
        .join(matchEntities(pattern), Seq("e"), "left_semi")
        .agg(if (isMax) max(c) else min(c)).collect()(0)
      if (row.isNullAt(0)) None else Some(row.get(0))
    }
  }

  /** AVERAGE of a LONG attr's values over the entities matching
    * `pattern` — [[sumMatch]]/[[countMatch]] composed, so the
    * single-range-on-`attr` shape reads O(edge buckets) off the zone
    * map. None on an empty match (SQL's AVG-of-nothing). The division
    * is ONE double op over an exactly-computed integer sum and count —
    * bit-identical to any engine computing CAST(sum AS DOUBLE)/count,
    * which is the oracle-pinnable formulation (a float running mean
    * would be association-order-dependent). Long-only like sumMatch;
    * the exact fallback aggregates the sum in DECIMAL(38,0) (sums
    * beyond long range still average correctly — decimal→double is the
    * same round-to-nearest the pushdown's long→double performs). */
  def avgMatch(attr: String, pattern: Seq[(String, MVal)]): Option[Double] = {
    require(pattern.nonEmpty, "empty match pattern")
    require(schemaOf(attr).vtype == Triples.VLong,
      s"avgMatch averages LONG attrs only (got ${schemaOf(attr).vtype} " +
        s"for $attr) — see sumMatch's rationale")
    val pushed: Option[Option[Double]] = pattern match {
      case Seq((a, r: MRange)) if a == attr =>
        valueIndex.flatMap { t =>
          for {
            s <- ValueIndex.sumRange(spark, t, a, schemaOf(a).vtype, r)
            c <- ValueIndex.countRange(spark, t, a, valueCol(a),
              schemaOf(a).vtype, r)
          } yield if (c == 0L) None else Some(s.toDouble / c)
        }
      case _ => None
    }
    pushed.getOrElse {
      val row = scanFor(Seq(attr)).where($"vlong".isNotNull)
        .join(matchEntities(pattern), Seq("e"), "left_semi")
        .agg(sum($"vlong".cast("decimal(38,0)")).as("s"),
          count($"vlong").as("c")).collect()(0)
      val c = row.getLong(1)
      if (c == 0L) None
      else Some(row.getDecimal(0).doubleValue() / c)
    }
  }

  private def scalarCond(a: String, mv: MVal): Option[Column] = mv match {
    case MAny => Some($"a" === a)
    case MEq(v) =>
      Some($"a" === a && col(valueCol(a)).isInCollection(Seq(v)))
    case MIn(vs) =>
      Some($"a" === a && col(valueCol(a)).isInCollection(vs))
    case r: MRange =>
      Some($"a" === a && TripleStore.rangeCond(col(valueCol(a)), r))
    case MSub(_) => None
  }

  /** INDEX-DRIVEN conjunctive match: when the store carries a
    * [[ValueIndex]] and some scalar conjunct is provably SELECTIVE —
    * its range/point probe's kept buckets hold at most a quarter of the
    * attr's facts, read off the manifest (the zone map doubling as a
    * statistics store; the kept-bucket count is an upper bound on
    * matches) — that conjunct is served by the exact probe and the
    * RESIDUAL conjuncts' scan is semi-joined to the probe's eids
    * BEFORE the groupBy, so the exchange carries candidate entities
    * only (AQE broadcasts the small probe side). At 100 TB this turns
    * "lang = 'de' AND n_chars > 450 AND ..." from a union-slice scan +
    * full-width shuffle into a few pruned buckets + a residual scan
    * whose shuffle is bounded by the selective conjunct's matches. The
    * probe's decline contract (ValueIndex.matchProbe) plus the
    * selectivity gate make this a pure plan improvement: any decline
    * falls back to [[matchViaScan]] with identical semantics. */
  private def indexDrivenMatch(pattern: Seq[(String, MVal)]): Option[DataFrame] = {
    if (pattern.size < 2) return None
    val t = valueIndex.getOrElse(return None)
    val probes = pattern.zipWithIndex.flatMap { case ((a, mv), i) =>
      ValueIndex.matchProbe(spark, t, a, valueCol(a), schemaOf(a).vtype, mv)
        .map { case (df, est, tot) => (i, df, est, tot) }
    }
    if (probes.isEmpty) return None
    // MULTI-PROBE: every conjunct whose probe is selective (kept
    // buckets ≤ 1/4 of its attr's facts) drives — their exact eid sets
    // INTERSECT by semi-join (each side a pruned bucket scan; AQE
    // broadcasts the smaller), and only the residual conjuncts scan.
    // Two indexed ranges on a 100 TB store thus read two pruned bucket
    // sets instead of probe + full residual slice; the smallest probe
    // leads the chain so every later semi-join is bounded by it.
    val drivers = probes.filter(p => p._3 * 4L <= p._4).sortBy(_._3)
    if (drivers.isEmpty) return None // nothing selective enough to drive
    val eids = drivers.map(_._2).reduce((l, r) =>
      l.join(r, Seq("e"), "left_semi"))
    val driven = drivers.map(_._1).toSet
    val rest = pattern.zipWithIndex.collect {
      case (c, i) if !driven(i) => c }
    // every conjunct probed: the intersection IS the match (each
    // probe's eids are exact and one-row-per-entity — pristine
    // card-one buckets — so the semi-join chain stays distinct)
    if (rest.isEmpty) return Some(eids)
    val cs = rest.map { case (a, mv) => scalarCond(a, mv) }
    Some {
      if (cs.forall(_.isDefined)) {
        val flat = cs.flatten
        if (rest.size == 1) {
          val a = rest.head._1
          val filtered = scanFor(Seq(a)).where(flat.head)
            .join(eids, Seq("e"), "left_semi").select($"e")
          if (schemaOf(a).cardOne) filtered else filtered.distinct()
        } else {
          val flags = flat.zipWithIndex.map { case (c, i) =>
            max(when(c, 1).otherwise(0)).as(s"_m$i") }
          scanFor(rest.map(_._1).distinct)
            .where(flat.reduce(_ || _))
            .join(eids, Seq("e"), "left_semi")
            .groupBy($"e").agg(flags.head, flags.tail: _*)
            .where(flat.indices.map(i => col(s"_m$i") === 1).reduce(_ && _))
            .select($"e")
        }
      } else {
        // nested sub-patterns in the residue: the existing compilation
        // owns them; the probe's exact eids intersect at the end
        matchViaScan(rest).join(eids, Seq("e"), "left_semi")
      }
    }
  }

  /** The scan-side match compilations (collapse path / join chain) —
    * see [[matchEntities]]'s doc for when each runs. */
  private def matchViaScan(pattern: Seq[(String, MVal)]): DataFrame = {
    val conds = pattern.map { case (a, mv) => scalarCond(a, mv) }
    if (pattern.size >= 2 && conds.forall(_.isDefined)) {
      val cs = conds.flatten
      val flags = cs.zipWithIndex.map { case (c, i) =>
        max(when(c, 1).otherwise(0)).as(s"_m$i") }
      scanFor(pattern.map(_._1).distinct)
        .where(cs.reduce(_ || _))
        .groupBy($"e").agg(flags.head, flags.tail: _*)
        .where(cs.indices.map(i => col(s"_m$i") === 1).reduce(_ && _))
        .select($"e")
    } else {
      val joined = pattern.map { case (a, v) => entityIds(a, v) }
        .reduce((l, r) => l.join(r, Seq("e"), "left_semi"))
      // a single non-nested lookup on a cardinality-one attr yields at
      // most one fact per entity — the distinct (a full shuffle) is a
      // no-op then
      val alreadyDistinct = pattern match {
        case Seq((a, MEq(_) | MIn(_) | MAny | _: MRange)) =>
          schemaOf(a).cardOne
        case _ => false
      }
      if (alreadyDistinct) joined else joined.distinct()
    }
  }

  /** Q3 — deprecated alias kept for API parity (match_pattern,
    * tripl.py:612-614). */
  @deprecated("use matchEntities", "0.1.0")
  def matchPattern(pattern: Seq[(String, MVal)]): DataFrame =
    matchEntities(pattern)

  // ---------------------------------------------------------------------
  // pull (Q7/Q8): graph-shaped projection, compiled set-at-a-time
  // ---------------------------------------------------------------------

  /** Q7 — pull `specs` for every entity in `entities` (a DataFrame with
    * one column "e"). Output: one row per entity, one column per spec.
    *
    * Plan shape (SURVEY.md §2.4): ALL flat attrs resolve in ONE
    * conditional-aggregation pass over the semi-joined triples (one
    * shuffle, map-side partial aggregation), not one join per attr.
    * Each nested descent adds exactly one edge join + one child pull +
    * one re-nesting aggregation. Multi-valued outputs are sort_array'd
    * for deterministic results (the reference's set semantics are
    * unordered; we fix an order so distributed runs are reproducible).
    */
  def pull(entities: DataFrame, specs: Seq[PullSpec],
      entitiesDistinct: Boolean = false): DataFrame =
    pullImpl(entities, specs, entitiesDistinct, None)

  /** [[pull]] with an optional LITERAL entity set: when the caller holds
    * the (bounded, already-collected) eids — the sort+limit path does —
    * every triple scan filters `e IN (ids)` instead of semi-joining a
    * computed frame. Two wins the join can't give: (1) on a persisted
    * store the IN predicate pushes into the parquet scan, and the
    * [[save]] layout sorts by (ns, a, e) within files, so row-group
    * min/max stats prune the read to O(k) row groups per attr — a
    * k-entity pull touches ~k row groups of a 100 TB store, not every
    * fact of the pulled attrs; (2) the ranking subtree that produced the
    * ids is not re-evaluated once per pull branch (flat + each nest).
    * Parquet converts an IN to an or-of-eq row-group check only up to
    * `spark.sql.parquet.pushdown.inFilterThreshold` values (default 10;
    * past it the pushed filter degrades to a min/max range, useless for
    * random eids) — the harness mains set it to [[TripleStore.TopKLiteralCap]];
    * production deployments should size it >= their top-k limits. */
  private def pullImpl(entities: DataFrame, specs: Seq[PullSpec],
      entitiesDistinct: Boolean, entLiterals: Option[Seq[String]]): DataFrame = {
    // an entity frame that IS a materialized leaf — a LocalRelation
    // (explicit eid list) or a LogicalRDD (a checkpoint this method
    // created one recursion step up), possibly under bare projections
    // (attributes or aliases of attributes; a projection that computes
    // anything would re-run per branch) — must not be checkpointed:
    // inlining a leaf into the branches is free, and a pin would be a
    // pure-waste job + storage. The check is
    // deliberately NOT "all leaves materialized": a distinct/union/
    // filter ABOVE materialized leaves (a pull over reachable()'s
    // returned union, say) re-inlines that operator — an exchange of
    // the whole frame — into every fan-out branch, the exact
    // replication the pin exists to avoid, so those still pin.
    def materializedOnly(df: DataFrame): Boolean = {
      import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
      import org.apache.spark.sql.catalyst.plans.logical._
      def strip(p: LogicalPlan): LogicalPlan = p match {
        case pr: Project if pr.projectList.forall {
              case _: Attribute | Alias(_: Attribute, _) => true
              case _ => false
            } => strip(pr.child)
        case al: SubqueryAlias => strip(al.child)
        case other => other
      }
      strip(df.queryExecution.analyzed) match {
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case _: LocalRelation | _: OneRowRelation => true
        case _ => false
      }
    }
    val ents0 =
      if (entitiesDistinct) entities.select($"e")
      else entities.select($"e").distinct()
    // Q7e '...' — resolve each recursive spec's ACTUAL depth over this
    // entity set, then unroll to plain PNest levels (see PRec scaladoc).
    if (specs.exists(_.isInstanceOf[PRec])) {
      // materialize the roots ONCE: the depth probe (eager BFS) and the
      // unrolled pull both consume them — without the pin the probe
      // re-evaluates the caller's whole match subtree per level
      val entsCk =
        if (materializedOnly(entities)) ents0
        else ents0.localCheckpoint(eager = true)
      // a PRec's depth is the number of non-empty levels of the BFS keyed
      // by (entity, root) — each root keeps its own visited set, as the
      // PRec scaladoc requires — capped at maxDepth so cycles terminate
      val expanded = specs.map {
        case p: PRec =>
          val es = edgesFor(Some(Seq(p.attr)))
          val (src, dst) = if (p.reverse) ("vref", "e") else ("e", "vref")
          val depth = Fixpoint.frontier(entsCk.select($"e", $"e".as("root")),
            Seq("e", "root"), es.select(col(src).as("_src"), col(dst).as("_dst")),
            p.maxDepth).frames.size - 1
          expandRec(specs, p, depth)
        case s => s
      }
      return pullImpl(entsCk, expanded, entitiesDistinct = true, entLiterals)
    }
    val flat = specs.collect { case p: PAttr => p }
    val others = specs.filterNot(_.isInstanceOf[PAttr])
    // MATERIALIZE the matched-eid set when the pull FANS OUT (wildcard /
    // reverse / nested branches): every branch semi-joins the same set,
    // and inlining the match subtree into each branch replicates its
    // whole plan — a depth-d nested pull re-derives the match O(b^d)
    // times (q18's unrolled recursion reached 1578 scans / 762 exchanges
    // at depth 2, ~2 s of pure driver planning + re-executed subtrees).
    // One localCheckpoint pins the narrow e-only frame as executor
    // blocks: the match computes once and every branch's plan gets a
    // leaf. Laziness exception #2 (beside the top-k prune, see
    // [[pullMany]]): a multi-branch pull runs its match eagerly at
    // construction; flat-only pulls — the fused/aggregate fast paths —
    // stay fully lazy.
    val ents =
      if (others.nonEmpty && entLiterals.isEmpty &&
          !materializedOnly(entities))
        ents0.localCheckpoint(eager = true)
      else ents0
    // e IN (ids) where literals are known, else the left-semi join
    def restrict(df: DataFrame): DataFrame = entLiterals match {
      case Some(ids) if ids.nonEmpty => df.where($"e".isInCollection(ids))
      case _ => df.join(ents, Seq("e"), "left_semi")
    }

    val flatDf: Option[DataFrame] = if (flat.isEmpty) None else Some {
      val relevant = restrict(scanFor(flat.map(_.attr)))
      val aggs = flat.map { p =>
        val vc = col(valueCol(p.attr))
        if (schemaOf(p.attr).cardOne)
          max(when($"a" === p.attr, vc)).as(p.name)
        else
          sort_array(collect_set(when($"a" === p.attr, vc))).as(p.name)
      }
      relevant.groupBy($"e").agg(aggs.head, aggs.tail: _*)
    }

    // '*' excludes attrs the pull expression already projects explicitly
    // (tripl.py:684-687: wildcard fills only keys not already pulled)
    val explicitAttrs = specs.collect {
      case p: PAttr => p.attr
      case p: PNest if !p.reverse => p.attr
      case p: PRec if !p.reverse => p.attr
    }
    val otherDfs: Seq[DataFrame] = others.map {
      case PWild =>
        // attr → sorted [values as string] map (dynamic schema, Q7b)
        val base = restrict(resolved)
        val scoped =
          if (explicitAttrs.isEmpty) base
          else base.where(!$"a".isInCollection(explicitAttrs))
        scoped
          .groupBy($"e", $"a")
          .agg(sort_array(collect_set(Triples.valueAsString())).as("vs"))
          .groupBy($"e")
          .agg(map_from_entries(sort_array(collect_list(struct($"a", $"vs"))))
            .as(PWild.name))
      case p: PRevIds =>
        // who points at me through attr (Q7c): sorted eid array
        restrict(edgesFor(Some(Seq(p.attr)))
          .select($"vref".as("e"), $"e".as("_src")))
          .groupBy($"e").agg(sort_array(collect_set($"_src")).as(p.name))
      case p: PNest =>
        // nested descent (Q7d): one edge join + recursive child pull +
        // one collect_list re-nesting. Forward: e -[attr]-> vref;
        // reverse: vref -[attr]-> e (tripl.py:694-706).
        val edge0 = edgesFor(Some(Seq(p.attr)))
        val edge =
          if (p.reverse) edge0.select($"vref".as("e"), $"e".as("_child"))
          else edge0.select($"e", $"vref".as("_child"))
        // pin the matched edge set and the child entity set ONCE: the
        // edges are consumed twice (child derivation + the re-nesting
        // join) and the child pull semi-joins its entity set into every
        // child branch PLUS the final left join — without the pins the
        // edge-scan union re-inlines into each of those plans (the
        // residual per-branch scans of the r18 fan-out fix; both frames
        // are narrow and bounded by the matched fan-out, i.e. by the
        // output size). The child call goes straight to pullImpl with
        // entitiesDistinct = true so the leaf is used as-is — no
        // re-distinct, and the bare-leaf rule skips a second pin.
        val scoped = restrict(edge).localCheckpoint(eager = true)
        val childEnts = scoped.select($"_child".as("e")).distinct()
          .localCheckpoint(eager = true)
        val childDf = pullImpl(childEnts, p.sub,
          entitiesDistinct = true, entLiterals = None)
        val childCols = childDf.columns.filter(_ != "e")
        scoped.join(childDf.withColumnRenamed("e", "_child"), Seq("_child"))
          .groupBy($"e")
          .agg(sort_array(collect_list(struct(childCols.map(col): _*)))
            .as(p.name))
      // PAttr was filtered into `flat`; PRec was unrolled to PNest above
      case p @ (_: PAttr | _: PRec) => sys.error(s"unreachable $p")
    }

    val joined = otherDfs.foldLeft(
      flatDf.map(ents.join(_, Seq("e"), "left")).getOrElse(ents))(
      (acc, df) => acc.join(df, Seq("e"), "left"))
    // preserve spec order in output columns
    joined.select($"e" +: specs.map(s => col(s.name)): _*)
  }

  // ---------------------------------------------------------------------
  // Pull-to-scan fusion: match+pull as ONE base-table projection
  // ---------------------------------------------------------------------

  /** The store's base-table sources, when EVERY source is a plain
    * relational TableSource (so the triples relation is exactly the union
    * of their encodings — no stray facts from other ingest paths). */
  private def tableSources: Option[Seq[graft.sources.RowIngest.TableSource]] =
    source.flatMap {
      case t: graft.sources.RowIngest.TableSource => Some(Seq(t))
      case graft.model.UnionTripleSource(ss)
          if ss.forall(_.isInstanceOf[graft.sources.RowIngest.TableSource]) =>
        Some(ss.map(_.asInstanceOf[graft.sources.RowIngest.TableSource]))
      case _ => None
    }

  /** Fuse a simple match+pull to a direct filter+projection of ONE base
    * table — the EAV analogue of scan pruning taken to its conclusion:
    * zero triple generation, zero groupBy(e) shuffle. The triples view of
    * a table is a 10-20× row blow-up whose reconstruction via groupBy is
    * the single most expensive plan shape at scale; when the compiler can
    * prove the answer is a projection of the base scan, it must emit the
    * projection (VERDICT r1 item 1).
    *
    * Legal iff (each condition guards a semantic, not a heuristic):
    *  - store is preResolved and purely TableSource-backed: no upserts /
    *    retractions / merged foreign facts to resolve, and eids are
    *    table-namespaced md5s, so no other table can assert facts about
    *    this table's entities;
    *  - pattern is conjunctive MEq/MIn/MAny (MSub needs a join);
    *  - pattern pins EXACTLY ONE candidate table (an attr only this
    *    table asserts, or tripl:type = thistable) — otherwise the match
    *    spans tables and the union path must run;
    *  - every pulled spec is a flat cardinality-one PAttr this table
    *    asserts (card-one + one-fact-per-(e,a) ⇒ scalar unwrap = the
    *    column value; missing column value null = missing fact = null).
    */
  private def fusedPullMany(
      pattern: Seq[(String, MVal)], specs: Seq[PullSpec]): Option[DataFrame] = {
    if (!preResolved) return None
    // empty pattern must fail uniformly (matchEntities requires non-empty);
    // without this guard the fused path would silently return every row
    if (pattern.isEmpty) return None
    val flat = specs.collect { case p: PAttr => p }
    if (flat.size != specs.size || flat.isEmpty) return None
    if (!flat.forall(p => schemaOf(p.attr).cardOne)) return None
    if (!pattern.forall {
        case (_, MEq(_) | MIn(_) | MAny | _: MRange) => true
        case _ => false })
      return None
    // a RANGE over tripl:type with a non-string bound would need the
    // fallback's cast-comparison semantics (a numeric bound matches a
    // table name only if the name casts to a number) — canMatch's
    // driver-side lexical compare below is exact only for string
    // bounds, so anything else punts to the union path
    if (pattern.exists {
        case (Triples.TypeAttr, r: MRange) =>
          !(r.lo.toSeq ++ r.hi.toSeq).forall(_.isInstanceOf[String])
        case _ => false })
      return None
    tableSources.flatMap { srcs =>
      def canMatch(ts: graft.sources.RowIngest.TableSource,
          a: String, v: MVal): Boolean = (a, v) match {
        case (Triples.TypeAttr, MEq(t)) => ts.spec.table == t
        case (Triples.TypeAttr, MIn(vs)) => vs.contains(ts.spec.table)
        // a range over the TYPE NAME is decided here, driver-side, on
        // the table's own name (the guard above pinned the bounds to
        // strings) — without this case the conjunct would fall to the
        // default valueExpr-defined branch (true for every table) and
        // then be constant-folded out of the emitted filters, silently
        // returning every row of a single-TableSource store. Compare
        // through UTF8String, NOT Scala's String </> : Spark orders
        // strings by UTF-8 bytes while String.compareTo orders UTF-16
        // code units, and the two disagree on supplementary-plane
        // characters (U+FFFF sorts above U+10000 in UTF-16 but below
        // it in UTF-8) — the fused path must include/exclude exactly
        // the tables the un-fused fallback would
        case (Triples.TypeAttr, r: MRange) =>
          import org.apache.spark.unsafe.types.UTF8String
          def cmp(a: String, b: String): Int =
            UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
          val tn = ts.spec.table
          r.lo.forall(lo => if (r.loStrict) cmp(tn, lo.toString) > 0
                            else cmp(tn, lo.toString) >= 0) &&
            r.hi.forall(hi => if (r.hiStrict) cmp(tn, hi.toString) < 0
                              else cmp(tn, hi.toString) <= 0)
        case _ => ts.spec.valueExpr(a).isDefined
      }
      val candidates = srcs.filter(ts =>
        pattern.forall { case (a, v) => canMatch(ts, a, v) })
      candidates match {
        case Seq(only) if flat.forall(p => only.spec.valueExpr(p.attr).isDefined) =>
          // tripl:type conjuncts are fully decided at compile time by
          // canMatch (valueExpr is lit(table)) — emitting them would
          // produce trivially-true literal filters; constant-fold them out
          val filters = pattern.filter(_._1 != Triples.TypeAttr).map {
            case (a, MAny) => only.spec.valueExpr(a).get.isNotNull
            case (a, MEq(v)) => only.spec.valueExpr(a).get === lit(v)
            case (a, MIn(vs)) => only.spec.valueExpr(a).get.isInCollection(vs)
            // a range on the base table is the ideal plan here: the
            // comparison pushes into the parquet scan as a row-group
            // predicate (null-safe: rangeCond's comparisons are
            // null-rejecting, matching missing-fact semantics)
            case (a, r: MRange) =>
              TripleStore.rangeCond(only.spec.valueExpr(a).get, r)
            case (_, MSub(_)) => sys.error("unreachable")
          }
          val e = graft.sources.RowIngest
            .eidFor(only.spec.table, only.spec.keyCols.map(col))
          Some(filters.foldLeft(only.df)(_ where _)
            .select(e.as("e") +: flat.map(p =>
              only.spec.valueExpr(p.attr).get.as(p.name)): _*))
        case _ => None
      }
    }
  }

  /** Q8 — pull_many: match (or take explicit eids) then batch pull, with
    * the reference's sort semantics as SPEC'D in SURVEY.md §1.4 (sort_by
    * → ascending by default). Sort+limit lowers to TakeOrderedAndProject.
    *
    * LAZINESS EXCEPTION (the one in the store's query surface): a
    * sort+limit pull whose top-k prune fires, with `limit` ≤
    * [[TripleStore.TopKLiteralCap]], runs the BOUNDED ranking job (≤
    * limit rows collected) while CONSTRUCTING the result — it buys the
    * literal-IN row-group prune on persisted stores, which needs the
    * winning eids as plan-time literals. Every other path, and every
    * other builder in the store, stays fully lazy. An asc non-universe
    * sort over a [[ValueIndex]]-covered attr may additionally run the
    * one-aggregate universe proof (see [[topKEids]]). */
  def pullMany(
      pattern: Seq[(String, MVal)],
      specs: Seq[PullSpec],
      sortBy: Option[String] = None,
      desc: Boolean = false,
      limit: Option[Int] = None): DataFrame = {
    fusedPullMany(pattern, specs) match {
      case Some(f) => sortLimit(f, sortBy, desc, limit)
      case None =>
        // matchEntities output is distinct by construction
        val ents = matchEntities(pattern)
        // top-k pushdown (the reference's own TODO, tripl.py:730-732):
        // when sort+limit name a flat cardinality-one attr among the
        // pulled specs, rank the MATCHED EIDS by a mini-pull of just
        // that attr and take k BEFORE the full pull join tree — a top-k
        // pull over a 100 TB store then joins k entities' triples, not
        // every match's. The outer sortLimit still runs to order the k
        // pulled rows (and is what callers observe; boundary ties are
        // sort-nondeterministic in both paths, exactly as before).
        val pruned = (sortBy, limit) match {
          case (Some(k), Some(n)) =>
            specs.collectFirst {
              case p: PAttr if p.name == k && schemaOf(p.attr).cardOne =>
                // single-clause `(sortAttr, any)` match: the entity set
                // IS the sort attr's fact universe, so an index probe
                // may skip the ents semi-join entirely (provably an
                // identity — see ValueIndex.topKEids)
                val universe = pattern match {
                  case Seq((a, MAny)) if a == p.attr => true
                  case _ => false
                }
                // single-clause RANGE match on the sort attr ("longest
                // documents above a threshold"): one fused index probe
                // serves match + rank — the threshold walk restricted
                // to range-intersecting buckets — instead of a range
                // probe whose output a second index read then ranks.
                // Both directions qualify (the range is null-rejecting,
                // so asc needs no universe proof); decline falls
                // through to the generic path, whose semantics are
                // identical.
                val rangeFused = pattern match {
                  case Seq((a, r: MRange)) if a == p.attr =>
                    valueIndex.flatMap(t => ValueIndex.rangeTopKEids(
                      spark, t, p.attr, valueCol(p.attr),
                      schemaOf(p.attr).vtype, r, n, desc))
                  case _ => None
                }
                rangeFused.getOrElse(
                  topKEids(ents, p.attr, desc, n, entsIsUniverse = universe,
                    pattern = pattern))
            }.getOrElse(ents)
          case _ => ents
        }
        // the top-k prune yields <= limit eids: collect them ONCE (a
        // bounded action — the ranking job that would otherwise re-run
        // inside every pull branch) and pull by literal IN, which on a
        // persisted store row-group-prunes each attr scan to ~k row
        // groups (see pullImpl). Past the cap, the semi-join plan owns
        // it unchanged.
        val pulled =
          if ((pruned ne ents) && limit.exists(_ <= TripleStore.TopKLiteralCap)) {
            import spark.implicits._
            val ids = pruned.select($"e").as[String].collect().toSeq
            pullImpl(ids.toDF("e"), specs, entitiesDistinct = true, Some(ids))
          } else pull(pruned, specs, entitiesDistinct = true)
        sortLimit(pulled, sortBy, desc, limit)
    }
  }

  /** [[ValueIndex.provesUniverse]] results memoized per store INSTANCE,
    * keyed by (index table, sort attr, match pattern) and VALIDATED by
    * the attr's manifest total at proof time. Sound because the store
    * is an immutable snapshot: the proof is a pure function of
    * (index rows, match result), the match result of (pattern, triples),
    * and every write op returns a NEW store with the index handle
    * dropped (ValueIndex snapshot contract) — so within one instance's
    * lifetime both inputs are fixed. The recorded total guards the one
    * way the index rows CAN shift under a live instance: an
    * out-of-band `ValueIndex.append` to the registered table (a
    * contract violation — it mutates the path without dropping any
    * store's handle) changes the attr's manifest total, so the probe's
    * O(manifest) total check detects it and re-proves instead of
    * pairing the stale proof with appended entities outside the match.
    * A concurrent race at worst runs the proof twice, never caches a
    * wrong answer. */
  private val ascProofMemo = scala.collection.concurrent.TrieMap
    .empty[(String, String, Seq[(String, MVal)]), (Boolean, Long)]

  /** The `limit`-sized eid subset that a sort on `attr` selects: one
    * attr-pruned scan + per-entity aggregate + TakeOrderedAndProject —
    * entities missing the attr sort as SQL nulls (first asc / last
    * desc), matching the post-pull column sort they replace.
    *
    * When the store carries a [[ValueIndex]] covering `attr`, a
    * DESCENDING top-k probes it first: the manifest picks a value
    * threshold provably covering the top k, the scan partition-prunes
    * to the few highest buckets, and the linear pass disappears —
    * sub-linear in the attribute's fact count. ASCENDING probes only in
    * the universe form (there every entity provably has the attr, so
    * nulls-FIRST ranking of missing-attr entities is vacuous) — proven
    * either syntactically (`entsIsUniverse`, the single-clause
    * `(attr, any)` match) or by [[ValueIndex.provesUniverse]]'s one
    * bounded counting aggregate (ents ⊆ index rows AND sizes equal ⇒
    * the sets coincide; the proof job scans the attr's index slice
    * with no sort, cheaper than the fallback's rank whenever it
    * succeeds, bounded when it fails). A non-universe asc the proof
    * rejects, and an `ents` so selective the whole range holds < k
    * matches, decline (None → this fallback). */
  private def topKEids(ents: DataFrame, attr: String, desc: Boolean,
      limit: Int, entsIsUniverse: Boolean = false,
      pattern: Seq[(String, MVal)] = Nil): DataFrame = {
    val viaIndex =
      if (desc || entsIsUniverse) valueIndex.flatMap(t =>
        ValueIndex.topKEids(spark, t, attr, valueCol(attr),
          if (entsIsUniverse) None else Some(ents), limit, desc))
      // the proof is an EAGER job at construction time: run it only
      // where the laziness exception already applies (limit under the
      // literal cap — the same gate the bounded ranking collect uses),
      // so a huge-limit asc pull stays fully lazy as before. The proof
      // result is MEMOIZED per (index, attr, match pattern) on THIS
      // store instance: the store is an immutable snapshot and every
      // write op returns a NEW store with the index handle dropped, so
      // a proof can never outlive the snapshot it certified — N
      // identical asc pulls pay the proof job once. Proof and probe
      // share ONE resolved index generation (resolveGeneration), so a
      // compact landing between them cannot pair the old generation's
      // proof with the new generation's rows.
      else valueIndex.flatMap { t =>
        if (limit > TripleStore.TopKLiteralCap) None
        else {
          val gen = ValueIndex.resolveGeneration(spark, t)
          // ONE fold over the generation's manifest snapshot serves
          // the whole probe: the stats feed (a) the memo validation —
          // the attr's manifest total is the generation-CONTENT check;
          // a mismatch means the index moved under this live instance
          // (out-of-band append, see ascProofMemo's doc) and the
          // cached proof must not be trusted — (b) the universe proof
          // on a memo miss, and (c) the probe's own threshold walk. The
          // snapshot is listing-validated (ValueIndex.snapshot), so
          // steady-state serving costs one filesystem LIST, not a
          // Spark job.
          val stats = gen.bucketStats(attr)
          if (stats.isEmpty) None
          else {
            val curTotal = stats.map(_._4).sum
            val proven = ascProofMemo.get((t, attr, pattern)) match {
              case Some((p, tot)) if tot == curTotal => p
              case _ =>
                val p = ValueIndex.provesUniverse(spark, t, attr, ents,
                  Some(gen), Some(stats))
                ascProofMemo.put((t, attr, pattern), (p, curTotal))
                p
            }
            if (proven) ValueIndex.topKEids(spark, t, attr,
              valueCol(attr), None, limit, desc = false, gen = Some(gen),
              preStats = Some(stats))
            else None
          }
        }
      }
    viaIndex.getOrElse {
      val vc = col(valueCol(attr))
      val vals = scanFor(Seq(attr)).join(ents, Seq("e"), "left_semi")
        .groupBy($"e").agg(max(when($"a" === attr, vc)).as("_sortv"))
      ents.join(vals, Seq("e"), "left")
        .orderBy(if (desc) col("_sortv").desc else col("_sortv").asc)
        .limit(limit).select($"e")
    }
  }

  /** Q8 — pull_many over an EXPLICIT eid list (tripl.py:729: pull_many
    * accepts eids directly, not just a match pattern). */
  def pullManyIds(
      eids: Seq[String],
      specs: Seq[PullSpec],
      sortBy: Option[String] = None,
      desc: Boolean = false,
      limit: Option[Int] = None): DataFrame = {
    import spark.implicits._
    sortLimit(pull(eids.toDF("e"), specs), sortBy, desc, limit)
  }

  private def sortLimit(base: DataFrame, sortBy: Option[String],
      desc: Boolean, limit: Option[Int]): DataFrame = {
    val sorted = sortBy match {
      case Some(k) => base.orderBy(if (desc) col(k).desc else col(k).asc)
      case None => base
    }
    limit.map(sorted.limit).getOrElse(sorted)
  }

  // ---------------------------------------------------------------------
  // Datalog-lite (Q10, the reference's PLANNED grammar tripl.py:571-584)
  // ---------------------------------------------------------------------

  /** One where-clause `[?s attr ?o]` (or constants). Variables start with
    * '?'. Compiles to a filtered scan of `resolved`; shared variables
    * across clauses become equi-join keys — the classic triple-pattern
    * self-join (SURVEY.md §2.5). Entity/ref positions join as strings;
    * the object position uses the attr's typed value column.
    */
  def datalog(find: Seq[String], where: Seq[(String, String, Any)],
      sortBy: Option[String] = None, desc: Boolean = false,
      take: Option[Int] = None,
      notWhere: Seq[(String, String, Any)] = Nil,
      aggregates: Seq[DatalogAgg] = Nil,
      withVars: Seq[String] = Nil,
      orWhere: Seq[DatalogOr] = Nil): DataFrame =
    datalogRules(find, where, Nil, sortBy = sortBy, desc = desc,
      take = take, notWhere = notWhere, aggregates = aggregates,
      withVars = withVars, orWhere = orWhere)

  private def isVar(t: Any): Boolean = t match {
    case s: String => s.startsWith("?"); case _ => false }

  /** One where-clause compiled against the EDB (stored attrs) or an IDB
    * relation (rule-derived binary predicate, columns s/o). A REPEATED
    * variable (?e attr ?e) is a self-loop: compiled as an equality
    * filter with ONE output column (two identically-named columns would
    * be ambiguous downstream). An [[MRange]] in object position is a
    * VALUE-RANGE constant (engine extension, like match's): the clause
    * binds only its subject, so on a store carrying a ValueIndex over
    * the attr the whole clause is served by the zone-map probe
    * (bucket partition-pruning — "?d whose n_chars > N" stops scanning
    * the attr's full fact slice); otherwise the comparison rides the
    * attr-pruned scan. */
  private def clauseDf(clause: (String, String, Any),
      idb: Map[String, DataFrame]): DataFrame = {
    val (s, attr, o) = clause
    val selfLoop = isVar(s) && (o match {
      case v: String => v == s; case _ => false })
    idb.get(attr) match {
      case Some(rel) =>
        var df = if (selfLoop) rel.where($"s" === $"o") else rel
        var cols = Seq.empty[Column]
        if (isVar(s)) cols :+= $"s".as(s) else df = df.where($"s" === s)
        o match {
          case v: String if isVar(v) && !selfLoop => cols :+= $"o".as(v)
          case r: MRange => df = df.where(TripleStore.rangeCond($"o", r))
          case v if !isVar(v) => df = df.where($"o" === lit(v))
          case _ => ()
        }
        df.select(cols: _*)
      case None =>
        val vc = valueCol(attr)
        o match {
          case r: MRange if isVar(s) && !selfLoop =>
            valueIndex
              .flatMap(t => ValueIndex.rangeEids(spark, t, attr, vc,
                schemaOf(attr).vtype, r))
              .getOrElse(scanFor(Seq(attr))
                .where(TripleStore.rangeCond(col(vc), r)).select($"e"))
              .select(col("e").as(s))
          // a CONSTANT object with a variable subject ("?d :lang 'en'")
          // is a point lookup — served by the zone map like the range
          // case when the store indexes the attr (same decline contract)
          case v if isVar(s) && !selfLoop && valueIndex.isDefined &&
              (v match { case vstr: String => !isVar(vstr)
                         case _: MVal => false; case _ => true }) =>
            valueIndex
              .flatMap(t => ValueIndex.inEids(spark, t, attr, vc,
                schemaOf(attr).vtype, Seq(v)))
              .getOrElse(scanFor(Seq(attr))
                .where(col(vc) === lit(v)).select($"e"))
              .select(col("e").as(s))
          case _ =>
            var df =
              if (selfLoop)
                scanFor(Seq(attr)).where($"e" === col(vc).cast("string"))
              else scanFor(Seq(attr))
            var cols = Seq.empty[Column]
            if (isVar(s)) cols :+= $"e".as(s) else df = df.where($"e" === s)
            o match {
              case v: String if isVar(v) && !selfLoop =>
                cols :+= col(vc).as(v)
              case r: MRange =>
                df = df.where(TripleStore.rangeCond(col(vc), r))
              case v if !isVar(v) => df = df.where(col(vc) === lit(v))
              case _ => ()
            }
            df.select(cols: _*)
        }
    }
  }

  private def joinClauses(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce { (l, r) =>
      val shared = l.columns.intersect(r.columns).toSeq
      if (shared.nonEmpty) l.join(r, shared) else l.crossJoin(r)
    }

  /** Lower a LINEAR single-predicate Datalog program to `WITH RECURSIVE`
    * (see the `useRecursiveCte` doc on [[datalogRules]] for when this is
    * the right plan). Qualifying shape: exactly one IDB predicate, no
    * rule-level negation, ≥1 base rule (no IDB literal in the body) and
    * EXACTLY one recursive rule containing exactly one IDB literal with
    * two distinct variable positions. The base bodies become the CTE
    * anchor (a plain clause-join DataFrame registered as a temp view);
    * the recursive rule's EDB clauses become a second view joined to the
    * recursive reference on the variables they share with the IDB
    * literal. Variable-named columns are `?x`-style, hence the
    * backtick-quoting. Returns None when the program doesn't qualify —
    * the caller falls back to the semi-naive loop. The temp views are
    * per-call (UUID-tagged) and live for the session, like any
    * registered view. */
  private def lowerLinearCte(rules: Seq[DatalogRule],
      preds: Seq[String]): Option[Map[String, DataFrame]] = {
    if (preds.size != 1 || rules.exists(_.negBody.nonEmpty)) return None
    val p = preds.head
    val (recR, baseR) = rules.partition(_.body.exists(_._2 == p))
    if (baseR.isEmpty || recR.size != 1) return None
    val r = recR.head
    if (r.body.count(_._2 == p) != 1) return None
    val (is, _, ioAny) = r.body.find(_._2 == p).get
    val io = ioAny match {
      case v: String if isVar(v) => v
      case _ => return None
    }
    if (!isVar(is) || is == io) return None
    val tag = "graft_cte_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val baseDf = baseR.map { b =>
      joinClauses(b.body.map(clauseDf(_, Map.empty)))
        .select(col(b.head._1).as("s"), col(b.head._3).as("o"))
    }.reduce(_ unionByName _)
    baseDf.createOrReplaceTempView(s"${tag}_base")
    val idbBind = Seq(is -> "r.s", io -> "r.o")
    val edbClauses = r.body.filterNot(_._2 == p)
    val (fromSql, bind) =
      if (edbClauses.isEmpty) (s"${tag}_rec r", idbBind.toMap)
      else {
        // lazy-checkpoint the recursive term's EDB join (same idiom as
        // reachableCte's edge view): the UnionLoop re-executes this
        // subtree once per level, so an un-pinned view re-derives the
        // clause scans + joins at every depth
        val edbDf = joinClauses(edbClauses.map(clauseDf(_, Map.empty)))
          .localCheckpoint(eager = false)
        edbDf.createOrReplaceTempView(s"${tag}_edb")
        val edbVars = edbDf.columns.toSet
        val conds = idbBind.collect {
          case (v, rc) if edbVars.contains(v) => s"e.`$v` = $rc" }
        if (conds.isEmpty) return None // EDB part ⋈ IDB literal is a cross
        (s"${tag}_edb e JOIN ${tag}_rec r ON ${conds.mkString(" AND ")}",
          idbBind.toMap ++ edbVars.map(v => v -> s"e.`$v`").toMap)
      }
    val proj = Seq(r.head._1, r.head._3).map(bind.get)
    if (proj.exists(_.isEmpty)) return None // head var unbound (unsafe)
    Some(Map(p -> spark.sql(
      s"""WITH RECURSIVE ${tag}_rec(s, o) AS (
         |  SELECT s, o FROM ${tag}_base
         |  UNION ALL
         |  SELECT ${proj(0).get} AS s, ${proj(1).get} AS o FROM $fromSql
         |)
         |SELECT DISTINCT s, o FROM ${tag}_rec""".stripMargin)))
  }

  /** Q10+ — Datalog with RECURSIVE rules (the reference's PLANNED `rules`
    * grammar, tripl.py:571-584 — spec'd there, never implemented; this
    * engine implements it). Each rule defines a binary IDB predicate
    * `head._2` over head variables (head._1, head._3), with a body of
    * clauses over stored attributes and/or IDB predicates — e.g.
    * transitive ancestry:
    *
    *   DatalogRule(("?x", "ancestor", "?y"), Seq(("?x", "geo:parent", "?y")))
    *   DatalogRule(("?x", "ancestor", "?z"),
    *     Seq(("?x", "geo:parent", "?y"), ("?y", "ancestor", "?z")))
    *
    * Evaluated as a distributed SEMI-NAIVE fixpoint (the classic Datalog
    * delta iteration; same frontier idiom as `reachable`): each predicate
    * keeps a running TOTAL and the last iteration's DELTA, and every rule
    * is re-derived once per IDB literal in its body with THAT literal
    * bound to the delta and the rest to the totals — a fact can only be
    * new if its derivation uses at least one new fact, so per-iteration
    * join input is the frontier, not the whole closure. Naive
    * re-derivation costs O(depth·|closure|) extra joins on deep graphs;
    * this costs O(Σ|delta|). New facts = derived ∖ total (left-anti);
    * iteration stops when every delta is empty, and a non-empty delta at
    * `maxIters` THROWS — a silently truncated closure would look like a
    * valid answer. Each delta is pinned, and each predicate's running
    * total is a [[graft.graph.Fixpoint.Running]] set (see
    * [[graft.graph.Fixpoint]] for its re-pin rule). `where` clauses may
    * use IDB predicates alongside stored attrs.
    *
    * The grammar's `take`/`sort` keys (tripl.py:583) lower exactly like
    * pullMany's: `sortBy` is one of the `find` variables, and sort+take
    * together collapse to TakeOrderedAndProject (a distributed per-
    * partition top-N + merge — no global sort materialization).
    *
    * @param onIteration instrumentation hook: (iteration, delta sizes per
    *   predicate) after each round — lets tests assert the frontier
    *   shrinks; no-op by default. */
  def datalogRules(find: Seq[String], where: Seq[(String, String, Any)],
      rules: Seq[DatalogRule], maxIters: Int = 20,
      onIteration: (Int, Map[String, Long]) => Unit = (_, _) => (),
      sortBy: Option[String] = None, desc: Boolean = false,
      take: Option[Int] = None,
      /** STRATIFIED negation at the query level: each clause here removes
        * bindings for which a matching fact exists (NOT EXISTS), applied
        * AFTER all rule strata complete — the query is implicitly the
        * topmost stratum. Variables shared with the positive body are the
        * anti-join keys; unshared variables are existential inside the
        * negation. Rule-LEVEL negation lives in DatalogRule.negBody. */
      notWhere: Seq[(String, String, Any)] = Nil,
      /** Datomic-style find aggregates. With any present, `find` becomes
        * the group keys and the output is find ++ aggregates.map(_.as);
        * aggregation is over the DISTINCT (find ++ with ++ agg vars)
        * projection of the solved body (set semantics before aggregation,
        * so counts are of distinct partner values, never of join
        * multiplicities). One extra groupBy on the find keys — the same
        * shuffle shape the bare distinct already pays. */
      aggregates: Seq[DatalogAgg] = Nil,
      /** Datomic's `:with`: variables included in the pre-aggregation
        * DISTINCT basis but not grouped or output. Needed whenever the
        * aggregated VALUE is not itself unique per contributing entity —
        * `sum ?price` over docs must carry `:with ?doc`, or two docs with
        * the same price collapse to one contribution under set
        * semantics. */
      withVars: Seq[String] = Nil,
      /** Disjunctive groups (Datomic's `or`): each group contributes ONE
        * relation — the union of its branches' clause joins — joined into
        * the positive body on shared variables. All branches of a group
        * must bind the same variable set (see [[graft.query.DatalogOr]]);
        * IDB predicates from `rules` may appear inside branches. */
      orWhere: Seq[DatalogOr] = Nil,
      /** OPT-IN lowering of a LINEAR single-predicate program to Spark
        * SQL's `WITH RECURSIVE` (SPARK-24497, executed as ONE UnionLoop
        * operator): the whole fixpoint runs inside a single query
        * execution, removing the semi-naive loop's per-iteration driver
        * round-trips (a delta count + localCheckpoint per round). Opt-in
        * — NOT the default — because Spark supports only UNION ALL in
        * recursive CTEs, which enumerates derivation PATHS: correct and
        * fast on tree/hierarchy-shaped edges (each closure pair has one
        * path — the ancestor/org-chart case this exists for), but CYCLIC
        * input fails at spark.sql.cteRecursionLevelLimit instead of
        * converging, and diamond-heavy DAGs amplify work by path
        * multiplicity. The loop (the default) dedups every round and
        * handles all of those. Programs the lowering can't express —
        * multiple predicates, non-linear or negated rules — silently use
        * the loop even when this flag is set; `onIteration` never fires
        * on the CTE path (there are no driver-visible iterations — the
        * point). */
      useRecursiveCte: Boolean = false): DataFrame = {
    require(where.nonEmpty || orWhere.nonEmpty, "empty where")
    // AGGREGATE PUSHDOWN through the query language: a global count
    // over one range clause — {"find": [], "agg": [["count","?d","n"]],
    // "where": [["?d", attr, {"$gt": N}]]} is the "how many docs pass
    // this gate" question — IS [[countMatch]]'s shape, so on an indexed
    // store the manifest answers it with zero data rows read for inner
    // buckets. Semantics are identical by construction: the general
    // path would count the DISTINCT ?d projection of the solved clause
    // (set semantics), which is exactly the matched-entity count; any
    // decline inside countMatch is the exact scan count. NOTE this one
    // shape is served EAGERLY — the manifest collect (or the fallback
    // count) runs at call time and the result is a local one-row frame,
    // where every other datalog shape returns a lazy plan; callers
    // building plans without executing them should treat this shape as
    // already-executed.
    (find, where, aggregates) match {
      case (Seq(), Seq((s, a, r: MRange)), Seq(agg))
          if rules.isEmpty && notWhere.isEmpty && orWhere.isEmpty &&
            withVars.isEmpty && agg.fn == "count" && agg.v == s &&
            isVar(s) && s != a && !isVar(a) &&
            sortBy.isEmpty && take.isEmpty =>
        return Seq(countMatch(Seq(a -> (r: MVal)))).toDF(agg.as)
      // the SUM twin: {"find": [], "agg": [["sum","?v","s"]], "where":
      // [[?d, attr, range], [?d, attr, ?v]], "with": [?d]} — the
      // token-budget question through the query language — IS
      // [[sumMatch]]'s shape when the attr is card-one LONG: the
      // binding clause re-reads the SAME attr the range clause gated,
      // so each matched entity contributes exactly its (in-range)
      // value, and `:with ?d` pins bag semantics (without it equal
      // values of two docs would collapse — which is why the shape
      // REQUIRES it; a with-less program keeps the general set-
      // semantics path). The manifest's materialized per-bucket sums
      // then serve inner buckets with zero data rows read. Preserves
      // the general path's empty semantics exactly: SUM over an empty
      // solution set is SQL NULL, so the (manifest-served) count is
      // probed first and 0 matches renders a null row, never
      // sumMatch's monoid 0.
      case (Seq(), Seq((s1, a1, r: MRange), (s2, a2, v: String)), Seq(agg))
          if rules.isEmpty && notWhere.isEmpty && orWhere.isEmpty &&
            s1 == s2 && a1 == a2 && isVar(s1) && !isVar(a1) &&
            isVar(v) && v != s1 && withVars == Seq(s1) &&
            agg.fn == "sum" && agg.v == v &&
            schemaOf(a1).vtype == Triples.VLong && schemaOf(a1).cardOne &&
            sortBy.isEmpty && take.isEmpty =>
        return {
          if (countMatch(Seq(a1 -> (r: MVal))) == 0L)
            Seq(Option.empty[Long]).toDF(agg.as)
          else Seq(sumMatch(a1, Seq(a1 -> (r: MVal)))).toDF(agg.as)
        }
      case _ => ()
    }
    val preds = rules.map(_.head._2).distinct
    val empty = Seq.empty[(String, String)].toDF("s", "o")

    // ---- stratification (standard model): positive dependency p ← q
    // needs stratum(p) ≥ stratum(q); NEGATIVE dependency p ← ¬q needs
    // stratum(p) > stratum(q). Bellman-Ford-style relaxation converges
    // iff no cycle passes through a negation; a stratum exceeding the
    // predicate count proves such a cycle, and the program is rejected
    // rather than given ad-hoc semantics.
    val stratum = scala.collection.mutable.Map(preds.map(_ -> 0): _*)
    var changedStr = true
    while (changedStr) {
      changedStr = false
      for (r <- rules) {
        val h = r.head._2
        for ((_, a, _) <- r.body if stratum.contains(a))
          if (stratum(h) < stratum(a)) { stratum(h) = stratum(a); changedStr = true }
        for ((_, a, _) <- r.negBody if stratum.contains(a)) {
          if (stratum(h) <= stratum(a)) {
            stratum(h) = stratum(a) + 1; changedStr = true }
          if (stratum(h) > preds.size) throw new IllegalArgumentException(
            s"rules are not stratifiable: predicate '$h' depends on a " +
              "negation of itself (directly or through a cycle)")
        }
      }
    }

    def headCols(r: DatalogRule): Seq[Column] = {
      require(isVar(r.head._1) && isVar(r.head._3),
        s"rule head vars must be variables: ${r.head}")
      Seq(col(r.head._1).as("s"), col(r.head._3).as("o"))
    }

    // one rule derivation: positive body joined (per-literal IDB choice —
    // the semi-naive delta binding), then each negated literal anti-joined
    // against the COMPLETE lower-stratum relations in `negIdb`
    def ruleDf(r: DatalogRule, idbOf: Int => Map[String, DataFrame],
        negIdb: Map[String, DataFrame]): DataFrame = {
      val pos = joinClauses(r.body.zipWithIndex.map {
        case (cl, k) => clauseDf(cl, idbOf(k)) })
      r.negBody.foldLeft(pos) { (acc, cl) =>
        val clDf = clauseDf(cl, negIdb)
        val shared = clDf.columns.filter(acc.columns.contains).toSeq
        require(shared.nonEmpty,
          s"negated clause $cl in rule for '${r.head._2}' shares no " +
            "variable with the positive body — unsafe negation")
        acc.join(clDf.select(shared.map(col): _*), shared, "left_anti")
      }.select(headCols(r): _*)
    }

    // ---- evaluate strata bottom-up: lower strata are COMPLETE (plain
    // EDB-like relations) before any rule that negates them fires; the
    // semi-naive delta iteration runs within each stratum, delta-binding
    // only same-stratum IDB literals (lower-stratum relations are fixed,
    // so re-deriving against their deltas would derive nothing new).
    var totalAll: Map[String, DataFrame] =
      if (useRecursiveCte) lowerLinearCte(rules, preds).getOrElse(Map.empty)
      else Map.empty
    var iterNo = 0
    if (totalAll.isEmpty)
    for (s <- stratum.values.toSeq.distinct.sorted) {
      val predsS = preds.filter(stratum(_) == s)
      val rulesS = rules.filter(r => stratum(r.head._2) == s)
      // seed round: every rule against the EMPTY same-stratum IDB — only
      // bodies over the EDB and lower strata can produce facts; these are
      // the depth-1 base of this stratum's closure
      val seedIdb = totalAll ++ predsS.map(_ -> empty).toMap
      var delta: Map[String, DataFrame] = predsS.map { p =>
        p -> rulesS.filter(_.head._2 == p)
          .map(r => ruleDf(r, _ => seedIdb, totalAll))
          .reduce(_ unionByName _).distinct().localCheckpoint(eager = true)
      }.toMap
      // one running total PER PREDICATE (see [[Fixpoint.Running]] for
      // the re-pin rule): a predicate whose delta is empty adds nothing,
      // so its union count only grows with its own non-empty rounds
      var total: Map[String, Fixpoint.Running] =
        delta.map { case (p, df) => p -> Fixpoint.Running(df) }
      var deltaSizes: Map[String, Long] =
        delta.map { case (p, df) => p -> df.count() }
      onIteration(iterNo, deltaSizes)
      iterNo += 1
      var i = 1
      while (deltaSizes.valuesIterator.exists(_ > 0) && i < maxIters) {
        val idbTot = totalAll ++ total.map { case (p, r) => p -> r.df }
        val next: Map[String, DataFrame] = predsS.map { p =>
          val perLiteral = rulesS.filter(_.head._2 == p).flatMap { r =>
            // one derivation per same-stratum IDB literal, delta-bound at
            // that literal: any fact all of whose same-stratum inputs are
            // old was derived in an earlier round
            r.body.indices.filter(j => predsS.contains(r.body(j)._2)).map { j =>
              ruleDf(r,
                k => if (k == j) totalAll ++ delta else idbTot, totalAll)
            }
          }
          val fresh =
            if (perLiteral.isEmpty) empty
            else perLiteral.reduce(_ unionByName _).distinct()
              .join(total(p).df, Seq("s", "o"), "left_anti")
              .localCheckpoint(eager = true)
          p -> fresh
        }.toMap
        delta = next
        deltaSizes = delta.map { case (p, df) => p -> df.count() }
        total = total.map { case (p, r) =>
          p -> (if (deltaSizes(p) == 0) r else r + delta(p))
        }
        onIteration(iterNo, deltaSizes)
        iterNo += 1
        i += 1
      }
      if (deltaSizes.valuesIterator.exists(_ > 0)) throw new IllegalStateException(
        s"datalogRules did not reach a fixpoint in $maxIters iterations — " +
          "raise maxIters (deep recursion) or check the rules for divergence")
      totalAll ++= total.map { case (p, r) => p -> r.df }
    }
    // or-groups: one relation per group — union of per-branch conjunctive
    // joins projected onto the (identical, enforced) branch variable set.
    // Branches may reference IDB predicates; the group then joins into
    // the positive body on shared variables like any other clause.
    val orDfs = orWhere.map { og =>
      require(og.branches.nonEmpty, "or group with no branches")
      def varsOf(cl: (String, String, Any)): Set[String] = {
        val (s, _, o) = cl
        (if (isVar(s)) Set(s) else Set.empty[String]) ++
          (o match {
            case v: String if isVar(v) => Set(v)
            case _ => Set.empty[String]
          })
      }
      val varSets = og.branches.map(_.flatMap(varsOf).toSet)
      require(varSets.head.nonEmpty && varSets.forall(_ == varSets.head),
        "or branches must bind the same non-empty variable set, got " +
          varSets.map(_.toSeq.sorted.mkString("{", " ", "}")).mkString(", "))
      val vars = varSets.head.toSeq.sorted
      og.branches.map { b =>
        joinClauses(b.map(clauseDf(_, totalAll))).select(vars.map(col): _*)
      }.reduce(_ unionByName _).distinct()
    }
    val positive = joinClauses(where.map(clauseDf(_, totalAll)) ++ orDfs)
    val negated = notWhere.foldLeft(positive) { (acc, cl) =>
      val clDf = clauseDf(cl, totalAll)
      val shared = clDf.columns.filter(acc.columns.contains).toSeq
      require(shared.nonEmpty,
        s"negated clause $cl shares no variable with the positive body — " +
          "unsafe negation (nothing to anti-join on)")
      acc.join(clDf.select(shared.map(col): _*), shared, "left_anti")
    }
    val result =
      if (aggregates.isEmpty) negated.select(find.map(col): _*).distinct()
      else {
        aggregates.foreach(a => require(isVar(a.v) && a.as.nonEmpty,
          s"aggregate must name a ?variable and an output column: $a"))
        val proj = negated
          .select((find ++ withVars ++ aggregates.map(_.v))
            .distinct.map(col): _*)
          .distinct()
        val aggCols = aggregates.map { a =>
          (a.fn match {
            case "count" => count(col(a.v))
            case "sum" => sum(col(a.v))
            case "min" => min(col(a.v))
            case "max" => max(col(a.v))
            case "avg" => avg(col(a.v))
            case other => throw new IllegalArgumentException(
              s"unknown aggregate function '$other' " +
                "(want count|sum|min|max|avg)")
          }).as(a.as)
        }
        proj.groupBy(find.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
      }
    sortLimit(result, sortBy, desc, take)
  }

  /** Unroll a recursive spec to `d` nested-descent levels: each level
    * re-applies the WHOLE enclosing expression (the reference recurses
    * with the base pull expr, tripl.py:708-721); at depth 0 the repeated
    * / deepest entity renders as {'db:ident': eid} only. */
  private def expandRec(fullSpecs: Seq[PullSpec], p: PRec, d: Int): PNest =
    PNest(p.attr,
      if (d <= 0) Seq(PAttr(Triples.IdentAttr))
      else fullSpecs.map {
        case q: PRec if q == p => expandRec(fullSpecs, p, d - 1)
        case q => q // a DIFFERENT PRec re-expands in the child pull
      },
      p.reverse, Some(p.name))

  // ---------------------------------------------------------------------
  // Recursion (Q7e '...'): reachability fixpoint
  // ---------------------------------------------------------------------

  /** Entities transitively reachable from `roots` through ref edges
    * (optionally restricted to `attrs`): one [[graft.graph.Fixpoint]]
    * frontier loop keyed by (entity, root) — the set-at-a-time analogue
    * of pull's '...' recursion with its `_seen_entities` cycle guard
    * (tripl.py:652-669); its doc gives the pins and jobs per level.
    * `maxIters` bounds runaway graphs: the answer silently stops at
    * depth `maxIters`. Output: (e, root, depth) — e reachable from root
    * in `depth` hops.
    *
    * SCALE NOTE: the visited/frontier sets are keyed by (entity, root) —
    * required by the reference's per-root traversal semantics (each
    * root's '...' recursion has its own seen-set). On a dense graph where
    * most entities are reachable from most roots that is O(|V|·|roots|)
    * state; with many roots prefer per-batch calls, or set `maxFrontier`
    * — a safety valve that fails fast with a clear message (one tiny
    * count per iteration) instead of letting the frontier shuffle OOM an
    * executor 19 iterations in. */
  def reachable(
      roots: DataFrame,
      attrs: Option[Seq[String]] = None,
      maxIters: Int = 20,
      maxFrontier: Option[Long] = None): DataFrame =
    bfsFrom(roots,
      edgesFor(attrs).select($"e".as("_src"), $"vref".as("_dst")),
      maxIters, maxFrontier)

  /** [[reachable]] lowered to `WITH RECURSIVE` (one UnionLoop execution —
    * the graph sibling of datalogRules' `useRecursiveCte`): the whole
    * traversal runs inside a single query, no per-depth driver loop
    * (a pin + an emptiness check per level in [[graft.graph.Fixpoint]]).
    * The recursion is
    * DEPTH-BOUNDED in the recursive term (`depth < maxDepth`), so it
    * terminates on ANY graph — cycles included — and the final
    * min-depth aggregation reproduces exactly [[reachable]]'s
    * shortest-hop answer (min over enumerated paths ≡ BFS first-visit
    * depth; property of min). The trade: UNION ALL enumerates PATHS, so
    * on dense cyclic graphs work grows with path counts where the BFS's
    * per-level anti-join dedups visits — use this for hierarchy/DAG-ish
    * ref graphs (the common lineage/org-chart shape) and the BFS
    * elsewhere; same output schema (e, root, depth). */
  def reachableCte(
      roots: DataFrame,
      attrs: Option[Seq[String]] = None,
      maxDepth: Int = 20): DataFrame = {
    val tag = "graft_bfs_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    roots.select($"e").distinct()
      .createOrReplaceTempView(s"${tag}_roots")
    // checkpoint the edge projection (lazily — computed at the query's
    // first materialization, same idiom as pageRankStatic): the
    // UnionLoop re-executes the recursive term's subtree once per
    // level, so an un-pinned view re-derives the triple-flatten + attr
    // filter (or a caller's fabricated-edge shuffle) at every depth —
    // the exact per-level re-evaluation the frontier loop's persist removes
    edgesFor(attrs).select($"e".as("_src"), $"vref".as("_dst"))
      .localCheckpoint(eager = false)
      .createOrReplaceTempView(s"${tag}_edges")
    spark.sql(
      s"""WITH RECURSIVE ${tag}_r(root, e, depth) AS (
         |  SELECT e AS root, e, 0 FROM ${tag}_roots
         |  UNION ALL
         |  SELECT r.root, ed._dst, r.depth + 1
         |  FROM ${tag}_r r JOIN ${tag}_edges ed ON ed._src = r.e
         |  WHERE r.depth < $maxDepth
         |)
         |SELECT e, root, CAST(min(depth) AS INT) AS depth
         |FROM ${tag}_r GROUP BY e, root""".stripMargin)
  }

  /** ROOT-BATCHED [[reachable]] — the dense-graph form: per-root visited
    * state is O(|V|·|roots|) (see the scale note above), so instead of
    * failing at `maxFrontier`, partition the ROOT SET into
    * ⌈|roots|/rootBatchSize⌉ deterministic hash-batches and run the BFS
    * once per batch against ONE shared persisted edge projection — peak
    * frontier state is bounded by O(|V|·rootBatchSize·batchParallelism)
    * regardless of how many roots the caller passes, turning the valve
    * into a scheduling knob. Up to `batchParallelism` batches run
    * CONCURRENTLY (driver threads, each submitting its own BFS jobs
    * into scheduler pool "graft_reachable" — under a FAIR-configured
    * cluster the batches share executors fairly; under FIFO their jobs
    * still interleave): each batch's BFS is a chain of small blocking
    * jobs (the per-level pin and check of [[graft.graph.Fixpoint]]),
    * each batch with its own loop state, so running them one at a time
    * serializes the cluster into idle-gapped sequential jobs — at 1.5 M
    * roots that is ~1000 batches of dead time, while k concurrent
    * batches keep the executors saturated at k× one batch's bounded
    * state (both knobs stay caller-visible). The union of batch results
    * is exactly the unbatched answer: per-root traversals are
    * independent — batching cannot change any root's closure, only when
    * it is computed (property-tested against [[reachable]] on random
    * dense graphs, concurrent path included). A failed batch
    * (maxFrontier trip) propagates after in-flight batches drain, so
    * the shared edge cache is never dropped under a live job.
    *
    * The trip condition is RELAXED when every batch would be in flight
    * at once (nBatches ≤ batchParallelism): the batches then merge into
    * ONE BFS whose cap is `maxFrontier × nBatches`, judged on the merged
    * frontier. The documented peak-state bound is unchanged, but a root
    * set with one skewed batch that alone would exceed `maxFrontier`
    * now passes whenever the merged frontier stays under the scaled
    * cap. A caller that needs the per-batch trip keeps nBatches above
    * `batchParallelism` (a smaller `rootBatchSize` or parallelism). */
  def reachableBatched(
      roots: DataFrame,
      attrs: Option[Seq[String]] = None,
      maxIters: Int = 20,
      rootBatchSize: Int = 1024,
      maxFrontier: Option[Long] = None,
      batchParallelism: Int = 4): DataFrame = {
    require(rootBatchSize >= 1)
    require(batchParallelism >= 1)
    val r = roots.select($"e").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val es = edgesFor(attrs).select($"e".as("_src"), $"vref".as("_dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = r.count()
      val nBatches = math.max(1L, (n + rootBatchSize - 1) / rootBatchSize).toInt
      // FRONTIER-ADAPTIVE collapse: concurrency already multiplies peak
      // frontier state by the number of in-flight batches — k concurrent
      // batches of B roots hold the same O(k·B·|V|) state as ONE batch
      // of k·B roots. So when every batch would be in flight at once
      // (nBatches <= batchParallelism), merging them into a single BFS
      // keeps the documented peak-state bound EXACTLY (maxFrontier
      // scales by the merged batch count for the same reason) and cuts
      // the per-level driver actions by nBatches — at bench scale those
      // small blocking jobs are the cost; at cluster scale one fixpoint
      // has fewer straggler tails than nBatches interleaved ones.
      // Root-batch membership cannot change any root's closure, so the
      // result is the batched union exactly.
      if (nBatches <= batchParallelism)
        return bfsFrom(r, es, maxIters, maxFrontier.map(_ * nBatches))
      def runBatch(b: Int): DataFrame =
        bfsFrom(r.where(pmod(xxhash64($"e"), lit(nBatches)) === b),
          es, maxIters, maxFrontier)
      val k = math.min(batchParallelism, nBatches)
      val results: Seq[DataFrame] =
        if (k <= 1) (0 until nBatches).map(runBatch)
        else {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          val pool = java.util.concurrent.Executors.newFixedThreadPool(k)
          try {
            implicit val ec: ExecutionContext =
              ExecutionContext.fromExecutorService(pool)
            val sc = spark.sparkContext
            // first failure flips this; QUEUED batches then no-op — at
            // ~1000 batches a maxFrontier trip on batch 3 must not burn
            // the remaining ~997 full BFS fixpoints before propagating.
            // In-flight batches still drain (the settle below), so the
            // shared caches never drop under a live job.
            val failed = new java.util.concurrent.atomic.AtomicBoolean
            final class BatchSkipped extends IllegalStateException(
              "batch skipped: an earlier batch failed")
            val settled = Await.result(
              Future.sequence((0 until nBatches).map { b =>
                Future {
                  if (failed.get()) throw new BatchSkipped
                  // thread-local job metadata: batches share a FAIR pool
                  // and stay attributable in the UI
                  sc.setLocalProperty("spark.scheduler.pool",
                    "graft_reachable")
                  sc.setJobDescription(
                    s"reachableBatched batch ${b + 1}/$nBatches")
                  try runBatch(b)
                  catch { case e: Throwable => failed.set(true); throw e }
                  // settle (never fail) the sequence so Await drains ALL
                  // in-flight batches before any failure propagates
                }.transform(scala.util.Success(_))
              }), Duration.Inf)
            // propagate the ROOT failure, not a batch-skipped marker
            settled.collectFirst {
              case scala.util.Failure(e) if !e.isInstanceOf[BatchSkipped] =>
                throw e
            }
            settled.map(_.get)
          } finally pool.shutdown()
        }
      results.reduce(_ unionByName _)
    } finally {
      r.unpersist(blocking = false)
      es.unpersist(blocking = false)
    }
  }

  /** The per-root BFS shared by [[reachable]] / [[reachableBatched]]:
    * one [[graft.graph.Fixpoint.frontier]] keyed by (e, root) over a
    * prepared (_src, _dst) edge frame, each level tagged with its depth. */
  private def bfsFrom(
      roots: DataFrame,
      es: DataFrame,
      maxIters: Int,
      maxFrontier: Option[Long]): DataFrame =
    Fixpoint.frontier(roots.select($"e", $"e".as("root")), Seq("e", "root"),
        es, maxIters, maxFrontier)
      .frames.zipWithIndex
      .map { case (f, d) => f.select($"e", $"root", lit(d).as("depth")) }
      .reduce(_ unionByName _)
}

object TripleStore {
  /** Largest sort+limit `limit` that [[TripleStore.pullMany]] turns into
    * a literal-IN pull (bounded driver collect; see `pullImpl`). Also the
    * value the harness mains give `spark.sql.parquet.pushdown
    * .inFilterThreshold` so the pushed IN keeps or-of-eq row-group
    * semantics at the cap. */
  val TopKLiteralCap = 1024

  /** The exact native-column predicate an [[graft.query.MRange]]
    * denotes — shared by the scan fallback, the match-collapse path,
    * and the verification half of the index probe. Both bounds absent
    * degenerates to presence (MAny's semantics on a non-null value
    * column). */
  private[graft] def rangeCond(vc: Column, r: MRange): Column =
    (r.lo.map(v => if (r.loStrict) vc > lit(v) else vc >= lit(v)).toSeq ++
      r.hi.map(v => if (r.hiStrict) vc < lit(v) else vc <= lit(v)))
      .reduceOption(_ && _).getOrElse(vc.isNotNull)

  /** The reference's base_schema (tripl.py:283-297): declarations present
    * BEFORE any user facts load. `db.schema:types` /
    * `db.schema:attributes` are card-MANY refs there, so they must stay
    * exempt from `db.cardinality:default = one` — without this, registry
    * facts asserted at different txIds would collapse to the latest
    * under latest-tx-wins. Implicit engine knowledge (present in every
    * store, exactly as base_schema is); NOT rendered by `schemaTriples`,
    * which reflects only user declarations. User declarations override. */
  val BaseSchema: Map[String, AttrSchema] = Map(
    "db.schema:types" ->
      AttrSchema("db.schema:types", cardOne = false, isRef = true, Triples.VRef),
    "db.schema:attributes" ->
      AttrSchema("db.schema:attributes", cardOne = false, isRef = true, Triples.VRef))

  /** W8 — store bootstrap with the reference's config precedence
    * (tripl.py:337-346): explicit kwargs > in-band schema facts >
    * defaults (cardinality-many, lazy refs ON).
    *
    * In-band schema = attribute entities carrying `db:cardinality` /
    * `db:valueType` string facts (the shape `schemaTriples` writes and
    * the reference's assert_schema produces, tripl.py:281-297), plus an
    * optional `db.refs:lazy` boolean fact on the well-known `db:schema`
    * entity. Schema facts are plan-time metadata (a few rows per attr) —
    * collecting them to the driver mirrors the reference's schema_pull
    * and is the one place a driver-side read is the right call. */
  def bootstrap(spark: SparkSession, facts: DataFrame,
      schema: Map[String, AttrSchema] = Map.empty,
      lazyRefs: Option[Boolean] = None,
      defaultCardinality: Option[String] = None): TripleStore =
    new TripleStore(spark, facts, inBandSchema(facts) ++ schema,
      lazyRefs = lazyRefs.orElse(inBandLazyFlag(facts)).getOrElse(true),
      defaultCardOne = defaultCardinality
        .orElse(inBandDefaultCard(facts))
        .getOrElse("db.cardinality:many") == "db.cardinality:one")

  /** In-band attr schema: latest-tx-wins per (attr, schema-attr) — raw
    * facts may contain re-asserted schema (collect order is
    * partition-dependent, so a bare `find` would be nondeterministic).
    * Plan-time metadata: a few rows per attr, collected to the driver
    * like the reference's schema_pull. */
  private def inBandSchema(facts: DataFrame): Map[String, AttrSchema] = {
    val rows = facts
      .where(col("a").isInCollection(Seq("db:cardinality", "db:valueType")))
      .select(col("e"), col("a"), col("vstr"), col("txId")).collect()
    rows.groupBy(_.getString(0)).map {
      case (attr, rs) =>
        def latest(a: String) = rs.filter(_.getString(1) == a) match {
          case Array() => None
          case hits => Some(hits.maxBy(_.getLong(3)).getString(2))
        }
        val card = latest("db:cardinality")
        val vt = latest("db:valueType")
        val isRef = vt.contains("db.type:ref")
        val vtype =
          if (isRef) Triples.VRef
          else vt.map(_.stripPrefix("db.type:")).getOrElse(Triples.VStr)
        attr -> AttrSchema(attr,
          cardOne = card.contains("db.cardinality:one"), isRef, vtype)
    }
  }

  /** In-band db.refs:lazy, latest-tx-wins (a bare headOption would be
    * partition-order-dependent when the flag is re-asserted). */
  private def inBandLazyFlag(facts: DataFrame): Option[Boolean] = {
    val rows = facts
      .where(col("e") === "db:schema" && col("a") === "db.refs:lazy" &&
        col("vbool").isNotNull)
      .select(col("vbool"), col("txId")).collect()
    if (rows.isEmpty) None else Some(rows.maxBy(_.getLong(1)).getBoolean(0))
  }

  /** In-band db.cardinality:default (tripl.py:297, 342-345), latest-tx-
    * wins like the per-attr schema facts. */
  private def inBandDefaultCard(facts: DataFrame): Option[String] = {
    val rows = facts
      .where(col("e") === "db:schema" && col("a") === "db.cardinality:default" &&
        col("vstr").isNotNull)
      .select(col("vstr"), col("txId")).collect()
    if (rows.isEmpty) None else Some(rows.maxBy(_.getLong(1)).getString(0))
  }

  /** Reopen a store persisted by [[TripleStore.save]]: an attribute-pruned
    * ParquetTripleSource over the namespace-partitioned layout + the
    * in-band schema bootstrapped back (kwargs > in-band > defaults, same
    * precedence as [[bootstrap]]). The store is preResolved — resolution
    * ran at save time — so queries go straight to pruned scans. The
    * schema read itself is pruned (only the `db` / `db.refs` namespace
    * partitions are listed). */
  def load(spark: SparkSession, path: String,
      schema: Map[String, AttrSchema] = Map.empty,
      lazyRefs: Option[Boolean] = None,
      defaultCardinality: Option[String] = None): TripleStore = {
    val src = graft.sources.ParquetTripleSource(spark, path)
    val schemaFacts = src.scan(Some(Seq(
      "db:cardinality", "db:valueType", "db.refs:lazy",
      "db.cardinality:default")))
    // save() resolved the facts under the schema IN EFFECT AT SAVE TIME;
    // a cardinality override at load changes which facts should survive,
    // so overridden loads must re-resolve (and give up pruned scans) —
    // otherwise load(…, defaultCardinality=one) and bootstrap over the
    // same facts would disagree. The no-override common case keeps the
    // preResolved fast path. lazyRefs does not affect resolution.
    val overridden = schema.nonEmpty || defaultCardinality.nonEmpty
    new TripleStore(spark, src.scan(None), inBandSchema(schemaFacts) ++ schema,
      preResolved = !overridden,
      source = if (overridden) None else Some(src),
      lazyRefs = lazyRefs.orElse(inBandLazyFlag(schemaFacts)).getOrElse(true),
      defaultCardOne = defaultCardinality
        .orElse(inBandDefaultCard(schemaFacts))
        .getOrElse("db.cardinality:many") == "db.cardinality:one")
  }
}
