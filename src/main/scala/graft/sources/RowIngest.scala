package graft.sources

import graft.model.Triples
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational DataFrame → triples: the engine's analogue of the
  * reference's dict flattener + entity resolution
  * (`_assert_dict`/`_resolve_eid`, tripl/tripl.py:483-494, 457-481).
  *
  * Entity ids are minted DETERMINISTICALLY — `sha2('<table>:<key>')` —
  * instead of the reference's time-based `uuid.uuid1()` (tripl.py:475),
  * following the reference's own precedent of deterministic uuid3 idents
  * for reproducible ingest (nestly.py:243-249). Determinism is what makes
  * distributed ingest idempotent and re-runnable at 100 TB: the same row
  * always produces the same entity, so re-ingest is a no-op under set
  * semantics and foreign keys can be resolved WITHOUT a join — each
  * executor computes the target eid locally from the fk value. Ingest is
  * therefore one scan + one narrow Generate: no shuffle at any scale.
  */
object RowIngest {

  /** One scalar source column → one triple. */
  case class ColSpec(col: String, attr: String, vtype: String)

  /** One foreign-key column → one ref triple (value = target entity id).
    * Mirrors declared `db:valueType db.type:ref` attrs (tripl.py:394-405). */
  case class RefSpec(col: String, attr: String, targetTable: String)

  case class TableSpec(
      table: String,
      keyCols: Seq[String],
      cols: Seq[ColSpec],
      refs: Seq[RefSpec]) {
    /** The base-table expression producing exactly the value the triple
      * encoding would carry for `attr` — including the cast to the triple
      * value column's type (int → long, decimal → double, …), so a fused
      * plan is bit-identical to the EAV round-trip. None when this table
      * does not assert the attribute. Powers pull-to-scan fusion
      * (TripleStore.fusedPullMany). */
    def valueExpr(attr: String): Option[Column] =
      if (attr == Triples.IdentAttr) Some(eidFor(table, keyCols.map(col)))
      else if (attr == Triples.TypeAttr) Some(lit(table))
      else cols.find(_.attr == attr).map(c =>
        col(c.col).cast(Triples.schema(Triples.valueColFor(c.vtype)).dataType))
        .orElse(refs.find(_.attr == attr).map(r =>
          when(col(r.col).isNotNull, eid(r.targetTable, col(r.col)))))

    /** In-band attribute schemas: every ingested attr is cardinality-one
      * (relational rows are single-valued). */
    def attrSchemas: Map[String, graft.model.AttrSchema] = {
      val scalars = cols.map(c => c.attr -> graft.model.AttrSchema(c.attr, cardOne = true, isRef = false, c.vtype))
      val rs = refs.map(r => r.attr -> graft.model.AttrSchema(r.attr, cardOne = true, isRef = true, Triples.VRef))
      (scalars ++ rs ++ Seq(
        Triples.IdentAttr -> graft.model.AttrSchema(Triples.IdentAttr, cardOne = true, isRef = false, Triples.VStr),
        Triples.TypeAttr -> graft.model.AttrSchema(Triples.TypeAttr, cardOne = true, isRef = false, Triples.VStr))).toMap
    }
  }

  /** Deterministic entity id for a row of `table` keyed by `key`
    * (convention fixed in FIXTURES.md §4: md5('<table>:<pkey>') — 128-bit,
    * ~2× cheaper than sha2 and half the string width, which matters when
    * the eid is the join/shuffle key of every operator; still
    * reproducible in ANSI SQL for the oracle). */
  def eid(table: String, key: Column): Column =
    md5(concat(lit(table + ":"), key.cast(StringType)))

  def eidFor(table: String, keyCols: Seq[Column]): Column =
    eid(table, concat_ws("|", keyCols: _*))

  /** Infer a TableSpec from a DataFrame schema. Attribute naming follows
    * FIXTURES.md: `<table>:<col>` with the TPC-H single-letter prefix
    * stripped (c_custkey → customer:custkey). */
  def specFor(df: DataFrame, table: String, keyCols: Seq[String],
      refs: Seq[RefSpec] = Nil, stripPrefix: Option[String] = None): TableSpec = {
    val cols = df.schema.fields.toSeq.map { f =>
      val base = stripPrefix match {
        case Some(p) if f.name.startsWith(p) => f.name.drop(p.length)
        case _ => f.name
      }
      ColSpec(f.name, s"$table:$base", Triples.vtypeForDataType(f.dataType))
    }
    TableSpec(table, keyCols, cols, refs)
  }

  /** Flatten a relational DataFrame into triples. Single pass: all
    * (attr, value) pairs of a row become one array-of-structs, exploded.
    * Narrow transformation — partitioning of the source is preserved, no
    * shuffle; scales linearly with input splits.
    *
    * `attrs` prunes the generation itself (TripleSource contract): only
    * requested attributes get a struct, a hash, an explode row — and
    * because unreferenced source columns disappear from the plan, column
    * pruning reaches the parquet scan too. */
  def tableToTriples(df: DataFrame, spec: TableSpec, txId: Long = 0L,
      attrs: Option[Seq[String]] = None,
      /** extra source columns carried through unchanged on every emitted
        * triple (e.g. an event-time column for streaming watermarks) */
      passthrough: Seq[String] = Nil): DataFrame = {
    val want: String => Boolean =
      attrs.map(as => as.toSet: String => Boolean).getOrElse(_ => true)
    val e = eidFor(spec.table, spec.keyCols.map(col))
    val scalarStructs = spec.cols.filter(c => want(c.attr)).map { c =>
      Triples.valueStruct(lit(c.attr), c.vtype, col(c.col))
    }
    val refStructs = spec.refs.filter(r => want(r.attr)).map { r =>
      // fk value → target eid computed LOCALLY (no resolution join needed
      // because minting is deterministic — see object scaladoc).
      Triples.valueStruct(lit(r.attr), Triples.VRef,
        when(col(r.col).isNotNull, eid(r.targetTable, col(r.col))))
    }
    val metaStructs =
      // self-asserted ident, as the reference does (tripl.py:491-492)
      (if (want(Triples.IdentAttr))
        Seq(Triples.valueStruct(lit(Triples.IdentAttr), Triples.VStr, e))
      else Nil) ++
      (if (want(Triples.TypeAttr))
        Seq(Triples.valueStruct(lit(Triples.TypeAttr), Triples.VStr,
          lit(spec.table)))
      else Nil)
    val all = scalarStructs ++ refStructs ++ metaStructs
    if (all.isEmpty)
      // empty as a LocalRelation, NOT an empty RDD: the optimizer can
      // prove a LocalRelation(Nil) empty, so PropagateEmptyRelation
      // folds the union branch (and any join against it) out of every
      // multi-table store's pruned scan — an empty-RDD leaf survives
      // as a full Exchange+Sort+Join subtree per non-asserting table
      df.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        Triples.schema)
    else
      df.select(e.as("e") +: passthrough.map(col) :+
          explode(array(all: _*)).as("t"): _*)
        .where(Triples.structHasValue(col("t")))
        .select(col("e") +: Triples.valueCols.foldLeft(Seq(col("t.a"), col("t.vtype")))(
          (acc, vc) => acc :+ col(s"t.$vc")) ++:
          (lit(txId).as("txId") +: passthrough.map(col)): _*)
  }

  /** Attribute-pruning TripleSource over one relational table.
    * `txId` stamps every triple the source generates — it MUST match
    * the txId of any eagerly-built `triples` frame handed to the same
    * store, or the two scan paths (pruned source scan vs materialized
    * relation) would disagree on transaction identity: vidxappend's
    * batch stores stamp tx = maxTx+1 so the appended index rows carry
    * the tx that compact's latest-txId reconciliation needs to beat
    * the build rows (a 0-stamped re-assert would TIE them and the
    * stale value could survive its own upsert). [[store]] passes one
    * `txId` to both paths, so they match by construction. */
  final case class TableSource(df: DataFrame, spec: TableSpec,
      txId: Long = 0L)
      extends graft.model.TripleSource {
    def scan(attrs: Option[Seq[String]]): DataFrame =
      tableToTriples(df, spec, txId, attrs)
    // tableToTriples emits db:ident per entity (metaStructs) — the
    // contract holds by construction, no runtime probe needed
    override def assertsIdents: Boolean = true
  }

  /** THE table-backed store: the lazy union of each table's triples, the
    * merged attribute schemas, and one attribute-pruning [[TableSource]]
    * per table. Both scan paths are stamped with the same `txId`, by
    * construction. Single-tx ingest of distinct rows ⇒ the store's
    * invariants hold, so it is `preResolved`. */
  private[graft] def store(tables: Seq[(DataFrame, TableSpec)],
      txId: Long = 0L): graft.TripleStore = {
    val triples = tables.map { case (df, sp) => tableToTriples(df, sp, txId) }
      .reduce(_ unionByName _)
    val schemas = tables.map(_._2.attrSchemas).reduce(_ ++ _)
    val src = graft.model.UnionTripleSource(
      tables.map { case (df, sp) => TableSource(df, sp, txId) })
    new graft.TripleStore(tables.head._1.sparkSession, triples, schemas,
      preResolved = true, source = Some(src))
  }
}
