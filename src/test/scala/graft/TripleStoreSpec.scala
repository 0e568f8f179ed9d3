package graft

import graft.model.{AttrSchema, Triples}
import graft.query._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Engine-core semantics, including golden behavior from the reference's
  * README walkthrough (the cft dataset, /root/reference/README.md:65-249
  * — spec-by-example, never executed there; executed here). */
class TripleStoreSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** cft fixture (FIXTURES.md §1): 1 subject, 2 timepoints, 2 seqs; the
    * seqs share subject QA255 and seq1 carries both timepoints. Ingested
    * as nested docs with id_attrs — timepoint dedup across seqs exercises
    * cross-doc entity resolution. */
  def cftStore(): TripleStore = {
    val docs = Seq(
      ("QA255-seq1", "AATTCGGA", "QA255",
        Seq("dpi-234", "dpi-1204"): Seq[String]),
      ("QA255-seq2", "AATTCGCA", "QA255", Seq("dpi-1204"))
    ).toDF("id", "string", "subject_id", "timepoint_ids")
      .select(col("id").as("cft.seq:id"), col("string").as("cft.seq:string"),
        struct(col("subject_id").as("cft.subject:id")).as("cft.seq:subject"),
        transform(col("timepoint_ids"),
          t => struct(t.as("cft.timepoint:id"))).as("cft.seq:timepoint"),
        lit("cft.type:seq").as("cft:type"))
    val triples = graft.sources.DocIngest.flatten(docs, "cft",
      Seq("cft.seq:id", "cft.subject:id", "cft.timepoint:id"))
    val schemas = graft.sources.DocIngest.schemasFor(docs, "cft")
    // id-attr doc ingest re-asserts identical facts for shared entities —
    // NOT preResolved (set-semantics dedup must run)
    new TripleStore(spark, triples, schemas)
  }

  test("cft golden: nested pull of seqs with timepoint ids") {
    val ts = cftStore()
    val out = ts.pullMany(
      Seq("cft:type" -> MEq("cft.type:seq")),
      Seq(PAttr("cft.seq:id"), PNest("cft.seq:timepoint",
        Seq(PAttr("cft.timepoint:id", Some("tp"))))))
      .select($"id", transform($"timepoint", c => c.getField("tp")).as("tps"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).sorted.toList)
      .toMap
    assert(out === Map(
      "QA255-seq1" -> List("dpi-1204", "dpi-234"),
      "QA255-seq2" -> List("dpi-1204")))
  }

  test("cft golden: reverse lookup — seqs per timepoint (README.md:236-239)") {
    val ts = cftStore()
    val out = ts.pullMany(
      Seq("cft.timepoint:id" -> MAny),
      Seq(PAttr("cft.timepoint:id", Some("tp")),
        PNest("cft.seq:timepoint", Seq(PAttr("cft.seq:id", Some("sid"))),
          reverse = true, as = Some("seqs"))))
      .select($"tp", transform($"seqs", c => c.getField("sid")).as("sids"))
      .collect().map(r => r.getString(0) ->
        Option(r.getSeq[String](1)).map(_.sorted.toList).getOrElse(Nil)).toMap
    assert(out === Map(
      "dpi-234" -> List("QA255-seq1"),
      "dpi-1204" -> List("QA255-seq1", "QA255-seq2")))
  }

  test("cross-doc entity resolution: shared subject id → one entity") {
    val ts = cftStore()
    val subjects = ts.matchEntities(Seq("cft.subject:id" -> MEq("QA255")))
    assert(subjects.count() === 1)
    // both seqs ref the same subject entity
    val refs = ts.edges.where($"a" === "cft.seq:subject")
      .select($"vref").distinct()
    assert(refs.count() === 1)
  }

  def tinyStore(rows: Seq[(String, String, String, Long)],
      cardOne: Set[String] = Set.empty): TripleStore = {
    val triples = rows.toDF("e", "a", "vstr", "txId")
      .withColumn("vtype", lit(Triples.VStr))
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vref", lit(null).cast("string"))
      .withColumn("vbin", lit(null).cast("binary"))
      .select(Triples.columns.map(col): _*)
    val schemas = rows.map(_._2).distinct.map(a =>
      a -> AttrSchema(a, cardOne = cardOne(a), isRef = false, Triples.VStr)).toMap
    new TripleStore(spark, triples, schemas)
  }

  test("set semantics: re-asserting a fact is idempotent (tripl.py:78)") {
    val ts = tinyStore(Seq(
      ("e1", "k:x", "v1", 0L), ("e1", "k:x", "v1", 0L),
      ("e1", "k:x", "v1", 5L)))
    assert(ts.resolved.count() === 1)
  }

  test("cardinality-one upsert: latest tx wins (tripl.py:419-427)") {
    val ts = tinyStore(Seq(
      ("e1", "k:one", "old", 0L), ("e1", "k:one", "new", 1L),
      ("e1", "k:many", "a", 0L), ("e1", "k:many", "b", 1L)),
      cardOne = Set("k:one"))
    val vals = ts.resolved.where($"a" === "k:one").select($"vstr")
      .as[String].collect().toList
    assert(vals === List("new"))
    val many = ts.resolved.where($"a" === "k:many").count()
    assert(many === 2)
  }

  test("retraction removes facts and survives resolution (W6)") {
    val ts = tinyStore(Seq(("e1", "k:x", "v1", 0L), ("e1", "k:y", "v2", 0L)))
    val after = ts.retractWhere($"a" === "k:x")
    assert(after.resolved.count() === 1)
    assert(after.resolved.select($"a").as[String].collect().toList === List("k:y"))
  }

  test("match: MEq / MIn / MAny / conjunction") {
    val ts = tinyStore(Seq(
      ("e1", "t:c", "red", 0L), ("e1", "t:s", "big", 0L),
      ("e2", "t:c", "red", 0L), ("e2", "t:s", "small", 0L),
      ("e3", "t:c", "blue", 0L)))
    assert(ts.matchEntities(Seq("t:c" -> MEq("red"))).count() === 2)
    assert(ts.matchEntities(Seq("t:c" -> MIn(Seq("red", "blue")))).count() === 3)
    assert(ts.matchEntities(Seq("t:s" -> MAny)).count() === 2)
    assert(ts.matchEntities(
      Seq("t:c" -> MEq("red"), "t:s" -> MEq("big"))).count() === 1)
  }

  test("match-collapse: all-scalar conjunctions compile to one aggregate " +
      "pass, no join, same answer as the chain (SURVEY §4)") {
    val ts = tinyStore(Seq(
      ("e1", "t:c", "red", 0L), ("e1", "t:s", "big", 0L),
      ("e2", "t:c", "red", 0L), ("e2", "t:s", "small", 0L),
      ("e3", "t:c", "blue", 0L), ("e3", "t:s", "big", 0L),
      // multi-valued t:c on e4: ANY value matching satisfies the conjunct
      ("e4", "t:c", "red", 0L), ("e4", "t:c", "blue", 0L),
      ("e4", "t:s", "big", 0L)))
    val m = ts.matchEntities(Seq(
      "t:c" -> MEq("red"), "t:s" -> MIn(Seq("big", "huge"))))
    assert(m.select("e").as[String].collect().toSet === Set("e1", "e4"))
    val plan = m.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), s"collapse path still joins:\n$plan")
    // three conjuncts incl. MAny
    val m3 = ts.matchEntities(Seq("t:c" -> MEq("red"),
      "t:s" -> MAny, "t:c" -> MIn(Seq("blue"))))
    assert(m3.select("e").as[String].collect().toSet === Set("e4"))
    // nested sub-pattern still routes through the join chain (and works)
    val chain = ts.matchEntities(Seq("t:c" -> MEq("red"),
      "t:s" -> MEq("big")))
    assert(chain.select("e").as[String].collect().toSet === Set("e1", "e4"))
  }

  test("shortestPaths: multi-source min distance, cycle-safe, reverse") {
    // diamond + cycle: a→b, a→c, b→d, c→d, d→a
    val edges = Seq(("a", "r:next", "b"), ("a", "r:next", "c"),
      ("b", "r:next", "d"), ("c", "r:next", "d"), ("d", "r:next", "a"))
    val triples = edges.toDF("e", "a", "vref")
      .withColumn("vtype", lit(Triples.VRef))
      .withColumn("vstr", lit(null).cast("string"))
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(0L))
      .select(Triples.columns.map(col): _*)
    val ts = new TripleStore(spark, triples,
      Map("r:next" -> AttrSchema("r:next", cardOne = false, isRef = true,
        Triples.VRef)))
    val d = graft.graph.RefGraph.shortestPaths(ts, Seq("a").toDF("e"))
      .as[(String, Long)].collect().toMap
    assert(d === Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L))
    // multi-source: min over roots; d reached at 1 from b
    val d2 = graft.graph.RefGraph.shortestPaths(ts, Seq("b", "c").toDF("e"))
      .as[(String, Long)].collect().toMap
    assert(d2 === Map("b" -> 0L, "c" -> 0L, "d" -> 1L, "a" -> 2L))
    // reverse walks value → referrer
    val dr = graft.graph.RefGraph.shortestPaths(ts, Seq("d").toDF("e"),
      reverse = true).as[(String, Long)].collect().toMap
    assert(dr === Map("d" -> 0L, "b" -> 1L, "c" -> 1L, "a" -> 2L))
  }

  test("reachability fixpoint terminates on cycles (Q7e cycle guard)") {
    val edges = Seq(
      ("a", "r:next", "b"), ("b", "r:next", "c"), ("c", "r:next", "a"))
    val triples = edges.toDF("e", "a", "vref")
      .withColumn("vtype", lit(Triples.VRef))
      .withColumn("vstr", lit(null).cast("string"))
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(0L))
      .select(Triples.columns.map(col): _*)
    val ts = new TripleStore(spark, triples,
      Map("r:next" -> AttrSchema("r:next", cardOne = false, isRef = true,
        Triples.VRef)))
    val reach = ts.reachable(Seq("a").toDF("e"))
    val out = reach.select($"e", $"depth").as[(String, Int)].collect().toMap
    assert(out === Map("a" -> 0, "b" -> 1, "c" -> 2))
  }

  test("PRec depth probe is per-root: DAG chains don't truncate (ADVICE r2)") {
    // roots a,b; edges a→x, b→c→x. x is reached at depth 1 from a and
    // depth 2 from b — NO cycle. A global visited set would stop the
    // probe at depth 1 (x already seen) and render c's child x as the
    // ident-only short-circuit doc; the per-root probe must find depth 2
    // so b's full chain renders (mirrors tripl.py per-root _seen_entities).
    val refs = Seq(("a", "r:next", "x"), ("b", "r:next", "c"), ("c", "r:next", "x"))
    val refTriples = refs.toDF("e", "a", "vref")
      .withColumn("vtype", lit(Triples.VRef))
      .withColumn("vstr", lit(null).cast("string"))
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(0L))
      .select(Triples.columns.map(col): _*)
    val idents = Seq("a", "b", "c", "x").map(e => (e, Triples.IdentAttr, e, 0L))
    val identTriples = idents.toDF("e", "a", "vstr", "txId")
      .withColumn("vtype", lit(Triples.VStr))
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vref", lit(null).cast("string"))
      .withColumn("vbin", lit(null).cast("binary"))
      .select(Triples.columns.map(col): _*)
    val ts = new TripleStore(spark, refTriples.unionByName(identTriples), Map(
      "r:next" -> AttrSchema("r:next", cardOne = false, isRef = true, Triples.VRef),
      Triples.IdentAttr -> AttrSchema(Triples.IdentAttr, cardOne = true,
        isRef = false, Triples.VStr)))
    val out = ts.pull(Seq("a", "b").toDF("e"),
      Seq(PAttr(Triples.IdentAttr), PRec("r:next")))
    // resolves only if the unroll reaches depth 2: x's doc under c still
    // carries a 'next' field (full level), not the ident-only tail
    val bRow = out.where($"e" === "b")
      .select($"next"(0)("ident").as("c1"),
        $"next"(0)("next")(0)("ident").as("x1"),
        $"next"(0)("next")(0)("next").as("tail"))
      .head()
    assert(bRow.getString(0) === "c")
    assert(bRow.getString(1) === "x")
  }

  test("pull pins an entity frame whose projection computes: a UDF over " +
      "a local eid list runs once per row, not once per fan-out branch") {
    val ts = tinyStore(Seq(
      ("e1", "p:name", "ada", 0L), ("e2", "p:name", "bob", 0L),
      ("e1", "p:likes", "e2", 0L)))
    TripleStoreSpec.udfCalls.set(0)
    val counted = udf { (x: String) =>
      TripleStoreSpec.udfCalls.incrementAndGet(); x
    }.asNondeterministic()
    // a LocalRelation under a projection that CALLS something is not a
    // bare leaf: inlined, the UDF would re-run in every branch
    val ents = Seq("e1", "e2", "e3").toDF("x").select(counted($"x").as("e"))
    val out = ts.pull(ents, Seq(PWild, PRevIds("p:likes")))
      .select($"e").as[String].collect().sorted.toList
    assert(out === List("e1", "e2", "e3"))
    assert(TripleStoreSpec.udfCalls.get === 3)
  }

  test("lazy refs: undeclared attr traverses iff value is a known eid " +
      "(tripl.py:184-188)") {
    // p:likes is NOT declared a ref; 'e2' IS a known eid, 'nobody' is not
    val ts = tinyStore(Seq(
      ("e1", "p:name", "ada", 0L), ("e1", "p:likes", "e2", 0L),
      ("e2", "p:name", "bob", 0L), ("e3", "p:name", "cyn", 0L),
      ("e3", "p:likes", "nobody", 0L)))
    // match through the lazy edge
    val matched = ts.matchEntities(
      Seq("p:likes" -> MSub(Seq("p:name" -> MEq("bob")))))
      .as[String].collect().toList
    assert(matched === List("e1"))
    // pull's nested descent through the lazy edge
    val pulled = ts.pull(Seq("e1", "e3").toDF("e"),
      Seq(PAttr("p:name"), PNest("p:likes", Seq(PAttr("p:name", Some("who"))))))
    // p:name is card-many by default → 'who' is an array inside the struct
    val byE = pulled.collect().map(r => r.getString(0) ->
      Option(r.getSeq[org.apache.spark.sql.Row](2))
        .map(_.flatMap(_.getSeq[String](0)).toList)).toMap
    assert(byE("e1") === Some(List("bob")))
    assert(byE("e3").forall(_.isEmpty)) // 'nobody' is not an eid → no edge
    // Entity access mirrors it
    val ada = new Entity(ts, "e1")
    assert(ada.refs("p:likes").map(_.eid) === Seq("e2"))
    // lazyRefs=false disables the traversal
    val strict = new TripleStore(ts.spark, ts.triples, ts.schemas, lazyRefs = false)
    assert(strict.matchEntities(
      Seq("p:likes" -> MSub(Seq("p:name" -> MEq("bob"))))).count() === 0)
  }

  test("datalog: shared-variable join + constant filter (Q10)") {
    val ts = tinyStore(Seq(
      ("p1", "p:name", "ada", 0L), ("p1", "p:city", "london", 0L),
      ("p2", "p:name", "bob", 0L), ("p2", "p:city", "paris", 0L)))
    val out = ts.datalog(Seq("?n"),
      Seq(("?p", "p:city", "london"), ("?p", "p:name", "?n")))
      .as[String].collect().toList
    assert(out === List("ada"))
  }

  test("datalog aggregates: set-semantics grouping, count/max") {
    // p1 has TWO children (one asserted twice — set semantics must not
    // double count), p2 has one
    val ts = tinyStore(Seq(
      ("p1", "p:child", "c1", 0L), ("p1", "p:child", "c1", 1L),
      ("p1", "p:child", "c2", 0L), ("p2", "p:child", "c3", 0L),
      ("c1", "c:age", "10", 0L), ("c2", "c:age", "20", 0L),
      ("c3", "c:age", "30", 0L)))
    val out = ts.datalog(
        find = Seq("?p"),
        where = Seq(("?p", "p:child", "?c"), ("?c", "c:age", "?a")),
        aggregates = Seq(graft.query.DatalogAgg("count", "?c", "n"),
          graft.query.DatalogAgg("max", "?a", "oldest")))
      .as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out === Map("p1" -> ((2L, "20")), "p2" -> ((1L, "30"))))
    // WITHOUT :with, equal aggregated values collapse under set
    // semantics (c1/c2 both aged "20" → one contribution); WITH ?c each
    // child contributes — Datomic's :with, verbatim
    val eq = tinyStore(Seq(
      ("p1", "p:child", "c1", 0L), ("p1", "p:child", "c2", 0L),
      ("c1", "c:age", "20", 0L), ("c2", "c:age", "20", 0L)))
    def n(withVars: Seq[String]) = eq.datalog(
        find = Seq("?p"),
        where = Seq(("?p", "p:child", "?c"), ("?c", "c:age", "?a")),
        aggregates = Seq(graft.query.DatalogAgg("count", "?a", "n")),
        withVars = withVars)
      .as[(String, Long)].collect().toMap.apply("p1")
    assert(n(Nil) === 1L)
    assert(n(Seq("?c")) === 2L)
    intercept[IllegalArgumentException] {
      ts.datalog(Seq("?p"), Seq(("?p", "p:child", "?c")),
        aggregates = Seq(graft.query.DatalogAgg("median", "?c", "m")))
        .collect()
    }
  }

  test("datalog or: branch union incl. and-groups and IDB predicates, " +
      "var-scope mismatch rejected") {
    val ts = tinyStore(Seq(
      ("p1", "p:city", "london", 0L), ("p1", "p:name", "ada", 0L),
      ("p2", "p:city", "paris", 0L), ("p2", "p:name", "bob", 0L),
      ("p2", "p:vip", "true", 0L),
      ("p3", "p:city", "rome", 0L), ("p3", "p:name", "eve", 0L),
      ("p3", "p:vip", "true", 0L)))
    // london OR (vip AND rome): p1 by branch 1, p3 by the and-group;
    // p2 is vip but in paris — matches neither branch
    val out = ts.datalog(Seq("?n"),
        where = Seq(("?p", "p:name", "?n")),
        orWhere = Seq(graft.query.DatalogOr(Seq(
          Seq(("?p", "p:city", "london")),
          Seq(("?p", "p:vip", "true"), ("?p", "p:city", "rome"))))))
      .as[String].collect().toList.sorted
    assert(out === List("ada", "eve"))
    // branches may reference rule-derived (IDB) predicates
    val rules = Seq(graft.query.DatalogRule(("?a", "loc", "?c"),
      Seq(("?a", "p:city", "?c"))))
    val out2 = ts.datalogRules(Seq("?n"),
        where = Seq(("?p", "p:name", "?n")), rules = rules,
        orWhere = Seq(graft.query.DatalogOr(Seq(
          Seq(("?p", "loc", "london")), Seq(("?p", "loc", "rome"))))))
      .as[String].collect().toList.sorted
    assert(out2 === List("ada", "eve"))
    // var-scope mismatch: {?p} vs {?p, ?x} must be rejected, not given
    // accidental semantics by a lucky unionByName
    intercept[IllegalArgumentException] {
      ts.datalog(Seq("?n"), Seq(("?p", "p:name", "?n")),
        orWhere = Seq(graft.query.DatalogOr(Seq(
          Seq(("?p", "p:city", "london")),
          Seq(("?p", "p:city", "?x"))))))
        .collect()
    }
  }

  test("pullMany top-k pushdown: sort+limit rank the matched eids before " +
      "the pull joins (tripl.py:730-732)") {
    val ts = tinyStore(
      (1 to 20).flatMap(i => Seq(
        (s"e$i", "p:rank", f"r$i%02d", 0L),
        (s"e$i", "p:tag", s"t${i % 3}", 0L))),
      cardOne = Set("p:rank"))
    val out = ts.pullMany(Seq("p:rank" -> MAny),
      Seq(PAttr("p:rank"), PWild),
      sortBy = Some("rank"), desc = true, limit = Some(3))
    assert(out.select($"rank").as[String].collect().toList ===
      List("r20", "r19", "r18"))
    // The eid pre-selection ran EAGERLY (its own TakeOrdered job) and
    // fed the pull a ≤ limit LITERAL entity relation — so the FINAL plan
    // holds exactly one TakeOrderedAndProject (the output ordering) and
    // its pull tree is rooted at a local relation of the k collected
    // eids, not at a match subtree re-ranking every entity. Without the
    // pushdown the single TakeOrdered would sit above a full-match pull.
    val plan = out.queryExecution.executedPlan.toString
    val n = "TakeOrderedAndProject".r.findAllMatchIn(plan).size
    assert(n === 1, s"expected one final TakeOrderedAndProject, got $n:\n$plan")
    assert(plan.contains("LocalTableScan"),
      s"expected the pull rooted at the collected literal eids:\n$plan")
    // and the ranking subtree (resolution window over p:rank) must NOT
    // appear under the final TakeOrdered more than the pull itself needs
    assert(!plan.contains("LeftSemi"),
      s"literal pull must not re-rank via semi-joins:\n$plan")
  }

  test("asOf time travel: later upserts un-happen; views are full stores") {
    val ts = tinyStore(Seq(
      ("e1", "k:v", "a", 0L), ("e1", "k:v", "b", 1L), ("e1", "k:v", "c", 2L),
      ("e2", "k:v", "x", 1L)),
      cardOne = Set("k:v"))
    def v(t: TripleStore) = t.pullManyIds(Seq("e1"), Seq(PAttr("k:v")))
      .select($"v").as[String].head()
    assert(v(ts) === "c")
    assert(v(ts.asOf(1L)) === "b")
    assert(v(ts.asOf(0L)) === "a")
    // entities born after the pinned tx do not exist in the view
    assert(ts.asOf(0L).pullManyIds(Seq("e2"), Seq(PAttr("k:v")))
      .select($"v").as[String].collect().toList === List(null))
    // a view is a full store: writes on top of it resolve normally
    val forked = ts.asOf(1L).assertTriples(
      Seq(("e1", "k:v", "z", 5L)).toDF("e", "a", "vstr", "txId")
        .withColumn("vtype", lit(Triples.VStr))
        .withColumn("vlong", lit(null).cast("long"))
        .withColumn("vdbl", lit(null).cast("double"))
        .withColumn("vbool", lit(null).cast("boolean"))
        .withColumn("vts", lit(null).cast("timestamp_ntz"))
        .withColumn("vref", lit(null).cast("string"))
        .withColumn("vbin", lit(null).cast("binary"))
        .select(Triples.columns.map(col): _*))
    assert(v(forked) === "z")
  }

  test("W8 bootstrap precedence: kwargs > in-band schema > defaults") {
    // in-band: k:one declared cardinality-one; db.refs:lazy = false
    val base = tinyStore(Seq(
      ("k:one", "db:cardinality", "db.cardinality:one", 0L),
      ("k:one", "db:valueType", "db.type:str", 0L),
      ("e1", "k:one", "old", 0L), ("e1", "k:one", "new", 1L)))
    val lazyOff = base.triples.limit(0)
      .unionByName(Seq(("db:schema", "db.refs:lazy")).toDF("e", "a")
        .withColumn("vtype", lit(Triples.VBool))
        .withColumn("vstr", lit(null).cast("string"))
        .withColumn("vlong", lit(null).cast("long"))
        .withColumn("vdbl", lit(null).cast("double"))
        .withColumn("vbool", lit(false))
        .withColumn("vts", lit(null).cast("timestamp_ntz"))
        .withColumn("vref", lit(null).cast("string"))
        .withColumn("vbin", lit(null).cast("binary"))
        .withColumn("txId", lit(0L))
        .select(Triples.columns.map(col): _*))
    val facts = base.triples.unionByName(lazyOff)
    // in-band wins over defaults: card-one resolves latest-tx, lazy off
    val ts = TripleStore.bootstrap(spark, facts)
    assert(ts.schemas("k:one").cardOne)
    assert(!ts.lazyRefs)
    assert(ts.resolved.where($"a" === "k:one").select($"vstr")
      .as[String].collect().toList === List("new"))
    // kwargs win over in-band: force card-many + lazy back on
    val ts2 = TripleStore.bootstrap(spark, facts,
      schema = Map("k:one" -> AttrSchema("k:one", cardOne = false,
        isRef = false, Triples.VStr)),
      lazyRefs = Some(true))
    assert(!ts2.schemas("k:one").cardOne)
    assert(ts2.lazyRefs)
    assert(ts2.resolved.where($"a" === "k:one").count() === 2)
  }

  test("pullMany over an explicit eid list; '*' excludes projected attrs") {
    val ts = tinyStore(Seq(
      ("e1", "t:name", "ada", 0L), ("e1", "t:city", "london", 0L),
      ("e2", "t:name", "bob", 0L), ("e2", "t:city", "paris", 0L),
      ("e3", "t:name", "cyn", 0L)))
    val out = ts.pullManyIds(Seq("e1", "e3"),
      Seq(PAttr("t:name"), PWild), sortBy = Some("e"))
    val rows = out.collect().map(r => (r.getString(0),
      Option(r.getMap[String, Seq[String]](2)).map(_.keySet.toSet)
        .getOrElse(Set.empty[String]))).toList
    // wildcard map must NOT re-include the explicitly-pulled t:name;
    // an entity with nothing left renders a null map (left-join semantics)
    assert(rows === List(
      ("e1", Set("t:city")), ("e3", Set.empty[String])))
  }

  test("recursive datalog rules: transitive closure terminates on cycles") {
    // a→b→c→a cycle: ancestor must reach everything from everything,
    // including self, and the fixpoint must stop growing
    val ts = tinyStore(Seq(
      ("a", "r:next", "b", 0L), ("b", "r:next", "c", 0L),
      ("c", "r:next", "a", 0L)))
    val out = ts.datalogRules(Seq("?x", "?y"),
      Seq(("?x", "reach", "?y")),
      Seq(
        DatalogRule(("?x", "reach", "?y"), Seq(("?x", "r:next", "?y"))),
        DatalogRule(("?x", "reach", "?z"),
          Seq(("?x", "r:next", "?y"), ("?y", "reach", "?z")))))
      .as[(String, String)].collect().toSet
    assert(out === (for { x <- Set("a", "b", "c"); y <- Set("a", "b", "c") }
      yield (x, y)))
  }

  test("recursive-CTE lowering: linear program runs as ONE UnionLoop " +
      "(no per-iteration driver loop), matches the semi-naive answer") {
    val n = 8
    val ts = tinyStore((0 until n - 1).map(i =>
      (s"a$i", "r:next", s"a${i + 1}", 0L)))
    val rules = Seq(
      DatalogRule(("?x", "reach", "?y"), Seq(("?x", "r:next", "?y"))),
      DatalogRule(("?x", "reach", "?z"),
        Seq(("?x", "r:next", "?y"), ("?y", "reach", "?z"))))
    val cte = ts.datalogRules(Seq("?x", "?y"),
      Seq(("?x", "reach", "?y")), rules, useRecursiveCte = true)
    // plan: the whole fixpoint is one UnionLoop operator inside this
    // query — no job chain was driven from here (the loop path would
    // have already run count+checkpoint jobs before returning)
    assert(cte.queryExecution.optimizedPlan.toString.contains("UnionLoop"),
      s"CTE path not taken:\n${cte.queryExecution.optimizedPlan}")
    val loop = ts.datalogRules(Seq("?x", "?y"),
      Seq(("?x", "reach", "?y")), rules)
    assert(cte.as[(String, String)].collect().toSet ===
      loop.as[(String, String)].collect().toSet)
    assert(cte.count() === (n - 1) * n / 2)
  }

  test("recursive-CTE lowering: non-qualifying programs silently fall " +
      "back to the loop, cyclic input fails fast at the level limit") {
    // mutual recursion (2 predicates) — must fall back even when asked
    val ts = tinyStore((0 until 3).map(i => (s"a$i", "r:next", s"a${i + 1}", 0L)))
    val rules = Seq(
      DatalogRule(("?x", "oddp", "?y"), Seq(("?x", "r:next", "?y"))),
      DatalogRule(("?x", "oddp", "?y"),
        Seq(("?x", "r:next", "?z"), ("?z", "evenp", "?y"))),
      DatalogRule(("?x", "evenp", "?y"),
        Seq(("?x", "r:next", "?z"), ("?z", "oddp", "?y"))))
    val odd = ts.datalogRules(Seq("?x", "?y"), Seq(("?x", "oddp", "?y")),
      rules, useRecursiveCte = true)
    assert(!odd.queryExecution.optimizedPlan.toString.contains("UnionLoop"))
    assert(odd.as[(String, String)].collect().toSet ===
      Set(("a0", "a1"), ("a1", "a2"), ("a2", "a3"), ("a0", "a3")))
    // cyclic edges under UNION ALL cannot converge: Spark must raise its
    // recursion-level error, not return a truncated closure
    val cyc = tinyStore(Seq(
      ("a", "r:next", "b", 0L), ("b", "r:next", "c", 0L),
      ("c", "r:next", "a", 0L)))
    val reach = Seq(
      DatalogRule(("?x", "reach", "?y"), Seq(("?x", "r:next", "?y"))),
      DatalogRule(("?x", "reach", "?z"),
        Seq(("?x", "r:next", "?y"), ("?y", "reach", "?z"))))
    val prev = spark.conf.get("spark.sql.cteRecursionLevelLimit", "100")
    spark.conf.set("spark.sql.cteRecursionLevelLimit", "8")
    try {
      val e = intercept[Exception] {
        cyc.datalogRules(Seq("?x", "?y"), Seq(("?x", "reach", "?y")),
          reach, useRecursiveCte = true).collect()
      }
      assert(e.getMessage.toLowerCase.contains("recursion"),
        s"unexpected error: ${e.getMessage}")
    } finally spark.conf.set("spark.sql.cteRecursionLevelLimit", prev)
  }

  test("semi-naive datalog: mutually recursive predicates converge") {
    // odd/even path-length predicates defined in terms of EACH OTHER —
    // the delta iteration must propagate new facts across predicates
    // (a semi-naive bug class: binding only one pred's delta per round)
    val ts = tinyStore((0 until 3).map(i => (s"a$i", "r:next", s"a${i + 1}", 0L)))
    val rules = Seq(
      DatalogRule(("?x", "oddp", "?y"), Seq(("?x", "r:next", "?y"))),
      DatalogRule(("?x", "oddp", "?y"),
        Seq(("?x", "r:next", "?z"), ("?z", "evenp", "?y"))),
      DatalogRule(("?x", "evenp", "?y"),
        Seq(("?x", "r:next", "?z"), ("?z", "oddp", "?y"))))
    val odd = ts.datalogRules(Seq("?x", "?y"), Seq(("?x", "oddp", "?y")), rules)
      .as[(String, String)].collect().toSet
    val even = ts.datalogRules(Seq("?x", "?y"), Seq(("?x", "evenp", "?y")), rules)
      .as[(String, String)].collect().toSet
    // chain a0→a1→a2→a3: odd distances {1,3}, even distances {2}
    assert(odd === Set(("a0", "a1"), ("a1", "a2"), ("a2", "a3"), ("a0", "a3")))
    assert(even === Set(("a0", "a2"), ("a1", "a3")))
  }

  test("semi-naive datalog: the frontier shrinks on a chain graph") {
    // chain a0→a1→…→a9: closure = 45 pairs. Semi-naive deltas are the
    // per-distance diagonals (9, 8, 7, …) — strictly shrinking; the naive
    // fixpoint would re-derive the FULL closure every round instead.
    val n = 10
    val edges = (0 until n - 1).map(i => (s"a$i", "r:next", s"a${i + 1}", 0L))
    val ts = tinyStore(edges)
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = ts.datalogRules(Seq("?x", "?y"), Seq(("?x", "reach", "?y")),
      Seq(
        DatalogRule(("?x", "reach", "?y"), Seq(("?x", "r:next", "?y"))),
        DatalogRule(("?x", "reach", "?z"),
          Seq(("?x", "r:next", "?y"), ("?y", "reach", "?z")))),
      onIteration = (_, ds) => sizes += ds("reach"))
    assert(out.count() === (n - 1) * n / 2)
    // deltas: 9, 8, 7, … 1, 0 — monotonically decreasing frontier
    assert(sizes.head === (n - 1))
    assert(sizes.toList === sizes.toList.sorted.reverse, sizes)
    assert(sizes.last === 0)
  }

  test("stratified rule negation: 2-stratum program, lower stratum complete first") {
    // chain a→b→c. Stratum 0: reach (recursive). Stratum 1: sink = a
    // labeled node with NO outgoing reach edge (rule-level negation), and
    // reachessink CONSUMES the negated predicate — the composition
    // query-level `not` cannot express.
    val ts = tinyStore(Seq(
      ("a", "r:next", "b", 0L), ("b", "r:next", "c", 0L),
      ("a", "r:lbl", "x", 0L), ("b", "r:lbl", "x", 0L), ("c", "r:lbl", "x", 0L)))
    val rules = Seq(
      DatalogRule(("?x", "reach", "?y"), Seq(("?x", "r:next", "?y"))),
      DatalogRule(("?x", "reach", "?z"),
        Seq(("?x", "r:next", "?y"), ("?y", "reach", "?z"))),
      DatalogRule(("?x", "sink", "?x"), Seq(("?x", "r:lbl", "x")),
        negBody = Seq(("?x", "reach", "?y"))),
      DatalogRule(("?x", "reachessink", "?s"),
        Seq(("?x", "reach", "?s"), ("?s", "sink", "?s"))))
    val sinks = ts.datalogRules(Seq("?x"), Seq(("?x", "sink", "?x")), rules)
      .as[String].collect().toList
    assert(sinks === List("c"))
    val rs = ts.datalogRules(Seq("?x", "?s"),
      Seq(("?x", "reachessink", "?s")), rules)
      .as[(String, String)].collect().toSet
    assert(rs === Set(("a", "c"), ("b", "c")))
  }

  test("stratified rule negation: 3 strata — negation over a negation-derived predicate") {
    // stratum 0: reach; stratum 1: sink = no outgoing reach (¬reach);
    // stratum 2: nonsink = ¬sink — each stratum must be COMPLETE before
    // the one above negates it
    val ts = tinyStore(Seq(
      ("a", "r:next", "b", 0L), ("b", "r:next", "c", 0L),
      ("a", "r:lbl", "x", 0L), ("b", "r:lbl", "x", 0L), ("c", "r:lbl", "x", 0L)))
    val rules = Seq(
      DatalogRule(("?x", "reach", "?y"), Seq(("?x", "r:next", "?y"))),
      DatalogRule(("?x", "reach", "?z"),
        Seq(("?x", "r:next", "?y"), ("?y", "reach", "?z"))),
      DatalogRule(("?x", "sink", "?x"), Seq(("?x", "r:lbl", "x")),
        negBody = Seq(("?x", "reach", "?y"))),
      DatalogRule(("?x", "nonsink", "?x"), Seq(("?x", "r:lbl", "x")),
        negBody = Seq(("?x", "sink", "?x"))))
    val out = ts.datalogRules(Seq("?x"), Seq(("?x", "nonsink", "?x")), rules)
      .as[String].collect().toSet
    assert(out === Set("a", "b"))
  }

  test("rule negation: cycle through negation is rejected, unsafe negation too") {
    val ts = tinyStore(Seq(("a", "r:next", "b", 0L)))
    // p depends on ¬p — no stratification exists
    val cyclic = Seq(
      DatalogRule(("?x", "p", "?y"), Seq(("?x", "r:next", "?y")),
        negBody = Seq(("?x", "p", "?y"))))
    val e1 = intercept[IllegalArgumentException] {
      ts.datalogRules(Seq("?x"), Seq(("?x", "p", "?y")), cyclic)
    }
    assert(e1.getMessage.contains("not stratifiable"))
    // negated clause sharing NO variable with the positive body is unsafe
    val unsafe = Seq(
      DatalogRule(("?x", "q", "?y"), Seq(("?x", "r:next", "?y")),
        negBody = Seq(("?u", "r:next", "?w"))))
    val e2 = intercept[IllegalArgumentException] {
      ts.datalogRules(Seq("?x"), Seq(("?x", "q", "?y")), unsafe)
    }
    assert(e2.getMessage.contains("unsafe negation"))
  }

  test("save/load: Parquet triple layout round-trips data, schema, lazy flag") {
    val ts = cftStore()
    val dir = java.nio.file.Files.createTempDirectory("graft_saveload").toString
    ts.save(dir)
    val re = TripleStore.load(spark, dir)
    // data round-trip: the same nested pull as the golden test
    val out = re.pullMany(
      Seq("cft:type" -> MEq("cft.type:seq")),
      Seq(PAttr("cft.seq:id"), PNest("cft.seq:timepoint",
        Seq(PAttr("cft.timepoint:id", Some("tp"))))))
      .select($"id", transform($"timepoint", c => c.getField("tp")).as("tps"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).sorted.toList)
      .toMap
    assert(out === Map(
      "QA255-seq1" -> List("dpi-1204", "dpi-234"),
      "QA255-seq2" -> List("dpi-1204")))
    // schema bootstrapped back from the in-band facts
    assert(re.schemas("cft.seq:id").cardOne === ts.schemas("cft.seq:id").cardOne)
    assert(re.schemas("cft.seq:subject").isRef)
    assert(re.preResolved) // resolution ran at save time
    // the db.refs:lazy flag round-trips
    val dir2 = java.nio.file.Files.createTempDirectory("graft_saveload2").toString
    new TripleStore(spark, ts.triples, ts.schemas, lazyRefs = false).save(dir2)
    assert(!TripleStore.load(spark, dir2).lazyRefs)
  }

  test("load with overriding kwargs re-resolves instead of trusting save-time state") {
    // saved under default-many: both undeclared k:u facts survive save
    val facts = tinyStore(Seq(
      ("e1", "k:u", "old", 0L), ("e1", "k:u", "new", 1L))).triples
    val dir = java.nio.file.Files.createTempDirectory("graft_override").toString
    TripleStore.bootstrap(spark, facts).save(dir)
    // no override → preResolved fast path, card-many semantics intact
    val plain = TripleStore.load(spark, dir)
    assert(plain.preResolved)
    assert(plain.resolved.where($"a" === "k:u").count() === 2)
    // cardinality override at load → must re-resolve (same answer as
    // bootstrap with the identical kwarg), not serve save-time state
    val over = TripleStore.load(spark, dir,
      defaultCardinality = Some("db.cardinality:one"))
    assert(!over.preResolved)
    assert(over.resolved.where($"a" === "k:u").select($"vstr")
      .as[String].collect().toList === List("new"))
  }

  test("save/load round-trips every typed value column (ts, bin, long, dbl, bool)") {
    val rows = Seq(
      org.apache.spark.sql.Row("e1", "t:ts", Triples.VTs, null, null, null,
        null, java.time.LocalDateTime.of(2026, 8, 12, 10, 30, 0), null, null, 0L),
      org.apache.spark.sql.Row("e1", "t:bin", Triples.VBin, null, null, null,
        null, null, null, Array[Byte](1, 2, 3), 0L),
      org.apache.spark.sql.Row("e1", "t:n", Triples.VLong, null, 42L, null,
        null, null, null, null, 0L),
      org.apache.spark.sql.Row("e1", "t:d", Triples.VDbl, null, null, 2.5,
        null, null, null, null, 0L),
      org.apache.spark.sql.Row("e1", "t:b", Triples.VBool, null, null, null,
        true, null, null, null, 0L))
    val triples = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Triples.schema)
    val ts = new TripleStore(spark, triples, Map.empty)
    val dir = java.nio.file.Files.createTempDirectory("graft_typed").toString
    ts.save(dir)
    val re = TripleStore.load(spark, dir)
    val back = re.resolved.where($"e" === "e1")
      .collect().map(r => r.getString(1) -> r).toMap
    assert(back("t:ts").getAs[java.time.LocalDateTime]("vts") ===
      java.time.LocalDateTime.of(2026, 8, 12, 10, 30, 0))
    assert(back("t:bin").getAs[Array[Byte]]("vbin").toSeq === Seq[Byte](1, 2, 3))
    assert(back("t:n").getAs[Long]("vlong") === 42L)
    assert(back("t:d").getAs[Double]("vdbl") === 2.5)
    assert(back("t:b").getAs[Boolean]("vbool") === true)
  }

  test("load: a single-attr match prunes to the attr's namespace partition") {
    // two namespaces; a query touching only ns 'x' must scan with a
    // partition filter pinning ns (directory-level pruning)
    val ts = tinyStore(Seq(
      ("e1", "x:a", "v1", 0L), ("e2", "x:a", "v2", 0L),
      ("e1", "y:b", "w", 0L)))
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    ts.save(dir)
    val q = TripleStore.load(spark, dir).matchEntities(Seq("x:a" -> MEq("v1")))
    assert(q.as[String].collect().toList === List("e1"))
    val plan = q.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("ns#"), s"no partition filter on ns:\n$plan")
    assert(pf.contains("= x") || pf.contains("IN (x"),
      s"partition filter does not pin ns=x:\n$pf")
  }

  test("db.cardinality:default precedence: kwargs > in-band > default-many") {
    // k:u is UNDECLARED (bootstrap reads only in-band schema; there are no
    // per-attr facts for it) and re-asserted at a later tx
    val facts = tinyStore(Seq(
      ("db:schema", "db.cardinality:default", "db.cardinality:one", 0L),
      ("e1", "k:u", "old", 0L), ("e1", "k:u", "new", 1L))).triples
    // in-band default-one: the undeclared attr upsert-resolves
    val ts = TripleStore.bootstrap(spark, facts)
    assert(ts.defaultCardOne)
    assert(ts.resolved.where($"a" === "k:u").select($"vstr")
      .as[String].collect().toList === List("new"))
    // explicit kwarg beats the in-band fact
    val ts2 = TripleStore.bootstrap(spark, facts,
      defaultCardinality = Some("db.cardinality:many"))
    assert(!ts2.defaultCardOne)
    assert(ts2.resolved.where($"a" === "k:u").count() === 2)
    // nothing declared anywhere → the reference default (card-many)
    val ts3 = TripleStore.bootstrap(spark,
      tinyStore(Seq(("e1", "k:u", "a", 0L), ("e1", "k:u", "b", 1L))).triples)
    assert(!ts3.defaultCardOne)
    assert(ts3.resolved.where($"a" === "k:u").count() === 2)
    // a DECLARED card-many attr is exempt from the default-one resolution
    val ts4 = TripleStore.bootstrap(spark, tinyStore(Seq(
      ("db:schema", "db.cardinality:default", "db.cardinality:one", 0L),
      ("k:m", "db:cardinality", "db.cardinality:many", 0L),
      ("e1", "k:m", "a", 0L), ("e1", "k:m", "b", 1L))).triples)
    assert(ts4.defaultCardOne && !ts4.schemas("k:m").cardOne)
    assert(ts4.resolved.where($"a" === "k:m").count() === 2)
  }

  test("base schema: registry attrs stay card-many under default-one " +
      "(tripl.py:291-297)") {
    // db.schema:types facts asserted at DIFFERENT txIds: the reference's
    // base_schema declares the registry card-many BEFORE user facts load,
    // so db.cardinality:default=one must not latest-tx-collapse them —
    // while a plain undeclared attr (k:u) still upsert-resolves
    val rows = Seq(
      ("db:schema", "db.schema:types", "type:a", 0L),
      ("db:schema", "db.schema:types", "type:b", 1L),
      ("e1", "k:u", "old", 0L), ("e1", "k:u", "new", 1L))
    val t = rows.toDF("e", "a", "v", "txId")
      .withColumn("vtype", when($"a" === "db.schema:types",
        lit(Triples.VRef)).otherwise(lit(Triples.VStr)))
      .withColumn("vstr", when($"vtype" === Triples.VStr, $"v"))
      .withColumn("vref", when($"vtype" === Triples.VRef, $"v"))
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vbin", lit(null).cast("binary"))
      .select(Triples.columns.map(col): _*)
    val ts = new TripleStore(spark, t, Map.empty, defaultCardOne = true)
    assert(ts.schemaTypes === Seq("type:a", "type:b"))
    assert(ts.resolved.where($"a" === "db.schema:types").count() === 2)
    assert(ts.resolved.where($"a" === "k:u").select($"vstr")
      .as[String].collect().toList === List("new"))
    // an explicit user declaration overrides the base schema
    val declaredOne = new TripleStore(spark, t, Map("db.schema:types" ->
      AttrSchema("db.schema:types", cardOne = true, isRef = true,
        Triples.VRef)), defaultCardOne = true)
    assert(declaredOne.resolved.where($"a" === "db.schema:types").count() === 1)
  }

  test("datalog stratified negation: not-clause anti-joins on shared vars") {
    val ts = tinyStore(Seq(
      ("e1", "p:name", "ada", 0L), ("e2", "p:name", "bob", 0L),
      ("e3", "p:name", "cyn", 0L),
      ("e1", "p:flag", "y", 0L), ("e3", "p:flag", "y", 0L)))
    val out = ts.datalog(
      find = Seq("?n"),
      where = Seq(("?e", "p:name", "?n")),
      notWhere = Seq(("?e", "p:flag", "y")))
      .as[String].collect().toList
    assert(out === List("bob"))
    // unshared-variable negation is unsafe and must fail fast
    val err = intercept[IllegalArgumentException] {
      ts.datalog(find = Seq("?n"), where = Seq(("?e", "p:name", "?n")),
        notWhere = Seq(("?z", "p:flag", "?w")))
    }
    assert(err.getMessage.contains("shares no variable"))
    // a repeated variable is a SELF-LOOP equality filter (one column),
    // in positive position and under negation
    val ts2 = tinyStore(Seq(
      ("e1", "p:name", "ada", 0L), ("e2", "p:name", "bob", 0L),
      ("e1", "p:self", "e1", 0L), ("e2", "p:self", "e9", 0L)))
    assert(ts2.datalog(find = Seq("?e"), where = Seq(("?e", "p:self", "?e")))
      .as[String].collect().toList === List("e1"))
    assert(ts2.datalog(find = Seq("?n"),
        where = Seq(("?e", "p:name", "?n")),
        notWhere = Seq(("?e", "p:self", "?e")))
      .as[String].collect().toList === List("bob"))
  }

  test("db.schema:types registry: assert + introspect round-trip") {
    val ts = tinyStore(Seq(("e1", "k:x", "v", 0L)))
      .assertTypes(Seq("type:b", "type:a", "type:b"))
    assert(ts.schemaTypes === Seq("type:a", "type:b"))
    // default-cardinality save/load round-trip carries the flag in-band
    val dir = java.nio.file.Files.createTempDirectory("graft_dc").toString
    new TripleStore(spark, ts.triples, ts.schemas, defaultCardOne = true)
      .save(dir)
    assert(TripleStore.load(spark, dir).defaultCardOne)
  }

  test("datalog take/sort lower to TakeOrderedAndProject (tripl.py:583)") {
    val ts = tinyStore(Seq(
      ("e1", "p:name", "c", 0L), ("e2", "p:name", "a", 0L),
      ("e3", "p:name", "b", 0L)))
    val out = ts.datalog(Seq("?n"), Seq(("?e", "p:name", "?n")),
      sortBy = Some("?n"), take = Some(2))
    assert(out.as[String].collect().toList === List("a", "b"))
    assert(out.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
    val desc = ts.datalog(Seq("?n"), Seq(("?e", "p:name", "?n")),
      sortBy = Some("?n"), desc = true, take = Some(1))
    assert(desc.as[String].collect().toList === List("c"))
  }

  test("reachable: maxFrontier valve fails fast on dense expansion") {
    // K4 on {a,b,c,d} with all roots: frontier after one hop is 12
    // (entity, root) pairs — a cap of 5 must trip with a clear message
    val vs = Seq("a", "b", "c", "d")
    val edges = for { x <- vs; y <- vs if x != y } yield (x, "r:next", y)
    val triples = edges.toDF("e", "a", "vref")
      .withColumn("vtype", lit(Triples.VRef))
      .withColumn("vstr", lit(null).cast("string"))
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(0L))
      .select(Triples.columns.map(col): _*)
    val ts = new TripleStore(spark, triples, Map(
      "r:next" -> AttrSchema("r:next", cardOne = false, isRef = true,
        Triples.VRef)))
    val roots = vs.toDF("e")
    val ex = intercept[IllegalStateException] {
      ts.reachable(roots, maxFrontier = Some(5L)).count()
    }
    assert(ex.getMessage.contains("maxFrontier"))
    // without the valve the same traversal completes
    assert(ts.reachable(roots).count() === 16) // 4 roots × 4 reachable each
  }

  test("reachableCte == reachable (diamond DAG and cycle), runs as ONE " +
      "UnionLoop, and the depth bound makes cycles terminate") {
    def refStore(edges: Seq[(String, String)]): TripleStore = {
      val triples = edges.map { case (x, y) => (x, "r:next", y) }
        .toDF("e", "a", "vref")
        .withColumn("vtype", lit(Triples.VRef))
        .withColumn("vstr", lit(null).cast("string"))
        .withColumn("vlong", lit(null).cast("long"))
        .withColumn("vdbl", lit(null).cast("double"))
        .withColumn("vbool", lit(null).cast("boolean"))
        .withColumn("vts", lit(null).cast("timestamp_ntz"))
        .withColumn("vbin", lit(null).cast("binary"))
        .withColumn("txId", lit(0L))
        .select(Triples.columns.map(col): _*)
      new TripleStore(spark, triples, Map(
        "r:next" -> AttrSchema("r:next", cardOne = false, isRef = true,
          Triples.VRef)))
    }
    // diamond a→{b,c}→d→e: two paths to d — min-depth dedup must agree
    // with BFS first-visit depth
    val dia = refStore(Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
      ("d", "e")))
    val roots = Seq("a").toDF("e")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select($"e", $"root", $"depth").as[(String, String, Int)]
        .collect().toSet
    val cte = dia.reachableCte(roots, maxDepth = 10)
    assert(cte.queryExecution.optimizedPlan.toString.contains("UnionLoop"),
      "reachableCte did not plan a UnionLoop")
    assert(sorted(cte) === sorted(dia.reachable(roots)))
    // 3-cycle: the depth bound terminates the UNION ALL enumeration and
    // min-depth still equals the BFS answer
    val cyc = refStore(Seq(("a", "b"), ("b", "c"), ("c", "a")))
    assert(sorted(cyc.reachableCte(roots, maxDepth = 6)) ===
      sorted(cyc.reachable(roots)))
  }

  test("reachableBatched == reachable on dense graphs, and turns the " +
      "maxFrontier valve into a scheduling knob") {
    def refStore(edges: Seq[(String, String)]): TripleStore = {
      val triples = edges.map { case (x, y) => (x, "r:next", y) }
        .toDF("e", "a", "vref")
        .withColumn("vtype", lit(Triples.VRef))
        .withColumn("vstr", lit(null).cast("string"))
        .withColumn("vlong", lit(null).cast("long"))
        .withColumn("vdbl", lit(null).cast("double"))
        .withColumn("vbool", lit(null).cast("boolean"))
        .withColumn("vts", lit(null).cast("timestamp_ntz"))
        .withColumn("vbin", lit(null).cast("binary"))
        .withColumn("txId", lit(0L))
        .select(Triples.columns.map(col): _*)
      new TripleStore(spark, triples, Map(
        "r:next" -> AttrSchema("r:next", cardOne = false, isRef = true,
          Triples.VRef)))
    }
    // random dense DIRECTED graph (cycles allowed): batching must return
    // exactly the unbatched closure — per-root traversals are independent
    val rnd = new scala.util.Random(31)
    val vs = (0 until 20).map(i => s"n$i")
    val edges = for { x <- vs; y <- vs if x != y && rnd.nextDouble() < 0.2 }
      yield (x, y)
    val ts = refStore(edges)
    val roots = vs.toDF("e")
    val want = ts.reachable(roots)
      .as[(String, String, Int)].collect().toSet
    // CONCURRENT batches (default batchParallelism=4 over 7 batches)
    // and the sequential k=1 path must both equal the unbatched
    // closure — per-root traversals are independent, so neither batch
    // membership nor execution order can change any root's closure
    val got = ts.reachableBatched(roots, rootBatchSize = 3)
      .as[(String, String, Int)].collect().toSet
    assert(got === want)
    val gotSeq = ts.reachableBatched(roots, rootBatchSize = 3,
        batchParallelism = 1)
      .as[(String, String, Int)].collect().toSet
    assert(gotSeq === want)
    // K4 with all roots: one hop = 12 (entity, root) pairs, so the
    // unbatched valve trips at 11 — while root batches keep the per-batch
    // frontier under the SAME cap and the traversal completes
    val vs4 = Seq("a", "b", "c", "d")
    val k4 = refStore(for { x <- vs4; y <- vs4 if x != y } yield (x, y))
    val r4 = vs4.toDF("e")
    intercept[IllegalStateException] {
      k4.reachable(r4, maxFrontier = Some(11L)).count()
    }
    assert(k4.reachableBatched(r4, rootBatchSize = 1,
      maxFrontier = Some(11L)).count() === 16)
  }

  /** Chain a0 → a1 → … → a(n-1) through the ref attr `r:next`, every
    * node carrying its `db:ident`. */
  def chainStore(n: Int): TripleStore = {
    val refTriples = (0 until n - 1).map(i => (s"a$i", "r:next", s"a${i + 1}"))
      .toDF("e", "a", "vref")
      .withColumn("vtype", lit(Triples.VRef))
      .withColumn("vstr", lit(null).cast("string"))
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(0L))
      .select(Triples.columns.map(col): _*)
    val identTriples = (0 until n).map(i => (s"a$i", Triples.IdentAttr, s"a$i", 0L))
      .toDF("e", "a", "vstr", "txId")
      .withColumn("vtype", lit(Triples.VStr))
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vref", lit(null).cast("string"))
      .withColumn("vbin", lit(null).cast("binary"))
      .select(Triples.columns.map(col): _*)
    new TripleStore(spark, refTriples.unionByName(identTriples), Map(
      "r:next" -> AttrSchema("r:next", cardOne = false, isRef = true, Triples.VRef),
      Triples.IdentAttr -> AttrSchema(Triples.IdentAttr, cardOne = true,
        isRef = false, Triples.VStr)))
  }

  /** The levels a pull of `root` with `p` (a PRec over `r:next`)
    * unrolled on a [[chainStore]]: (ident, full) per level, where a full
    * level carries its own `next` and a capped tail renders ident-only. */
  def unrolledChain(ts: TripleStore, root: String,
      p: PRec): List[(String, Boolean)] = {
    def walk(r: Row): List[(String, Boolean)] =
      Option(r.getAs[scala.collection.Seq[Row]]("next")).flatMap(_.headOption) match {
        case None => Nil
        case Some(k) =>
          val full = k.schema.fieldNames.contains("next")
          (k.getAs[String]("ident"), full) :: (if (full) walk(k) else Nil)
      }
    walk(ts.pull(Seq(root).toDF("e"), Seq(PAttr(Triples.IdentAttr), p)).head())
  }

  test("deep traversals cross the every-8-level visited re-pin unchanged " +
      "(18-hop chain: BFS, shortest paths, datalog closure)") {
    // 19-node chain a0→…→a18: depth 18 crosses the 8-level re-pin of the
    // running visited/known/total unions TWICE in every fixpoint loop —
    // results must be exactly the un-pinned answer (the pin only
    // truncates plan lineage), and the plan the anti-join sees stays
    // bounded instead of accumulating one union leaf per level
    val n = 19
    val ts = chainStore(n)
    // per-root BFS from the head: one row per depth 0..18
    val got = ts.reachable(Seq("a0").toDF("e"))
      .as[(String, String, Int)].collect().toSet
    assert(got === (0 until n).map(i => (s"a$i", "a0", i)).toSet)
    // global-visited shortest paths: same depths under the known-set pin
    val sp = graft.graph.RefGraph.shortestPaths(ts, Seq("a0").toDF("e"))
      .as[(String, Long)].collect().toSet
    assert(sp === (0 until n).map(i => (s"a$i", i.toLong)).toSet)
    // semi-naive closure: 18 rounds crosses the per-predicate re-pin;
    // chain TC = one pair per (i, j>i)
    val tc = ts.datalogRules(Seq("?x", "?y"), Seq(("?x", "reach", "?y")),
      Seq(
        DatalogRule(("?x", "reach", "?y"), Seq(("?x", "r:next", "?y"))),
        DatalogRule(("?x", "reach", "?z"),
          Seq(("?x", "r:next", "?y"), ("?y", "reach", "?z")))))
    assert(tc.count() === (n - 1).toLong * n / 2)
    // the PRec depth probe crosses the same re-pin: all 18 levels unroll
    // in full (a depth of 17 would render a18 ident-only)
    assert(unrolledChain(ts, "a0", PRec("r:next")) ===
      (1 until n).map(i => (s"a$i", true)).toList)
  }

  test("fixpoint limits: reachable truncates, shortestPaths throws, PRec " +
      "caps its unroll (6-node chain, limit 3)") {
    val ts = chainStore(6)
    val roots = Seq("a0").toDF("e")
    // reachable stops silently at depth maxIters
    assert(ts.reachable(roots, maxIters = 3)
      .as[(String, String, Int)].collect().toSet ===
      (0 to 3).map(i => (s"a$i", "a0", i)).toSet)
    // shortestPaths refuses a frontier still alive at maxIters
    val ex = intercept[IllegalStateException] {
      graft.graph.RefGraph.shortestPaths(ts, roots, maxIters = 3)
    }
    assert(ex.getMessage.contains("frontier still alive"))
    // PRec unrolls exactly maxDepth full levels; the 4th is ident-only
    assert(unrolledChain(ts, "a0", PRec("r:next", maxDepth = 3)) ===
      List(("a1", true), ("a2", true), ("a3", true), ("a4", false)))
  }

  test("store merge is set union over globally-unique eids (W5)") {
    val a = tinyStore(Seq(("e1", "k:x", "v", 0L)))
    val b = tinyStore(Seq(("e1", "k:x", "v", 0L), ("e2", "k:x", "w", 0L)))
    assert(a.merge(b).resolved.count() === 2)
  }

  /** Store of long-valued card-one facts `n:v` plus a string tag
    * `n:tag`, for the [[ValueIndex]] suite. */
  def numStore(rows: Seq[(String, Long)], tx: Long = 0L): TripleStore = {
    val triples = rows.toDF("e", "vlong")
      .withColumn("a", lit("n:v"))
      .withColumn("vtype", lit(Triples.VLong))
      .withColumn("vstr", lit(null).cast("string"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vref", lit(null).cast("string"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(tx))
      .select(Triples.columns.map(col): _*)
    val tags = rows.map(_._1).toDF("e")
      .withColumn("a", lit("n:tag")).withColumn("vtype", lit(Triples.VStr))
      .withColumn("vstr", lit("t")).withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vref", lit(null).cast("string"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(0L))
      .select(Triples.columns.map(col): _*)
    new TripleStore(spark, triples.unionByName(tags), Map(
      "n:v" -> AttrSchema("n:v", cardOne = true, isRef = false, Triples.VLong),
      "n:tag" -> AttrSchema("n:tag", cardOne = true, isRef = false,
        Triples.VStr)))
  }

  /** Store of STRING-valued card-one facts `s:name` plus the universal
    * tag `s:tag`, for the ValueIndex string suite. */
  def strStore(rows: Seq[(String, String)], tx: Long = 0L): TripleStore = {
    val triples = rows.toDF("e", "vstr")
      .withColumn("a", lit("s:name"))
      .withColumn("vtype", lit(Triples.VStr))
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vref", lit(null).cast("string"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(tx))
      .select(Triples.columns.map(col): _*)
    val tags = rows.map(_._1).toDF("e")
      .withColumn("a", lit("s:tag")).withColumn("vtype", lit(Triples.VStr))
      .withColumn("vstr", lit("t")).withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vref", lit(null).cast("string"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(tx))
      .select(Triples.columns.map(col): _*)
    new TripleStore(spark, triples.unionByName(tags), Map(
      "s:name" -> AttrSchema("s:name", cardOne = true, isRef = false,
        Triples.VStr),
      "s:tag" -> AttrSchema("s:tag", cardOne = true, isRef = false,
        Triples.VStr)))
  }

  test("valueIndex: desc top-k probes the index, equals the fallback " +
      "(ties included), and partition-prunes to few buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidx").toString
    // values 0..180 with a 20-wide tie PLATEAU at 180: a k inside the
    // plateau picks interchangeable eids, but the top-k VALUE multiset
    // is deterministic — that is what both paths must agree on
    val rows = (0 until 200).map(i => (f"e$i%03d", math.min(i, 180).toLong))
    val plain = numStore(rows)
    val ts = plain.buildValueIndex("vidx_t1", s"$dir/v1", Seq("n:v"),
      nBuckets = 8)
    def topVals(s: TripleStore, k: Int) = s.pullMany(Seq("n:tag" -> MAny),
        Seq(PAttr("n:v"), PWild), sortBy = Some("v"), desc = true,
        limit = Some(k))
      .select($"v").as[Long].collect().toList.sorted
    assert(topVals(ts, 10) === topVals(plain, 10)) // k inside the plateau
    assert(topVals(ts, 50) === topVals(plain, 50)) // k spanning plateau+tail
    // the probe itself: answers, and its scan partition-prunes on bkt
    val probe = ValueIndex.topKEids(spark, "vidx_t1", "n:v", "vlong",
      Some(plain.resolved.select($"e").distinct()), 10)
    assert(probe.isDefined)
    val plan = probe.get.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bkt"),
      s"expected a bkt-partition-pruned scan:\n$plan")
    // universe form (ents proven == the attr's fact universe): same
    // answer, no semi-join, fully lazy
    val uni = ValueIndex.topKEids(spark, "vidx_t1", "n:v", "vlong",
      None, 10)
    assert(uni.isDefined)
    assert(uni.get.as[String].collect().map(k => rows.toMap.apply(k))
      .sorted.toList === topVals(plain, 10))
    assert(!uni.get.queryExecution.executedPlan.toString.contains("Join"),
      "universe probe must not semi-join")
    // ascending universe form end-to-end: pullMany single-clause match
    // on the sort attr, asc — the index serves it (every universe
    // entity has the attr; no nulls to rank first), same answer as the
    // unindexed store
    def botVals(s: TripleStore, k: Int) = s.pullMany(Seq("n:v" -> MAny),
        Seq(PAttr("n:v")), sortBy = Some("v"), desc = false,
        limit = Some(k))
      .select($"v").as[Long].collect().toList.sorted
    assert(botVals(ts, 10) === botVals(plain, 10))
    assert(botVals(ts, 50) === botVals(plain, 50))
  }

  test("valueIndex: selective ents widen the threshold; ents with < k " +
      "matches fall back (missing-attr null-fill preserved)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidx2").toString
    val rows = (0 until 400).map(i => (f"e$i%03d", i.toLong))
    val plain = numStore(rows)
    val ts = plain.buildValueIndex("vidx_t2", s"$dir/v2", Seq("n:v"),
      nBuckets = 16)
    // only the LOWEST 5% of values match → first threshold rounds find
    // nothing; the widening loop must still land the exact answer
    val lowEnts = (0 until 20).map(i => f"e$i%03d").toDF("e")
    val viaIdx = ValueIndex.topKEids(spark, "vidx_t2", "n:v", "vlong",
      Some(lowEnts), 10)
    assert(viaIdx.isDefined)
    assert(viaIdx.get.as[String].collect().toSet ===
      (10 until 20).map(i => f"e$i%03d").toSet)
    // fewer matches than k in the ENTIRE range → None (fallback owns it)
    assert(ValueIndex.topKEids(spark, "vidx_t2", "n:v", "vlong",
      Some((0 until 5).map(i => f"e$i%03d").toDF("e")), 10).isEmpty)
    // end-to-end: the fallback fills with missing-attr entities exactly
    // as an unindexed store does
    val extra = tinyStore(Seq(("x1", "n:tag", "t", 0L)))
    val merged = ts.merge(extra)
    assert(merged.valueIndex.isEmpty) // writes drop the index handle
  }

  test("valueIndex: append buckets a batch by the existing cuts; " +
      "probe over the union equals the fallback") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidx3").toString
    val first = (0 until 150).map(i => (f"e$i%03d", (i * 3 % 200).toLong))
    val second = (150 until 250).map(i => (f"e$i%03d", (i * 7 % 300).toLong))
    val base = numStore(first)
    base.buildValueIndex("vidx_t3", s"$dir/v3", Seq("n:v"), nBuckets = 8)
    ValueIndex.append(numStore(second), "vidx_t3")
    val union = numStore(first ++ second)
    val ts = union.withValueIndex("vidx_t3")
    def topVals(s: TripleStore) = s.pullMany(Seq("n:tag" -> MAny),
        Seq(PAttr("n:v")), sortBy = Some("v"), desc = true, limit = Some(17))
      .select($"v").as[Long].collect().toList.sorted
    assert(topVals(ts) === topVals(union))
  }

  test("valueIndex: asc-proof memo re-validates against the manifest " +
      "total — an out-of-band append forces a re-prove, never a stale " +
      "serve") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxm").toString
    val rows = (0 until 100).map(i => (f"e$i%03d", i.toLong))
    val plain = numStore(rows)
    val ts = plain.buildValueIndex("vidx_memo", s"$dir/v", Seq("n:v"),
      nBuckets = 8)
    def botVals(s: TripleStore) = s.pullMany(Seq("n:tag" -> MAny),
        Seq(PAttr("n:v")), sortBy = Some("v"), desc = false,
        limit = Some(10))
      .select($"v").as[Long].collect().toList.sorted
    // first pull runs provesUniverse (proof-licensed asc: pattern attr
    // != sort attr) and memoizes the verdict with the manifest total
    assert(botVals(ts) === (0L until 10L).toList)
    // CONTRACT VIOLATION on purpose: append NEW entities with smaller
    // values to the registered index path without touching the live
    // store instance — the exact hazard the memo's total check guards
    ValueIndex.append(
      numStore((100 until 120).map(i => (f"x$i%03d", -1L))), "vidx_memo")
    // a stale memoized proof would let the probe serve the post-append
    // generation: eids x### (outside the store's match) would rank
    // first at value -1 and the pulled n:v would come back null. The
    // total mismatch must force a re-prove, which fails (100 ents vs
    // 120 index rows) and falls back to the exact linear scan.
    assert(botVals(ts) === (0L until 10L).toList)
  }

  test("valueIndex: MRange match partition-prunes via the zone map and " +
      "equals the unindexed scan (bounds, strictness, empty, declines)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxr").toString
    val rows = (0 until 300).map(i => (f"e$i%03d", i.toLong))
    val plain = numStore(rows)
    val ts = plain.buildValueIndex("vidx_rng", s"$dir/v", Seq("n:v"),
      nBuckets = 8)
    def ids(s: TripleStore, r: MRange) =
      s.matchEntities(Seq("n:v" -> r)).as[String].collect().toSet
    val gt = MRange(lo = Some(290L), loStrict = true)
    assert(ids(ts, gt) === ids(plain, gt))
    assert(ids(ts, gt) === (291 until 300).map(i => f"e$i%03d").toSet)
    // the probe's scan partition-prunes on bkt
    val probe = ValueIndex.rangeEids(spark, "vidx_rng", "n:v", "vlong",
      Triples.VLong, gt)
    assert(probe.isDefined)
    val plan = probe.get.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bkt"),
      s"expected a bkt-partition-pruned scan:\n$plan")
    // inclusive / exclusive bounds, both ends
    assert(ids(ts, MRange(Some(10L), Some(12L))) ===
      Set("e010", "e011", "e012"))
    assert(ids(ts, MRange(Some(10L), Some(12L), loStrict = true,
      hiStrict = true)) === Set("e011"))
    // a range past the max prunes EVERY bucket → empty, still exact
    assert(ids(ts, MRange(lo = Some(1000L))) === Set.empty[String])
    assert(ids(plain, MRange(lo = Some(1000L))) === Set.empty[String])
    // conjunctive pattern: the range clause rides the collapse path
    // beside an equality clause — same answer with and without index
    val conj = Seq("n:v" -> MRange(lo = Some(295L)),
      "n:tag" -> (MEq("t"): MVal))
    assert(ts.matchEntities(conj).as[String].collect().toSet ===
      plain.matchEntities(conj).as[String].collect().toSet)
    // declines: un-indexed attr, and a bound type with no shadow —
    // the match falls back to the attr-pruned scan either way
    assert(ValueIndex.rangeEids(spark, "vidx_rng", "n:tag", "vstr",
      Triples.VStr, MRange(lo = Some("a"))).isEmpty)
    assert(ValueIndex.rangeEids(spark, "vidx_rng", "n:v", "vlong",
      Triples.VLong, MRange(lo = Some(true))).isEmpty)
    assert(ids(ts, MRange(lo = Some(298L), hi = Some(1L))) ===
      Set.empty[String]) // inverted range: no bucket and no row
  }

  test("countMatch: single-range counts are served from the manifest — " +
      "inner buckets contribute with ZERO data rows read, edges scan, " +
      "declines fall back to the exact count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxc").toString
    val rows = (0 until 400).map(i => (f"e$i%03d", i.toLong))
    val plain = numStore(rows)
    val ts = plain.buildValueIndex("vidx_cnt", s"$dir/v", Seq("n:v"),
      nBuckets = 8)
    def model(lo: Option[Long], hi: Option[Long], ls: Boolean,
        hs: Boolean): Seq[Long] =
      rows.map(_._2).filter(v =>
        lo.forall(l => if (ls) v > l else v >= l) &&
          hi.forall(h => if (hs) v < h else v <= h))
    // a grid straddling bucket interiors, extremes, empty and inverted
    // windows, every strictness combination — pushdown == fallback ==
    // the driver model, for the COUNT and the SUM alike
    for {
      lo <- Seq(None, Some(-5L), Some(0L), Some(57L), Some(399L),
        Some(1000L))
      hi <- Seq(None, Some(0L), Some(58L), Some(120L), Some(399L))
      ls <- Seq(true, false); hs <- Seq(true, false)
      if lo.nonEmpty || hi.nonEmpty
    } {
      val r = MRange(lo.map(x => x: Any), hi.map(x => x: Any), ls, hs)
      val m = model(lo, hi, ls, hs)
      assert(ts.countMatch(Seq("n:v" -> r)) === m.size.toLong,
        s"indexed $r")
      assert(plain.countMatch(Seq("n:v" -> r)) === m.size.toLong,
        s"fallback $r")
      assert(ts.sumMatch("n:v", Seq("n:v" -> r)) === m.sum, s"sum $r")
      assert(plain.sumMatch("n:v", Seq("n:v" -> r)) === m.sum,
        s"sum fallback $r")
    }
    // the inner-bucket contribution provably reads NO data: an
    // all-inner window (bounds beyond both extremes) answers from the
    // manifest alone — shown by DELETING the data tree (the sibling
    // _manifest dir survives) and counting again; a straddling window
    // must fail, because its edge buckets genuinely scan
    val dir2 = java.nio.file.Files.createTempDirectory("graft_vidxc2")
      .toString
    plain.buildValueIndex("vidx_cnt2", s"$dir2/v", Seq("n:v"),
      nBuckets = 8)
    def purge(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(purge)
      f.delete(): Unit
    }
    purge(new java.io.File(s"$dir2/v"))
    assert(ValueIndex.countRange(spark, "vidx_cnt2", "n:v", "vlong",
      Triples.VLong, MRange(lo = Some(-5L), hi = Some(1000L)))
      === Some(400L))
    // the SUM pushdown reads the same manifest: an all-inner window
    // answers from the materialized per-bucket sums alone (0..399 sums
    // to 79800), a straddling one genuinely scans its edges
    assert(ValueIndex.sumRange(spark, "vidx_cnt2", "n:v",
      Triples.VLong, MRange(lo = Some(-5L), hi = Some(1000L)))
      === Some(79800L))
    intercept[Exception] {
      ValueIndex.countRange(spark, "vidx_cnt2", "n:v", "vlong",
        Triples.VLong, MRange(lo = Some(100L)))
    }
    intercept[Exception] {
      ValueIndex.sumRange(spark, "vidx_cnt2", "n:v",
        Triples.VLong, MRange(lo = Some(100L)))
    }
    // shadow PLATEAUS (strings sharing a 6+-byte prefix collapse to one
    // shadow) can never be proven inner — every kept bucket edge-scans
    // with the exact native predicate, so the count stays exact
    val srows = (0 until 90).map(i => (f"p$i%02d", f"prefix_$i%03d"))
    val striples = srows.toDF("e", "vstr")
      .withColumn("a", lit("n:s"))
      .withColumn("vtype", lit(Triples.VStr))
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vref", lit(null).cast("string"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(0L))
      .select(Triples.columns.map(col): _*)
    val sPlain = new TripleStore(spark, striples, Map("n:s" ->
      graft.model.AttrSchema("n:s", cardOne = true, isRef = false,
        Triples.VStr)))
    val sTs = sPlain.buildValueIndex("vidx_cnts", s"$dir/s", Seq("n:s"),
      nBuckets = 6)
    for ((lo, hi) <- Seq(
        (Some("prefix_010"), Some("prefix_047")),
        (Some("prefix_"), None), (None, Some("prefix_055")),
        (Some("prefix_0555"), Some("prefix_06"))))
      for (st <- Seq(true, false)) {
        val r = MRange(lo.map(x => x: Any), hi.map(x => x: Any), st, st)
        val n = srows.map(_._2).count(v =>
          lo.forall(l => if (st) v > l else v >= l) &&
            hi.forall(h => if (st) v < h else v <= h)).toLong
        assert(sTs.countMatch(Seq("n:s" -> r)) === n, s"plateau $r")
      }
    // the DATALOG layer recognizes the same shape: a global count over
    // ONE range clause == the driver model on indexed and plain stores;
    // a two-clause body (NOT the shape) routes through the general
    // compilation and must agree on the equivalent question
    val dlr = MRange(lo = Some(100L), hi = Some(250L), loStrict = true)
    def dlCount(st: TripleStore, body: Seq[(String, String, Any)]) =
      st.datalog(Seq.empty, body,
          aggregates = Seq(graft.query.DatalogAgg("count", "?d", "n")))
        .as[Long].collect().head
    assert(dlCount(ts, Seq(("?d", "n:v", dlr))) === 150L)
    assert(dlCount(plain, Seq(("?d", "n:v", dlr))) === 150L)
    assert(dlCount(ts, Seq(("?d", "n:v", dlr),
      ("?d", "n:tag", "t"))) === 150L)
    // an empty window through the datalog shape: one row, count 0 —
    // exactly what the general global aggregate emits
    assert(dlCount(ts, Seq(("?d", "n:v",
      MRange(lo = Some(5000L))))) === 0L)
    // the SUM twin: [?d attr range] + [?d attr ?v] + :with ?d IS
    // sumMatch's shape — indexed and plain agree with the model
    // (sum 101..250 = 26325); an EMPTY window renders SQL NULL (one
    // null row), exactly the general global aggregate's answer, never
    // sumMatch's monoid 0
    def dlSum(st: TripleStore, r: MRange) =
      st.datalog(Seq.empty,
        Seq(("?d", "n:v", r), ("?d", "n:v", "?v")),
        aggregates = Seq(graft.query.DatalogAgg("sum", "?v", "s")),
        withVars = Seq("?d"))
    assert(dlSum(ts, dlr).as[Long].collect().head === 26325L)
    assert(dlSum(plain, dlr).as[Long].collect().head === 26325L)
    assert(dlSum(ts, MRange(lo = Some(5000L)))
      .select($"s").collect().head.isNullAt(0))
    // an APPEND (un-reconciled upsert twins possible) declines the
    // pushdown; countMatch stays exact through the fallback scan
    ValueIndex.append(numStore(Seq(("x001", 7L)), tx = 1L), "vidx_cnt")
    assert(ValueIndex.countRange(spark, "vidx_cnt", "n:v", "vlong",
      Triples.VLong, MRange(lo = Some(100L))).isEmpty)
    assert(ValueIndex.sumRange(spark, "vidx_cnt", "n:v",
      Triples.VLong, MRange(lo = Some(100L))).isEmpty)
    assert(ts.countMatch(Seq("n:v" ->
      MRange(lo = Some(100L), loStrict = true))) === 299L)
    assert(ts.sumMatch("n:v", Seq("n:v" ->
      MRange(lo = Some(100L), loStrict = true))) === 74750L)
    // family-mismatched bound: decline, exact either way (0 string
    // values on a long attr match a string bound's cast comparison)
    assert(ValueIndex.countRange(spark, "vidx_cnt", "n:v", "vlong",
      Triples.VLong, MRange(lo = Some("450"))).isEmpty)
    // sums are LONG-only by design: a string attr declines at the probe
    // and sumMatch rejects it loudly at the API
    assert(ValueIndex.sumRange(spark, "vidx_cnts", "n:s",
      Triples.VStr, MRange(lo = Some("prefix_010"))).isEmpty)
    intercept[IllegalArgumentException] {
      sTs.sumMatch("n:s", Seq("n:s" -> MRange(lo = Some("prefix_010"))))
    }
    // sumMatch's GENERAL fallback: a conjunctive (non-pushdown) pattern
    // sums the attr over the matched entities
    assert(ts.sumMatch("n:v", Seq(
      "n:v" -> MRange(lo = Some(390L)),
      "n:tag" -> (MEq("t"): MVal))) === (390L to 399L).sum)
  }

  test("percentileValue: rank-k values come from ONE manifest-located " +
      "bucket — indexed == fallback == driver model across q grid, " +
      "ties, plateau strings; appends decline") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxp").toString
    // duplicate-heavy values so rank picks inside tie runs
    val rows = (0 until 300).map(i => (f"e$i%03d", (i % 97).toLong))
    val plain = numStore(rows)
    val ts = plain.buildValueIndex("vidx_pct", s"$dir/v", Seq("n:v"),
      nBuckets = 8)
    val sorted = rows.map(_._2).sorted
    def model(q: Double): Long =
      sorted(math.ceil(q * sorted.size).toInt.max(1) - 1)
    for (q <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)) {
      assert(ts.percentileValue("n:v", q) === Some(model(q)),
        s"indexed q=$q")
      assert(plain.percentileValue("n:v", q) === Some(model(q)),
        s"fallback q=$q")
    }
    intercept[IllegalArgumentException] { ts.percentileValue("n:v", 0.0) }
    intercept[IllegalArgumentException] { ts.percentileValue("n:v", 1.1) }
    // attr with no facts: None both ways
    assert(plain.percentileValue("n:absent", 0.5).isEmpty)
    // plateau STRINGS (shared 6+-byte prefix → one shadow, one bucket):
    // the in-bucket distinct-value cumulative still ranks exactly
    val srows = (0 until 90).map(i => (f"p$i%02d", f"prefix_$i%03d"))
    val striples = srows.toDF("e", "vstr")
      .withColumn("a", lit("n:s"))
      .withColumn("vtype", lit(Triples.VStr))
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vref", lit(null).cast("string"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(0L))
      .select(Triples.columns.map(col): _*)
    val sPlain = new TripleStore(spark, striples, Map("n:s" ->
      graft.model.AttrSchema("n:s", cardOne = true, isRef = false,
        Triples.VStr)))
    val sTs = sPlain.buildValueIndex("vidx_pcts", s"$dir/s", Seq("n:s"),
      nBuckets = 6)
    val sSorted = srows.map(_._2).sorted
    for (q <- Seq(0.1, 0.5, 0.95)) {
      val want = sSorted(math.ceil(q * sSorted.size).toInt - 1)
      assert(sTs.percentileValue("n:s", q) === Some(want), s"string q=$q")
    }
    // multi-q: every rank served in one call (distinct buckets batch
    // their ranks into one pick each) — equals the per-q answers
    val multi = ts.percentileValues("n:v", Seq(0.1, 0.5, 0.9, 0.9))
    for (q <- Seq(0.1, 0.5, 0.9))
      assert(multi(q) === Some(model(q)), s"multi q=$q")
    assert(plain.percentileValues("n:v", Seq(0.25, 0.75)) ===
      Map(0.25 -> Some(model(0.25)), 0.75 -> Some(model(0.75))))
    // un-reconciled append: the probe declines (a stale twin shifts
    // every rank); the fallback still answers the STORE's truth
    ValueIndex.append(numStore(Seq(("x001", 7L)), tx = 1L), "vidx_pct")
    assert(ValueIndex.percentileValue(spark, "vidx_pct", "n:v", "vlong",
      0.5).isEmpty)
    assert(ts.percentileValue("n:v", 0.5) === Some(model(0.5)))
  }

  test("valueIndex: MIXED-TYPE strays are not indexed — only facts of " +
      "the attr's declared type feed the manifest, so aggregate " +
      "pushdowns equal the native-predicate fallback") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxt").toString
    // n:v declared LONG; one stray fact carries a STRING value (vtype
    // drift is legal in the EAV model) — its string-prefix shadow
    // would land it in a far bucket and poison counts/sums/ranks
    val longs = (0 until 200).map(i => (f"e$i%03d", i.toLong))
    val triples = longs.toDF("e", "vlong")
      .withColumn("vstr", lit(null).cast("string"))
      .unionByName(Seq(("stray", "oops")).toDF("e", "vstr")
        .withColumn("vlong", lit(null).cast("long")))
      .withColumn("a", lit("n:v"))
      .withColumn("vtype", when(col("vlong").isNotNull,
        Triples.VLong).otherwise(Triples.VStr))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vref", lit(null).cast("string"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(0L))
      .select(Triples.columns.map(col): _*)
    val plain = new TripleStore(spark, triples, Map("n:v" ->
      graft.model.AttrSchema("n:v", cardOne = true, isRef = false,
        Triples.VLong)))
    val ts = plain.buildValueIndex("vidx_typ", s"$dir/v", Seq("n:v"),
      nBuckets = 6)
    // the stray is NOT in the index: totals, counts, sums and ranks
    // all equal the declared-type model and the un-indexed fallback
    val rAll = MRange(lo = Some(-5L))
    assert(ValueIndex.countRange(spark, "vidx_typ", "n:v", "vlong",
      Triples.VLong, rAll) === Some(200L))
    assert(ts.countMatch(Seq("n:v" -> rAll)) ===
      plain.countMatch(Seq("n:v" -> rAll)))
    assert(ValueIndex.sumRange(spark, "vidx_typ", "n:v",
      Triples.VLong, rAll) === Some((0L until 200L).sum))
    assert(ts.percentileValue("n:v", 0.5) === Some(99L))
    assert(plain.percentileValue("n:v", 0.5) === Some(99L))
  }

  test("sumRange: unrepresentable totals DECLINE — the pushdown never " +
      "returns a silently wrapped sum; the fallback owns the " +
      "engine-native overflow semantics") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxo").toString
    val big = Seq(("a1", 6000000000000000000L),
      ("a2", 6100000000000000000L), ("a3", 6200000000000000000L),
      ("a4", 100L))
    val plain = numStore(big)
    val ts = plain.buildValueIndex("vidx_ovf", s"$dir/v", Seq("n:v"),
      nBuckets = 4)
    val rAll = MRange(lo = Some(0L))
    // the total exceeds Long range (either a bucket's decimal sum was
    // NULLed as unrepresentable, or the driver-side addExact refuses):
    // the probe DECLINES rather than wrap
    assert(ValueIndex.sumRange(spark, "vidx_ovf", "n:v", Triples.VLong,
      rAll).isEmpty)
    // counting the same window is unaffected
    assert(ValueIndex.countRange(spark, "vidx_ovf", "n:v", "vlong",
      Triples.VLong, rAll) === Some(4L))
    // indexed == plain on the overflowing question, whatever the
    // session's overflow semantics: ANSI throws on both, legacy wraps
    // identically on both (the fallback IS the same plan)
    if (spark.conf.get("spark.sql.ansi.enabled").toBoolean) {
      intercept[Exception] { ts.sumMatch("n:v", Seq("n:v" -> rAll)) }
      intercept[Exception] { plain.sumMatch("n:v", Seq("n:v" -> rAll)) }
    } else {
      assert(ts.sumMatch("n:v", Seq("n:v" -> rAll)) ===
        plain.sumMatch("n:v", Seq("n:v" -> rAll)))
    }
    // a window summing only the small value stays manifest-served
    assert(ts.sumMatch("n:v", Seq("n:v" -> MRange(hi = Some(1000L))))
      === 100L)
  }

  test("valueIndex: a v5 manifest (no suml) fails probes loud, COMPACT " +
      "refuses to migrate it (typed-fact filter not re-appliable), and " +
      "a REBUILD from the store recovers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxm").toString
    val rows = (0 until 120).map(i => (f"e$i%03d", i.toLong))
    val plain = numStore(rows)
    plain.buildValueIndex("vidx_mig", s"$dir/v", Seq("n:v"), nBuckets = 6)
    // forge the v5 shape: same data tree, manifest WITHOUT the suml
    // column and stamped fmt=5 (what a pre-upgrade index on disk looks
    // like). Index reads pin the v6 schema, so the missing column reads
    // as null and the fmt stamp is what every reader must refuse.
    forgeManifest(s"$dir/v_manifest")(
      _.drop("suml").withColumn("fmt", lit(5)))
    val e = intercept[IllegalArgumentException] {
      ValueIndex.countRange(spark, "vidx_mig", "n:v", "vlong",
        Triples.VLong, MRange(lo = Some(10L)))
    }
    assert(e.getMessage.contains("rebuild"))
    assertEveryManifestReaderRefuses("vidx_mig", s"$dir/vx")
    // compact refuses foreign formats: v5 builds predate the
    // declared-type fact filter, so an in-place migration could carry
    // a type-drifted stray into manifest counts the v6 aggregate
    // pushdowns trust — only a rebuild from the store (which re-runs
    // the filter) migrates
    val c = intercept[IllegalArgumentException] {
      ValueIndex.compact(spark, "vidx_mig", s"$dir/v2", nBuckets = 6)
    }
    assert(c.getMessage.contains("rebuild"))
    plain.buildValueIndex("vidx_mig", s"$dir/v3", Seq("n:v"), nBuckets = 6)
    assert(ValueIndex.countRange(spark, "vidx_mig", "n:v", "vlong",
      Triples.VLong, MRange(lo = Some(10L))) === Some(110L))
    assert(plain.withValueIndex("vidx_mig").sumMatch("n:v",
      Seq("n:v" -> MRange(lo = Some(10L)))) === (10L to 119L).sum)
  }

  test("valueIndex: double attrs with NaN facts — probe == fallback " +
      "under Spark's NaN-largest order (desc ranks NaN first)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxn").toString
    def dblStore(rows: Seq[(String, Double)]): TripleStore = {
      val triples = rows.toDF("e", "vdbl")
        .withColumn("a", lit("d:v"))
        .withColumn("vtype", lit(Triples.VDbl))
        .withColumn("vstr", lit(null).cast("string"))
        .withColumn("vlong", lit(null).cast("long"))
        .withColumn("vbool", lit(null).cast("boolean"))
        .withColumn("vts", lit(null).cast("timestamp_ntz"))
        .withColumn("vref", lit(null).cast("string"))
        .withColumn("vbin", lit(null).cast("binary"))
        .withColumn("txId", lit(0L))
        .select(Triples.columns.map(col): _*)
      new TripleStore(spark, triples, Map("d:v" ->
        AttrSchema("d:v", cardOne = true, isRef = false, Triples.VDbl)))
    }
    val rows = (0 until 60).map(i => (f"e$i%03d", i.toDouble)) ++
      Seq(("nanA", Double.NaN), ("nanB", Double.NaN))
    val plain = dblStore(rows)
    val ts = plain.buildValueIndex("vidx_nan", s"$dir/vn", Seq("d:v"),
      nBuckets = 8)
    def top(s: TripleStore, k: Int, d: Boolean) = s.pullMany(
        Seq("d:v" -> MAny), Seq(PAttr("d:v")),
        sortBy = Some("v"), desc = d, limit = Some(k))
      .select($"v").collect().map(_.getDouble(0)).toList
    // render through Double.compare's total order: NaN-safe multiset eq
    def norm(xs: List[Double]) =
      xs.sortWith(java.lang.Double.compare(_, _) < 0).map(_.toString)
    // desc: NaN ranks FIRST (Spark's largest value) — the probe must
    // surface the NaN facts, not prune their bucket away
    assert(norm(top(ts, 5, d = true)) === norm(top(plain, 5, d = true)))
    assert(top(ts, 5, d = true).count(_.isNaN) === 2)
    assert(norm(top(ts, 30, d = true)) === norm(top(plain, 30, d = true)))
    // asc universe form: NaN ranks last, bottom-k is NaN-free here
    assert(norm(top(ts, 5, d = false)) === norm(top(plain, 5, d = false)))
    // COUNT pushdown under NaN: a lower-only range counts NaN facts as
    // matches (Spark's NaN-largest comparison semantics — NaN > lo is
    // TRUE on the fallback scan, and the NaN bucket's min shadow sits
    // above any finite bound, so the manifest agrees); an upper bound
    // exiles the NaN bucket from the provably-inner set, and the edge
    // scan's exact predicate rejects the NaN rows — indexed == plain
    // == 60-row model either way
    for (r <- Seq(MRange(lo = Some(9.5)),
        MRange(lo = Some(9.5), hi = Some(1e9)),
        MRange(hi = Some(20.0), hiStrict = true))) {
      assert(ts.countMatch(Seq("d:v" -> r)) ===
        plain.countMatch(Seq("d:v" -> r)), s"NaN count $r")
    }
    assert(ts.countMatch(Seq("d:v" -> MRange(lo = Some(9.5)))) === 52L)
    assert(ts.countMatch(Seq("d:v" ->
      MRange(lo = Some(9.5), hi = Some(1e9)))) === 50L)
  }

  test("valueIndex: appends fragment the layout and open drift buckets; " +
      "compact re-cuts and swaps the catalog; probe exact throughout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidx5").toString
    val base = numStore((0 until 200).map(i => (f"e$i%03d", i.toLong)))
    base.buildValueIndex("vidx_t5", s"$dir/v5", Seq("n:v"), nBuckets = 8)
    // three drifted batches, every value past the build-time max —
    // harvested cuts trail the data, so each batch opens fresh edge
    // buckets and adds manifest rows / files
    val drifts = (1 to 3).map(b =>
      (0 until 100).map(i => (f"d$b%d_$i%03d", (1000 * b + i).toLong)))
    drifts.foreach(rows => ValueIndex.append(numStore(rows), "vidx_t5"))
    def manifestRows() = spark.table("vidx_t5_manifest").count()
    def maxBkt() = spark.table("vidx_t5_manifest")
      .agg(max($"bkt")).as[Int].head()
    assert(manifestRows() >= 8 + 3, "appends must add manifest rows")
    assert(maxBkt() > 7, "drift must open buckets past the build ids")
    val union = numStore(
      (0 until 200).map(i => (f"e$i%03d", i.toLong)) ++ drifts.flatten)
    val ts = union.withValueIndex("vidx_t5")
    def topVals(s: TripleStore) = s.pullMany(Seq("n:v" -> MAny),
        Seq(PAttr("n:v")), sortBy = Some("v"), desc = true,
        limit = Some(12))
      .select($"v").as[Long].collect().toList.sorted
    // probes stay EXACT under drift (threshold never needed disjointness)
    assert(topVals(ts) === topVals(union))
    // an UPSERTING append (e199: 199 → 5000 at a later txId): the stale
    // row sits beside the new one until compaction reconciles
    ValueIndex.append(numStore(Seq(("e199", 5000L)), tx = 1L), "vidx_t5")
    assert(ValueIndex.snapshotCacheKeys.contains(s"$dir/v5"),
      "the probes and appends above must have cached the generation")
    // compact: re-cut over current rows, keep latest txId per (a, e),
    // swap catalog, old paths return
    val (oldData, oldMan) = ValueIndex.compact(spark, "vidx_t5",
      s"$dir/v5c", nBuckets = 8)
    // the swap supersedes the old generation: its cached manifest
    // snapshot is unreachable (probes resolve the new location) and
    // must be evicted, not leaked one manifest per compaction
    assert(oldData === s"$dir/v5")
    assert(!ValueIndex.snapshotCacheKeys.contains(oldData),
      "compact must evict the superseded generation's snapshot")
    assert(manifestRows() <= 8, "compaction must collapse the manifest")
    assert(maxBkt() <= 7, "compaction must restore the bucket-id range")
    // the store matching the index now includes the upsert (snapshot
    // contract: the index covers the store's CURRENT facts — card-one
    // latest-tx-wins resolves e199 to 5000)
    val unionUp = new TripleStore(spark,
      union.triples.unionByName(
        numStore(Seq(("e199", 5000L)), tx = 1L).triples),
      union.schemas)
    val tsUp = unionUp.withValueIndex("vidx_t5")
    // post-compact top-12 desc: the upserted 5000 once (not the stale
    // 199 and not twice), then the top of drift batch 3 — and identical
    // to the unindexed fallback
    assert(topVals(tsUp) ===
      (Seq(5000L) ++ (3089L to 3099L)).sorted.toList)
    assert(topVals(tsUp) === topVals(unionUp))
    // the swap really moved the files: vacuuming the old locations
    // leaves the probe intact
    graft.ops.Layout.vacuum(spark, oldData)
    graft.ops.Layout.vacuum(spark, oldMan)
    assert(topVals(tsUp) === topVals(unionUp))
  }

  test("valueIndex: compactIfFragmented is a no-op on a tight index " +
      "and compacts past the threshold — aggregate probes regain " +
      "pristine service") {
    val dir = java.nio.file.Files.createTempDirectory("graft_valve").toString
    val rows = (0 until 160).map(i => (f"e$i%03d", i.toLong))
    numStore(rows).buildValueIndex("vidx_valve", s"$dir/v", Seq("n:v"),
      nBuckets = 4)
    // tight post-build state (frag = 1.0): the valve declines and the
    // candidate path stays unburned (callers derive it from a monotone
    // batch id)
    assert(ValueIndex.compactIfFragmented(spark, "vidx_valve",
      s"$dir/g0", maxFrag = 1.5, nBuckets = 4).isEmpty)
    assert(!new java.io.File(s"$dir/g0").exists)
    // a full-spread append doubles the manifest rows (frag → 2.0);
    // while un-reconciled, the aggregate probe declines by contract
    ValueIndex.append(numStore(
      (0 until 160).map(i => (f"x$i%03d", i.toLong)), tx = 1L),
      "vidx_valve")
    assert(ValueIndex.countRange(spark, "vidx_valve", "n:v", "vlong",
      Triples.VLong, MRange(lo = Some(100L))).isEmpty)
    // past the threshold the valve compacts; the probe serves again
    // and matches the model over BOTH batches
    assert(ValueIndex.compactIfFragmented(spark, "vidx_valve",
      s"$dir/g1", maxFrag = 1.5, nBuckets = 4).isDefined)
    assert(ValueIndex.countRange(spark, "vidx_valve", "n:v", "vlong",
      Triples.VLong, MRange(lo = Some(100L))) === Some(120L))
  }

  test("persisted store: top-k pull pushes the k eids as an IN into the " +
      "(a, e)-sorted parquet layout; no semi-join; answers match") {
    val dir = java.nio.file.Files.createTempDirectory("graft_litpull").toString
    // distinct values → the top-8 id set is deterministic
    val rows = (0 until 200).map(i => (f"e$i%03d", i.toLong))
    val plain = numStore(rows)
    plain.save(s"$dir/store")
    val re = TripleStore.load(spark, s"$dir/store")
    def top(s: TripleStore) = s.pullMany(Seq("n:v" -> MAny),
      Seq(PAttr("n:v"), PAttr("n:tag")), sortBy = Some("v"), desc = true,
      limit = Some(8))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"e", $"v", $"tag").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toList
    assert(rowsOf(top(re)) === rowsOf(top(plain)))
    // plan fence: the pull scans carry the pushed IN(e, …) — 8 literals
    // stay under parquet's default or-of-eq threshold (10), and the
    // (ns, a, e)-sorted files make that a row-group prune at scale. The
    // ranking subtree was collected once; no per-branch semi-join runs.
    val plan = top(re).queryExecution.executedPlan.toString
    assert(plan.contains("In(e, ") && plan.contains("PushedFilters"),
      s"expected a pushed eid IN filter:\n$plan")
    assert(!plan.contains("LeftSemi"),
      s"literal pull must not semi-join:\n$plan")
    // same through a value index: probe picks the eids sub-linearly,
    // the pull is the same literal-IN shape
    val idx = re.buildValueIndex("vidx_lit", s"$dir/vidx", Seq("n:v"),
      nBuckets = 8)
    assert(rowsOf(top(idx)) === rowsOf(top(plain)))
  }

  test("MRange on a TableSource-backed store fuses to the base table: " +
      "no EAV Generate, comparison pushed into the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_frng").toString
    spark.range(0, 500).selectExpr("id AS doc_id", "id % 97 AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    val sp = graft.sources.RowIngest.specFor(df, "frng", Seq("doc_id"),
      Nil, None)
    val ts = new TripleStore(spark,
      graft.sources.RowIngest.tableToTriples(df, sp), sp.attrSchemas,
      preResolved = true,
      source = Some(graft.model.UnionTripleSource(
        Seq(graft.sources.RowIngest.TableSource(df, sp)))))
    val out = ts.pullMany(
      Seq("frng:n_chars" -> MRange(lo = Some(90L))),
      Seq(PAttr("frng:doc_id"), PAttr("frng:n_chars")))
    assert(out.select($"doc_id").as[Long].collect().toSet ===
      (0L until 500L).filter(_ % 97 >= 90).toSet)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"fused range pull must not explode the EAV view:\n$plan")
    assert(plan.contains("PushedFilters") &&
        plan.contains("GreaterThanOrEqual(n_chars,90"),
      s"expected the range comparison pushed into the scan:\n$plan")
  }

  test("valueIndex: range probe declines on a bound/attr type-family " +
      "mismatch — range semantics are identical indexed or not") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxty").toString
    // STRING-indexed attr holding NUMERIC-looking values, NUMERIC
    // bound: the fallback's ANSI cast comparison matches "0042" >= 30
    // row by row, but the bound's widening shadow (30.0) against
    // string-prefix shadows (~2^45) keeps every bucket while a closed
    // window would keep none — index-presence-dependent membership.
    // The probe must decline so both stores answer identically.
    val srows = (0 until 60).map(i => (f"s$i%03d", f"$i%04d"))
    val plainS = strStore(srows)
    val tsS = plainS.buildValueIndex("vidx_ty_s", s"$dir/s", Seq("s:name"),
      nBuckets = 8)
    assert(ValueIndex.rangeEids(spark, "vidx_ty_s", "s:name", "vstr",
      Triples.VStr, MRange(lo = Some(30L))).isEmpty)
    def idsS(s: TripleStore, r: MRange) =
      s.matchEntities(Seq("s:name" -> r)).as[String].collect().toSet
    val numOnStr = MRange(lo = Some(30L), hi = Some(45L))
    assert(idsS(tsS, numOnStr) === idsS(plainS, numOnStr))
    assert(idsS(tsS, numOnStr) ===
      (30 to 45).map(i => f"s$i%03d").toSet)
    // NUMERIC-indexed attr, STRING bound: same story mirrored (the
    // string's prefix shadow vs numeric shadows would keep NO bucket
    // → silent 0 rows where the cast matches e045..e059) — decline,
    // and the match surface agrees with the un-indexed store
    val nrows = (0 until 60).map(i => (f"e$i%03d", i.toLong))
    val plainN = numStore(nrows)
    val tsN = plainN.buildValueIndex("vidx_ty_n", s"$dir/n", Seq("n:v"),
      nBuckets = 8)
    assert(ValueIndex.rangeEids(spark, "vidx_ty_n", "n:v", "vlong",
      Triples.VLong, MRange(lo = Some("45"))).isEmpty)
    def idsN(s: TripleStore, r: MRange) =
      s.matchEntities(Seq("n:v" -> r)).as[String].collect().toSet
    val strOnNum = MRange(lo = Some("45"): Option[Any])
    assert(idsN(tsN, strOnNum) === idsN(plainN, strOnNum))
    assert(idsN(tsN, strOnNum) ===
      (45 until 60).map(i => f"e$i%03d").toSet)
    // matched-family sanity: the same stores DO probe in-family
    assert(ValueIndex.rangeEids(spark, "vidx_ty_s", "s:name", "vstr",
      Triples.VStr, MRange(lo = Some("0050"))).isDefined)
    assert(ValueIndex.rangeEids(spark, "vidx_ty_n", "n:v", "vlong",
      Triples.VLong, MRange(lo = Some(45L))).isDefined)
  }

  test("valueIndex: range probes serve only PRISTINE generations — an " +
      "un-compacted upsert twin never asserts stale membership, and " +
      "compact restores the probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxpr").toString
    val rows = (0 until 200).map(i => (f"e$i%03d", i.toLong))
    val plain = numStore(rows)
    plain.buildValueIndex("vidx_prs", s"$dir/v", Seq("n:v"), nBuckets = 8)
    val below10 = MRange(hi = Some(10L), hiStrict = true)
    assert(ValueIndex.rangeEids(spark, "vidx_prs", "n:v", "vlong",
      Triples.VLong, below10).isDefined) // fresh build probes
    // UPSERT: e000 moves 0 → 500; append leaves the stale twin beside
    // the new row, so a probe would still see e000 matching `< 10` by
    // its dead value — wrong MEMBERSHIP, not just ordering
    ValueIndex.append(numStore(Seq(("e000", 500L)), tx = 1L), "vidx_prs")
    assert(ValueIndex.rangeEids(spark, "vidx_prs", "n:v", "vlong",
      Triples.VLong, below10).isEmpty) // appended → decline
    // the match surface stays exact through the fallback: the store
    // truth has e000 at 500, outside the range
    val truth = numStore(rows.filterNot(_._1 == "e000") :+ ("e000", 500L))
    val probing = truth.withValueIndex("vidx_prs")
    assert(probing.matchEntities(Seq("n:v" -> below10))
      .as[String].collect().toSet ===
      (1 until 10).map(i => f"e$i%03d").toSet)
    // compact reconciles (latest txId per (a, e)) → pristine again,
    // and the probe now sees only the live value
    ValueIndex.compact(spark, "vidx_prs", s"$dir/v2", nBuckets = 8)
    val after = ValueIndex.rangeEids(spark, "vidx_prs", "n:v", "vlong",
      Triples.VLong, below10)
    assert(after.isDefined)
    assert(after.get.as[String].collect().toSet ===
      (1 until 10).map(i => f"e$i%03d").toSet)
  }

  test("MRange over tripl:type on a fused TableSource store is decided " +
      "driver-side, never silently dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ftyr").toString
    spark.range(0, 100).selectExpr("id AS doc_id", "id % 7 AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    val sp = graft.sources.RowIngest.specFor(df, "ftyr", Seq("doc_id"),
      Nil, None)
    val ts = new TripleStore(spark,
      graft.sources.RowIngest.tableToTriples(df, sp), sp.attrSchemas,
      preResolved = true,
      source = Some(graft.model.UnionTripleSource(
        Seq(graft.sources.RowIngest.TableSource(df, sp)))))
    def count(r: MRange): Long = ts.pullMany(
      Seq(Triples.TypeAttr -> r), Seq(PAttr("ftyr:doc_id"))).count()
    // "ftyr" > "z" is false: the range must EXCLUDE the whole table —
    // the r16 fused path dropped the conjunct and returned every row
    assert(count(MRange(lo = Some("z"), loStrict = true)) === 0L)
    assert(count(MRange(hi = Some("z"))) === 100L)
    assert(count(MRange(lo = Some("ftyr"))) === 100L)   // inclusive
    assert(count(MRange(lo = Some("ftyr"), loStrict = true)) === 0L)
    // a NON-STRING bound needs the fallback's ANSI cast semantics
    // ("ftyr" cast to bigint fails LOUD): the fused path must punt to
    // the union path, which raises the same CAST_INVALID_INPUT the
    // un-fused store would — never a silently-dropped conjunct
    val err = intercept[Exception] { count(MRange(lo = Some(450L))) }
    assert(err.getMessage.contains("CAST_INVALID_INPUT"),
      s"expected the ANSI cast error, got: ${err.getMessage}")
    // supplementary-plane ordering: Spark compares strings by UTF-8
    // BYTES, Scala String </> by UTF-16 code units — they disagree on
    // U+FFFF vs U+10000 (UTF-16: 0xFFFF > 0xD800-surrogate; UTF-8:
    // EF BF BF < F0 90 80 80). A table named "t\u{10000}" must be
    // EXCLUDED by hi = "t￿" (UTF-8 order, what the un-fused
    // fallback computes), even though UTF-16 order would include it.
    val supp = "t" + new String(Character.toChars(0x10000))
    val sp2 = graft.sources.RowIngest.specFor(df, supp, Seq("doc_id"),
      Nil, None)
    val ts2 = new TripleStore(spark,
      graft.sources.RowIngest.tableToTriples(df, sp2), sp2.attrSchemas,
      preResolved = true,
      source = Some(graft.model.UnionTripleSource(
        Seq(graft.sources.RowIngest.TableSource(df, sp2)))))
    def count2(r: MRange): Long = ts2.pullMany(
      Seq(Triples.TypeAttr -> r), Seq(PAttr(s"$supp:doc_id"))).count()
    assert(count2(MRange(hi = Some("t￿"))) === 0L,
      "fused path must use UTF-8 byte order, not UTF-16 code units")
    assert(count2(MRange(lo = Some("t￿"), loStrict = true)) === 100L)
  }

  test("pullMany: single-clause range match + sort + limit fuses to one " +
      "index probe — equals the un-indexed plan in both directions, " +
      "including a range holding fewer than k facts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rtk").toString
    val rows = (0 until 300).map(i => (f"e$i%03d", (i % 170).toLong))
    val plain = numStore(rows)
    val ts = plain.buildValueIndex("vidx_rtk", s"$dir/v", Seq("n:v"),
      nBuckets = 8)
    def vals(s: TripleStore, r: MRange, desc: Boolean, k: Int) =
      s.pullMany(Seq("n:v" -> r), Seq(PAttr("n:v")),
          sortBy = Some("v"), desc = desc, limit = Some(k))
        .select($"v").as[Long].collect().toList
    for (r <- Seq(MRange(lo = Some(100L)),
        MRange(lo = Some(40L), hi = Some(60L), hiStrict = true),
        MRange(hi = Some(5L)),          // short answer regions
        MRange(lo = Some(168L)));       // fewer than k in range
        desc <- Seq(true, false); k <- Seq(7, 25)) {
      // boundary ties pick interchangeable eids; the VALUE list is
      // deterministic — compare that
      assert(vals(ts, r, desc, k) === vals(plain, r, desc, k),
        s"range $r desc=$desc k=$k")
    }
    // the fused probe partition-prunes on bkt for a tight range
    val probe = ValueIndex.rangeTopKEids(spark, "vidx_rtk", "n:v",
      "vlong", Triples.VLong, MRange(lo = Some(160L)), 5, desc = true)
    assert(probe.isDefined)
    val plan = probe.get.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bkt"),
      s"expected a bkt-partition-pruned scan:\n$plan")
  }

  test("valueIndex: POINT lookups (MEq/MIn) through the zone map — " +
      "numeric and string (shared 6-byte prefixes), missing values, " +
      "family mismatch and append both decline to the exact fallback") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxpt").toString
    val rows = (0 until 300).map(i => (f"e$i%03d", (i % 170).toLong))
    val plain = numStore(rows)
    val ts = plain.buildValueIndex("vidx_pt", s"$dir/v", Seq("n:v"),
      nBuckets = 8)
    def ids(s: TripleStore, m: MVal) =
      s.matchEntities(Seq("n:v" -> m)).as[String].collect().toSet
    for (m <- Seq(MEq(5L): MVal, MIn(Seq(5L, 169L)), MIn(Seq(9999L)),
        MIn(Seq(0L, 9999L))))
      assert(ids(ts, m) === ids(plain, m), s"point $m")
    assert(ids(ts, MIn(Seq(5L, 169L))) ===
      rows.filter(r => r._2 == 5L || r._2 == 169L).map(_._1).toSet)
    // the probe's scan partition-prunes on bkt
    val probe = ValueIndex.inEids(spark, "vidx_pt", "n:v", "vlong",
      Triples.VLong, Seq(5L))
    assert(probe.isDefined)
    val plan = probe.get.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bkt"),
      s"expected a bkt-partition-pruned scan:\n$plan")
    // STRING points: values sharing a 6-byte prefix shadow the same —
    // the bucket keeps them all, the native IN keeps only the asked-for
    val srows = (0 until 60).map(i => (f"s$i%03d", f"prefix_$i%03d"))
    val plainS = strStore(srows)
    val tsS = plainS.buildValueIndex("vidx_pts", s"$dir/s", Seq("s:name"),
      nBuckets = 4)
    def idsS(s: TripleStore, m: MVal) =
      s.matchEntities(Seq("s:name" -> m)).as[String].collect().toSet
    assert(idsS(tsS, MEq("prefix_030")) === Set("s030"))
    assert(idsS(tsS, MIn(Seq("prefix_001", "prefix_059", "nope"))) ===
      Set("s001", "s059"))
    // family mismatch declines (string point on the numeric index)
    assert(ValueIndex.inEids(spark, "vidx_pt", "n:v", "vlong",
      Triples.VLong, Seq("5")).isEmpty)
    // append ends pristineness: the probe declines, the match surface
    // stays exact through the fallback (e000 upserts 0 → 500)
    ValueIndex.append(numStore(Seq(("e000", 500L)), tx = 1L), "vidx_pt")
    assert(ValueIndex.inEids(spark, "vidx_pt", "n:v", "vlong",
      Triples.VLong, Seq(0L)).isEmpty)
    val truth = numStore(rows.filterNot(_._1 == "e000") :+ ("e000", 500L))
    assert(truth.withValueIndex("vidx_pt")
      .matchEntities(Seq("n:v" -> MEq(0L))).as[String].collect().toSet ===
      Set("e170")) // 170 % 170 == 0; e000's live value is 500
  }

  test("valueIndex: INDEX-DRIVEN conjunctive match — a selective " +
      "probe drives, the residual scan semi-joins its eids; " +
      "unselective and mixed patterns fall back with equal answers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxcj").toString
    val rows = (0 until 400).map(i => (f"e$i%03d", i.toLong))
    val plain = numStore(rows)
    val ts = plain.buildValueIndex("vidx_cj", s"$dir/v", Seq("n:v"),
      nBuckets = 8)
    def ids(s: TripleStore, pat: Seq[(String, MVal)]) =
      s.matchEntities(pat).as[String].collect().toSet
    // selective range (top ~5%) + equality on the un-indexed tag:
    // the driven path must agree with the scan compilation exactly
    val driven = Seq("n:v" -> (MRange(lo = Some(380L)): MVal),
      "n:tag" -> (MEq("t"): MVal))
    assert(ids(ts, driven) === ids(plain, driven))
    assert(ids(ts, driven) === (380 until 400).map(i => f"e$i%03d").toSet)
    // the driven plan contains the probe's bkt partition pruning AND a
    // semi-join; the pure collapse plan has neither
    val plan = ts.matchEntities(driven).queryExecution.executedPlan.toString
    assert(plan.contains("bkt") && plan.contains("LeftSemi"),
      s"expected a probe-driven semi-join plan:\n$plan")
    val scanPlan = plain.matchEntities(driven)
      .queryExecution.executedPlan.toString
    assert(!scanPlan.contains("LeftSemi"),
      s"un-indexed collapse must not semi-join:\n$scanPlan")
    // three clauses: selective point + range residue + presence
    val tri = Seq("n:v" -> (MEq(42L): MVal),
      "n:tag" -> (MAny: MVal), "n:v" -> (MRange(hi = Some(100L)): MVal))
    assert(ids(ts, tri) === ids(plain, tri))
    assert(ids(ts, tri) === Set("e042"))
    // UNSELECTIVE probe (matches ~95%): the gate declines to drive and
    // the collapse path answers — same result either way
    val wide = Seq("n:v" -> (MRange(lo = Some(20L)): MVal),
      "n:tag" -> (MEq("t"): MVal))
    assert(ids(ts, wide) === ids(plain, wide))
    // a contradiction prunes every bucket: empty, fast, and equal
    val none = Seq("n:v" -> (MRange(lo = Some(9999L)): MVal),
      "n:tag" -> (MEq("t"): MVal))
    assert(ids(ts, none) === Set.empty[String])
  }

  test("valueIndex: build rejects card-many and non-orderable attrs; " +
      "unstamped manifests fail fast with a rebuild message") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidx4").toString
    // bool: no shadow ordering worth indexing — rejected at build
    val bools = Seq(("e1", true)).toDF("e", "vbool")
      .withColumn("a", lit("b:flag"))
      .withColumn("vtype", lit(Triples.VBool))
      .withColumn("vstr", lit(null).cast("string"))
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vref", lit(null).cast("string"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(0L))
      .select(Triples.columns.map(col): _*)
    val boolStore = new TripleStore(spark, bools, Map("b:flag" ->
      AttrSchema("b:flag", cardOne = true, isRef = false, Triples.VBool)))
    intercept[IllegalArgumentException] {
      boolStore.buildValueIndex("vidx_bad", s"$dir/bad", Seq("b:flag"))
    }
    val many = tinyStore(Seq(("e1", "m:x", "a", 0L)))
    intercept[IllegalArgumentException] {
      many.buildValueIndex("vidx_bad2", s"$dir/bad2", Seq("m:x"))
    }
    // a pre-v1 manifest (no fmt column) must error loudly, not read as
    // empty (the lshv2 lesson)
    Seq(("n:v", 0, 0.0, 1.0, 5L)).toDF("a", "bkt", "minv", "maxv", "cnt")
      .write.mode("overwrite").option("path", s"$dir/old_manifest")
      .format("parquet").saveAsTable("vidx_old_manifest")
    val err = intercept[IllegalArgumentException] {
      ValueIndex.topKEids(spark, "vidx_old", "n:v", "vlong",
        Some(Seq("e1").toDF("e")), 1)
    }
    assert(err.getMessage.contains("rebuild"))
    // a v1 manifest (fmt column present, older stamp) must ALSO error
    // loudly for an indexed attr — not silently decline to the fallback
    Seq((0.0, 1.0, 5L, 1, "n:v", 0))
      .toDF("minv", "maxv", "cnt", "fmt", "a", "bkt")
      .write.mode("overwrite").option("path", s"$dir/v1_manifest")
      .format("parquet").saveAsTable("vidx_v1_manifest")
    val err2 = intercept[IllegalArgumentException] {
      ValueIndex.topKEids(spark, "vidx_v1", "n:v", "vlong",
        Some(Seq("e1").toDF("e")), 1)
    }
    assert(err2.getMessage.contains("rebuild"))
    // a VIEW-registered layout whose manifest has no fmt column: the
    // pinned-schema read renders the column as null, and the null-safe
    // fmt gates must refuse it exactly as the column check did
    numStore(Seq(("e1", 1L), ("e2", 2L)))
      .buildValueIndex("vidx_nofmt", s"$dir/nofmt", Seq("n:v"), nBuckets = 2)
    forgeManifest(s"$dir/nofmt_manifest")(_.drop("fmt"))
    val err3 = intercept[IllegalArgumentException] {
      ValueIndex.topKEids(spark, "vidx_nofmt", "n:v", "vlong",
        Some(Seq("e1").toDF("e")), 1)
    }
    assert(err3.getMessage.contains("rebuild"))
    assertEveryManifestReaderRefuses("vidx_nofmt", s"$dir/nofmt2")
    // txId bookkeeping needs only a v4+ stamp, which an unstamped row
    // lacks
    val err4 = intercept[IllegalArgumentException] {
      ValueIndex.maxTx(spark, "vidx_nofmt")
    }
    assert(err4.getMessage.contains("rebuild"))
  }

  /** Rewrite the manifest at `manPath` through `f` — forges a legacy
    * manifest shape under an otherwise intact layout. */
  private def forgeManifest(manPath: String)(
      f: DataFrame => DataFrame): Unit = {
    val forged = f(spark.read.parquet(manPath))
    val rows = forged.collect().toSeq
    val schema = forged.schema
    def purge(x: java.io.File): Unit = {
      if (x.isDirectory) x.listFiles.foreach(purge)
      x.delete(): Unit
    }
    purge(new java.io.File(manPath))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.parquet(manPath)
  }

  /** Every current-format manifest reader — probes, health report,
    * receipt, append, the valve and compact — must refuse the
    * legacy manifest behind `table` with the rebuild message. */
  private def assertEveryManifestReaderRefuses(table: String,
      spare: String): Unit = {
    val readers: Seq[(String, () => Any)] = Seq(
      "rangeEids" -> (() => ValueIndex.rangeEids(spark, table, "n:v",
        "vlong", Triples.VLong, MRange(lo = Some(0L)))),
      "stats" -> (() => ValueIndex.stats(spark, table)),
      "factCounts" -> (() => ValueIndex.factCounts(spark, table)),
      "append" -> (() => ValueIndex.append(
        numStore(Seq(("z1", 7L))), table)),
      "compactIfFragmented" -> (() => ValueIndex.compactIfFragmented(
        spark, table, spare, maxFrag = 1.0)),
      "compact" -> (() => ValueIndex.compact(spark, table, spare)))
    for ((name, read) <- readers) {
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains("rebuild"), s"$name: ${e.getMessage}")
    }
  }

  test("valueIndex: STRING attrs probe through the byte-prefix shadow — " +
      "desc/asc == fallback, shadow-tied common prefixes stay exact, " +
      "appends bucket by harvested cuts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxs").toString
    // distinct-prefix names across the range, PLUS a block sharing its
    // first 6 bytes ("zzzzzz…" — every shadow identical, one bucket
    // holds the whole block: bucket selectivity degrades, exactness
    // must not), plus the empty string (shadow 0, asc-first)
    val rows = (0 until 120).map(i => (f"e$i%03d", f"name_${(i * 7) % 120}%03d")) ++
      (120 until 160).map(i => (f"e$i%03d", f"zzzzzz_tail_$i%03d")) :+
      (("e160", ""))
    val plain = strStore(rows)
    val ts = plain.buildValueIndex("vidx_s1", s"$dir/s1", Seq("s:name"),
      nBuckets = 8)
    // non-universe match (s:tag is not the sort attr): desc exercises
    // the widening semi-join probe, asc the counting universe proof
    def top(s: TripleStore, k: Int, d: Boolean) =
      s.pullMany(Seq("s:tag" -> MAny), Seq(PAttr("s:name")),
          sortBy = Some("name"), desc = d, limit = Some(k))
        .select($"name").as[String].collect().toList.sorted
    for (k <- Seq(10, 50); d <- Seq(true, false))
      assert(top(ts, k, d) === top(plain, k, d), s"k=$k desc=$d")
    // universe form, both directions, through the single-clause match
    def topU(s: TripleStore, k: Int, d: Boolean) =
      s.pullMany(Seq("s:name" -> MAny), Seq(PAttr("s:name")),
          sortBy = Some("name"), desc = d, limit = Some(k))
        .select($"name").as[String].collect().toList.sorted
    for (k <- Seq(5, 45); d <- Seq(true, false))
      assert(topU(ts, k, d) === topU(plain, k, d), s"universe k=$k desc=$d")
    // the probe itself partition-prunes on bkt and never semi-joins in
    // universe form
    val probe = ValueIndex.topKEids(spark, "vidx_s1", "s:name", "vstr",
      None, 10)
    assert(probe.isDefined)
    val plan = probe.get.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bkt"),
      s"expected a bkt-partition-pruned scan:\n$plan")
    assert(!plan.contains("Join"), "universe probe must not semi-join")
    // append a drifted batch (values past every build-time string) —
    // harvested shadow cuts bucket it, probe over the union == fallback
    val drift = (200 until 260).map(i => (f"d$i%03d", f"zzzzzz_zz_$i%03d"))
    ValueIndex.append(strStore(drift, tx = 1L), "vidx_s1")
    val union = strStore(rows ++ drift)
    val tsU = union.withValueIndex("vidx_s1")
    for (k <- Seq(10, 70); d <- Seq(true, false))
      assert(top(tsU, k, d) === top(union, k, d), s"post-append k=$k desc=$d")
  }

  test("valueIndex: asc NON-universe serves via the counting universe " +
      "proof; equal-size disjoint sets and attr-missing ents fall back") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxp").toString
    val rows = (0 until 200).map(i => (f"e$i%03d", i.toLong))
    val plain = numStore(rows)
    val ts = plain.buildValueIndex("vidx_p1", s"$dir/p1", Seq("n:v"),
      nBuckets = 8)
    // (n:tag, any) matches every entity — exactly n:v's fact universe,
    // but NOT syntactically (pattern attr != sort attr): only the
    // counting proof can serve the ascending form
    def bot(s: TripleStore) = s.pullMany(Seq("n:tag" -> MAny),
        Seq(PAttr("n:v")), sortBy = Some("v"), desc = false,
        limit = Some(12))
      .select($"v").as[Option[Long]].collect().toList
      .sortBy(_.getOrElse(Long.MinValue))
    assert(bot(ts) === bot(plain))
    val ents = plain.resolved.select($"e").distinct()
    assert(ValueIndex.provesUniverse(spark, "vidx_p1", "n:v", ents))
    // the DISJOINT same-size set a bare count comparison would accept —
    // the soundness counterexample; the containment half must reject it
    val fake = (0 until 200).map(i => f"x$i%03d").toDF("e")
    assert(!ValueIndex.provesUniverse(spark, "vidx_p1", "n:v", fake))
    // a strict subset (sizes differ) must reject too
    assert(!ValueIndex.provesUniverse(spark, "vidx_p1", "n:v",
      ents.limit(199)))
    // an unindexed attr never proves
    assert(!ValueIndex.provesUniverse(spark, "vidx_p1", "n:tag", ents))
    // a match SUPERSET of the universe (x1 carries only the tag): the
    // proof fails and the fallback owns asc's nulls-FIRST ranking of
    // the attr-missing entity — x1's null v must lead the bottom-k
    val merged = plain.merge(tinyStore(Seq(("x1", "n:tag", "t", 0L))))
    val m2 = merged.withValueIndex("vidx_p1")
    assert(bot(m2) === bot(merged))
    assert(bot(m2).head === None)
    // an UNRECONCILED UPSERT in the index (e000 re-asserted at a later
    // txId — two index rows for one entity): the matched-rows==ents
    // condition must reject, or the probe could rank by the stale row
    // / emit the eid twice. Counts alone would pass (200 ents, but 201
    // rows with every ent matched is caught by nRows == nEnts).
    ValueIndex.append(numStore(Seq(("e000", 9999L)), tx = 1L), "vidx_p1")
    assert(!ValueIndex.provesUniverse(spark, "vidx_p1", "n:v", ents))
    // the asc pull falls back and stays correct against the plain store
    assert(bot(plain.withValueIndex("vidx_p1")) === bot(plain))
  }

  test("valueIndex: paths containing quote characters register through " +
      "escaped DDL (string-literal and identifier positions); glob " +
      "metacharacters are rejected loudly") {
    // quote + backtick: the backtick exercises identifier doubling; the
    // quote proves the location property bypasses DDL string-literal
    // escaping entirely (catalog API). Glob metacharacters cannot be
    // made literal in a direct-file-query view at all — the require
    // must fire, not a silent wrong-files registration.
    val base = java.nio.file.Files.createTempDirectory("graft_vidxq")
    intercept[IllegalArgumentException] {
      ValueIndex.register(spark, "vidx_glob",
        base.resolve("back\\slash/v").toString)
    }
    val dir = base.resolve("o'brien`x").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val plain = numStore((0 until 50).map(i => (f"e$i%02d", i.toLong)))
    val ts = plain.buildValueIndex("vidx_q1", s"$dir/v", Seq("n:v"),
      nBuckets = 4)
    def topVals(s: TripleStore) = s.pullMany(Seq("n:v" -> MAny),
        Seq(PAttr("n:v")), sortBy = Some("v"), desc = true, limit = Some(5))
      .select($"v").as[Long].collect().toList.sorted
    assert(topVals(ts) === (45L to 49L).toList)
    // the property round-trips through the hex encoding — v5 stamps it
    // INSIDE the CREATE OR REPLACE VIEW statement (one atomic catalog
    // mutation; hex survives every string-literal escaping mode)
    assert(ValueIndex.decodePathHex(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("vidx_q1"))
      .properties(ValueIndex.PathPropHex)) === s"$dir/v")
  }

  test("valueIndex: compact's catalog swap is atomic — a hammering " +
      "concurrent reader never sees a missing table and always reads a " +
      "full generation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxa").toString
    val plain = numStore((0 until 300).map(i => (f"e$i%03d", i.toLong)))
    plain.buildValueIndex("vidx_at", s"$dir/g0", Seq("n:v"), nBuckets = 8)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val badCounts = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var done = false
    val reader = new Thread(() => {
      while (!done) {
        try {
          // resolve-by-name + full read of whichever generation the
          // catalog serves: under the old DROP→CREATE swap this threw
          // "table not found" in the window; the view replacement must
          // never (and every generation holds exactly the 300 facts)
          val n = spark.table("vidx_at").where($"a" === "n:v").count()
          if (n != 300L) badCounts.incrementAndGet()
        } catch { case t: Throwable => errors.add(t) }
      }
    })
    // the PROPERTY hammer: probes resolve data+manifest from the hex
    // location property, which v5 stamps IN the view-replacement DDL —
    // there must be NO window where the view exists without it (the v4
    // replace→alter pair had one: a probe falling back to per-name
    // views could pair new data with the old manifest), and the
    // generation it names must be internally consistent (manifest cnt
    // total == data rows at that path — a mismatched pairing would
    // silently mis-prune top-k scans)
    val propReader = new Thread(() => {
      while (!done) {
        try {
          val m = spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier("vidx_at"))
          val p = m.properties.get(ValueIndex.PathPropHex)
            .map(ValueIndex.decodePathHex)
          if (p.isEmpty) badCounts.incrementAndGet()
          else {
            val cnt = spark.read.parquet(p.get + "_manifest")
              .agg(sum($"cnt")).head.getLong(0)
            val rows = spark.read.parquet(p.get).count()
            if (cnt != rows || rows != 300L) badCounts.incrementAndGet()
          }
        } catch { case t: Throwable => errors.add(t) }
      }
    })
    reader.start(); propReader.start()
    try {
      for (g <- 1 to 4)
        ValueIndex.compact(spark, "vidx_at", s"$dir/g$g", nBuckets = 8)
    } finally { done = true; reader.join(); propReader.join() }
    assert(errors.isEmpty,
      s"reader saw ${errors.size} errors, first: ${errors.peek()}")
    assert(badCounts.get() === 0)
    // the final generation still probes correctly
    val ts = plain.withValueIndex("vidx_at")
    def topVals(s: TripleStore) = s.pullMany(Seq("n:v" -> MAny),
        Seq(PAttr("n:v")), sortBy = Some("v"), desc = true,
        limit = Some(9))
      .select($"v").as[Long].collect().toList.sorted
    assert(topVals(ts) === (291L to 299L).toList)
  }

  /** Store of NTZ TIMESTAMP card-one facts `t:at` plus tag `t:tag`,
    * for the ValueIndex timestamp suite. */
  def tsStore(rows: Seq[(String, String)], tx: Long = 0L): TripleStore = {
    val triples = rows.toDF("e", "s")
      .withColumn("vts", $"s".cast("timestamp_ntz")).drop("s")
      .withColumn("a", lit("t:at"))
      .withColumn("vtype", lit(Triples.VTs))
      .withColumn("vstr", lit(null).cast("string"))
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vref", lit(null).cast("string"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(tx))
      .select(Triples.columns.map(col): _*)
    val tags = rows.map(_._1).toDF("e")
      .withColumn("a", lit("t:tag")).withColumn("vtype", lit(Triples.VStr))
      .withColumn("vstr", lit("t")).withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vbool", lit(null).cast("boolean"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .withColumn("vref", lit(null).cast("string"))
      .withColumn("vbin", lit(null).cast("binary"))
      .withColumn("txId", lit(tx))
      .select(Triples.columns.map(col): _*)
    new TripleStore(spark, triples.unionByName(tags), Map(
      "t:at" -> AttrSchema("t:at", cardOne = true, isRef = false,
        Triples.VTs),
      "t:tag" -> AttrSchema("t:tag", cardOne = true, isRef = false,
        Triples.VStr)))
  }

  test("valueIndex: TIMESTAMP attrs probe through the decimal " +
      "field-micros shadow — desc/asc == fallback across DST-window, " +
      "pre-epoch, fractional and far-range values, in any session TZ") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxts").toString
    // hostile values: local datetimes inside a US DST transition window
    // (where an instant-based route through the session TZ would fold),
    // pre-epoch, sub-second fractions, and both calendar extremes
    // (year 1 / year 9999 — past 2^53 µs, where only the decimal-exact
    // single-rounding shadow stays provably monotone)
    val hostile = Seq(
      "2024-03-10 01:59:59.999999", "2024-03-10 02:30:00.5",
      "2024-03-10 03:00:00", "2024-11-03 01:30:00",
      "1969-12-31 23:59:59.25", "1969-12-31 23:59:59.75",
      "0001-01-02 00:00:00", "9999-12-31 23:59:59.999999")
    val spread = (0 until 120).map(i => f"2020-01-01 ${i % 24}%02d:${i % 60}%02d:00")
    val rows = (hostile ++ spread).zipWithIndex
      .map { case (s, i) => (f"e$i%03d", s) }
    val plain = tsStore(rows)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      // a DST-observing session TZ: the shadow must not care (field
      // reads on NTZ are TZ-free; the cast route Spark forbids anyway)
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val ts = plain.buildValueIndex("vidx_ts1", s"$dir/v", Seq("t:at"),
        nBuckets = 8)
      def vals(s: TripleStore, desc: Boolean, k: Int) =
        s.pullMany(Seq("t:tag" -> MAny), Seq(PAttr("t:at"), PWild),
            sortBy = Some("at"), desc = desc, limit = Some(k))
          .select($"at").collect().map(_.get(0).toString).toList.sorted
      assert(vals(ts, desc = true, 10) === vals(plain, desc = true, 10))
      assert(vals(ts, desc = true, 40) === vals(plain, desc = true, 40))
      // asc universe form (single-clause match on the sort attr)
      def bot(s: TripleStore, k: Int) =
        s.pullMany(Seq("t:at" -> MAny), Seq(PAttr("t:at"), PWild),
            sortBy = Some("at"), desc = false, limit = Some(k))
          .select($"at").collect().map(_.get(0).toString).toList.sorted
      assert(bot(ts, 10) === bot(plain, 10))
      // probe partition-prunes on bkt like every other value type
      val probe = ValueIndex.topKEids(spark, "vidx_ts1", "t:at", "vts",
        Some(plain.resolved.select($"e").distinct()), 5)
      assert(probe.isDefined)
      val plan = probe.get.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("bkt"),
        s"expected a bkt-partition-pruned scan:\n$plan")
      // append buckets by harvested cuts; probe over the union stays
      // exact (fresh entities, later values — the ingest norm)
      val drift = (0 until 20).map(i =>
        (f"x$i%02d", f"2030-01-${i + 1}%02d 12:00:00"))
      ValueIndex.append(tsStore(drift, tx = 1L), "vidx_ts1")
      val union = plain.merge(tsStore(drift, tx = 1L))
      val tsU = union.withValueIndex("vidx_ts1")
      assert(vals(tsU, desc = true, 15) ===
        vals(union, desc = true, 15))
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("valueIndex: register refuses a plain-TABLE name (no silent " +
      "drop); migrate converts the legacy catalog shape to atomic views") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxm").toString
    val p = s"$dir/leg"
    Seq(("e1", 1L)).toDF("e", "vlong").write.parquet(p)
    Seq((0.0, 1.0, 1L)).toDF("minv", "maxv", "cnt")
      .write.parquet(p + "_manifest")
    spark.sql(s"CREATE TABLE vidx_leg USING parquet LOCATION '$p'")
    spark.sql(
      s"CREATE TABLE vidx_leg_manifest USING parquet LOCATION '${p}_manifest'")
    // register must fail LOUD, not drop the table as a side effect
    val e = intercept[RuntimeException] {
      ValueIndex.register(spark, "vidx_leg", p)
    }
    assert(e.getMessage.contains("vidxmigrate"))
    assert(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("vidx_leg"))
      .tableType !==
      org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW)
    // the explicit maintenance verb converts both names
    ValueIndex.migrate(spark, "vidx_leg")
    for (t <- Seq("vidx_leg", "vidx_leg_manifest")) {
      val m = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t))
      assert(m.tableType ===
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW)
      assert(m.properties.contains(ValueIndex.PathPropHex))
    }
    assert(spark.table("vidx_leg").count() === 1L)
    assert(spark.table("vidx_leg_manifest").count() === 1L)
    // migrating an already-view registration is a loud no-op
    intercept[IllegalArgumentException] {
      ValueIndex.migrate(spark, "vidx_leg")
    }
  }

  test("valueIndex: the CLI receipt (factCounts) reads ONLY the " +
      "manifest — O(manifest), never a scan of the index data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxr").toString
    val rows = (0 until 100).map(i => (f"e$i%03d", i.toLong))
    numStore(rows).buildValueIndex("vidx_rc", s"$dir/v", Seq("n:v"),
      nBuckets = 4)
    // the receipt is a fold over the manifest snapshot: with the data
    // tree moved away it still answers, and the frame it returns scans
    // no file at all
    val data = new java.io.File(s"$dir/v")
    val moved = new java.io.File(s"$dir/v_moved")
    assert(data.renameTo(moved))
    val out = try {
      val rc = ValueIndex.factCounts(spark, "vidx_rc")
      val scans = rc.queryExecution.sparkPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
      assert(scans.isEmpty, s"receipt must scan no file, saw: $scans")
      rc.collect().map(r => (r.getString(1), r.getLong(2))).toMap
    } finally assert(moved.renameTo(data))
    assert(out === Map("n:v" -> 100L))
  }

  test("valueIndex: manifest questions fold one cached snapshot and " +
      "index reads pin their schema — no schema-inference job, no job " +
      "for a warm valve check, and a bounded job count per round") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxjobs").toString
    val base = (0 until 400).map(i => (f"e$i%03d", i.toLong))
    val batch = (0 until 40).map(i => (f"b$i%03d", i * 10L))
    numStore(base).buildValueIndex("vidx_jobs", s"$dir/g0", Seq("n:v"),
      nBuckets = 4)
    val sc = spark.sparkContext
    // jobs are attributed to this thread (and threads it spawns) by a
    // local property, so a stray job from elsewhere in the JVM is ignored
    val tag = "graft.test.vidxjobs"
    final case class Job(callSite: String, inSql: Boolean, desc: String)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Job]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = j.properties
        // the call site ("parquet at ValueIndex.scala:…") rides on a
        // property when the caller set one, else on the final stage
        if (p != null && p.getProperty(tag) != null)
          seen.add(Job(Option(p.getProperty("callSite.short")).getOrElse(
              j.stageInfos.maxBy(_.stageId).name),
            p.getProperty("spark.sql.execution.id") != null,
            String.valueOf(p.getProperty("spark.job.description"))))
      }
    }
    var fences = 0
    // the jobs `body` submits: the listener bus is async but FIFO, so
    // once a FENCE job run after `body` is visible, every job `body`
    // ran has been seen
    def jobsOf(body: => Unit): Seq[Job] = {
      seen.clear()
      body
      fences += 1
      val fence = s"fence-$fences"
      sc.setJobDescription(fence)
      try sc.parallelize(1 to 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis + 10000
      def all = seen.toArray(Array.empty[Job]).toSeq
      while (!all.exists(_.desc == fence) &&
          System.currentTimeMillis < deadline) Thread.sleep(20)
      assert(all.exists(_.desc == fence), "fence job never seen")
      all.takeWhile(_.desc != fence)
    }
    val values = (base ++ batch).map(_._2).sorted
    def probes(): Unit = {
      assert(ValueIndex.countRange(spark, "vidx_jobs", "n:v", "vlong",
        Triples.VLong, MRange(lo = Some(100L))) ===
        Some(values.count(_ >= 100L).toLong))
      assert(ValueIndex.rangeEids(spark, "vidx_jobs", "n:v", "vlong",
        Triples.VLong, MRange(Some(0L), Some(5L))).get.count() === 7L)
      assert(ValueIndex.percentileValue(spark, "vidx_jobs", "n:v", "vlong",
        0.5) === Some(values(values.size / 2 - 1)))
    }
    sc.setLocalProperty(tag, "1")
    sc.addSparkListener(listener)
    try {
      // one ingest round: append (4 touched buckets → frag 2.0), the
      // valve compacts, then the probes read the new generation
      val round = jobsOf {
        ValueIndex.append(numStore(batch), "vidx_jobs")
        assert(ValueIndex.compactIfFragmented(spark, "vidx_jobs",
          s"$dir/g1", maxFrag = 1.5, nBuckets = 4).isDefined)
        probes()
      }
      // a parquet schema inference runs outside any SQL execution from
      // the `spark.read...parquet` call site; writes run inside one
      val inference = round.filter(j =>
        j.callSite.startsWith("parquet at") && !j.inSql)
      assert(inference.isEmpty, s"schema-inference jobs: $inference")
      // the snapshot is warm after the probes: the valve's check is a
      // driver-side fold (and the tight index stays put)
      val valve = jobsOf {
        assert(ValueIndex.compactIfFragmented(spark, "vidx_jobs",
          s"$dir/g2", maxFrag = 1.5, nBuckets = 4).isEmpty)
      }
      assert(valve.isEmpty, s"warm valve check ran jobs: $valve")
      // 27 jobs on Spark 4 at local[4] with 4 shuffle partitions; the
      // slack absorbs an adaptive-execution stage job or two, not a
      // manifest aggregate per attr or an inferred index read
      val RoundJobBound = 32
      assert(round.size <= RoundJobBound,
        s"${round.size} jobs in one round:\n${round.mkString("\n")}")
      // a warm probe pass costs only data jobs: the snapshot answers
      // every manifest question
      val warm = jobsOf(probes())
      assert(!warm.exists(_.callSite.startsWith("parquet at")), s"$warm")
    } finally {
      sc.removeSparkListener(listener)
      sc.setLocalProperty(tag, null)
    }
  }

  test("valueIndex: the asc universe proof memoizes per store " +
      "instance — a second identical pull skips the proof job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidxmm").toString
    val rows = (0 until 300).map(i => (f"e$i%03d", i.toLong))
    val plain = numStore(rows)
    val ts = plain.buildValueIndex("vidx_memo", s"$dir/v", Seq("n:v"),
      nBuckets = 8)
    // job HIGH-WATER MARK via the status tracker, polled until the
    // async status bus drains (stops moving). The max job ID — not the
    // tracked-job count: job ids increase monotonically, while the UI
    // store EVICTS old jobs past spark.ui.retainedJobs, so in a long
    // suite the list length can shrink between observations and a
    // count delta goes negative
    def stableJobs(): Int = {
      def n() = spark.sparkContext.statusTracker
        .getJobIdsForGroup(null).maxOption.getOrElse(-1)
      var prev = -2; var cur = n(); var spins = 0
      while (cur != prev && spins < 60) {
        prev = cur; Thread.sleep(100); cur = n(); spins += 1
      }
      cur
    }
    // asc NON-universe (pattern attr != sort attr): the proof path
    def ascPull() = ts.pullMany(Seq("n:tag" -> MAny),
        Seq(PAttr("n:v"), PWild), sortBy = Some("v"), desc = false,
        limit = Some(10))
      .select($"v").as[Long].collect().toList.sorted
    val j0 = stableJobs()
    val r1 = ascPull(); val j1 = stableJobs()
    val r2 = ascPull(); val j2 = stableJobs()
    assert(r1 === (0L until 10L).toList)
    assert(r1 === r2)
    // identical pulls: any job-count difference IS the skipped proof
    assert(j2 - j1 < j1 - j0,
      s"second pull must skip the proof job (first=${j1 - j0} jobs, " +
        s"second=${j2 - j1})")
  }
}

object TripleStoreSpec {
  /** Calls of the counting UDF in the entity-frame pin spec. */
  val udfCalls = new java.util.concurrent.atomic.AtomicLong
}
