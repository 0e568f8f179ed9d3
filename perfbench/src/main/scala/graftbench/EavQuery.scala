package graftbench

import graft.{Entity, TripleStore}
import graft.model.Triples
import graft.query._
import graft.sources.{RowIngest, Tpch}
import java.nio.file.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

final case class RegionRow(r_regionkey: Int, r_name: String)
final case class NationRow(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class CustomerRow(c_custkey: Long, c_name: String, c_nationkey: Int,
    c_acctbal: Double, c_mktsegment: String)
final case class OrderRow(o_orderkey: Long, o_custkey: Long,
    o_orderstatus: String, o_totalprice: Double, o_orderpriority: String)
final case class LineRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
    l_discount: Double, l_returnflag: String, l_linestatus: String)
final case class AcctbalRow(c_custkey: Long, c_acctbal: Double)

/** A TPC-H-shaped star (region, nation, customer, orders, lineitem) with
  * the column names and types [[graft.sources.Tpch]] expects. At scale 1
  * the row counts are those of TPC-H sf0.01: 1500 customers, 15k orders,
  * ~60k lineitems. The data is fixed (its own seed); the workload seed
  * only picks op parameters and order. */
final case class TpchGen(scale: Double) {
  private val S = 42L
  val nCust: Long = math.max(50L, math.round(1500 * scale))
  val nOrd: Long = nCust * 10
  val Segs = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Prios = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def region(r: Int) = RegionRow(r, s"REGION_$r")
  def nation(n: Int) = NationRow(n, s"NATION_$n", n % 5)
  def customer(k: Long) = CustomerRow(k, f"Customer#$k%09d",
    Gen.below(S, 1, k, 25).toInt,
    (Gen.below(S, 2, k, 1100000) - 100000) / 100.0,
    Segs(Gen.below(S, 3, k, 5).toInt))
  def order(o: Long) = OrderRow(o, 1 + Gen.below(S, 10, o, nCust),
    "FOP".charAt(Gen.below(S, 11, o, 3).toInt).toString,
    Gen.below(S, 12, o, 50000000) / 100.0, Prios(Gen.below(S, 13, o, 5).toInt))
  def lines(o: Long): Seq[LineRow] = (1 to 1 + Gen.below(S, 20, o, 7).toInt).map { j =>
    val i = o * 8 + j
    LineRow(o, 1 + Gen.below(S, 21, i, 20000), 1 + Gen.below(S, 22, i, 1000), j,
      1 + Gen.below(S, 23, i, 50), Gen.below(S, 24, i, 10000000) / 100.0,
      Gen.below(S, 25, i, 11) / 100.0, "RAN".charAt(Gen.below(S, 26, i, 3).toInt).toString,
      "OF".charAt(Gen.below(S, 27, i, 2).toInt).toString)
  }
}

/** The paper's read and upsert surface over the star: attribute matches,
  * nested and reverse pulls, entity walks, datalog joins and aggregates, a
  * full-table pull, an upsert that pays cardinality-one resolution, and
  * the two shallow ref-graph fixpoints (customer → nation → region). */
object EavQuery extends Workload {
  val name = "eav_query"
  val opKinds = Seq("match_eq", "match_conj", "match_nested", "pull_rev",
    "pull_nested", "pull_topk", "entity_get", "datalog_join", "datalog_agg",
    "scan_agg", "upsert_pull", "reach_refs", "shortest_refs")
  val rounds = 1
  /** Distinct parameter sets per op type; rounds cycle through them. */
  val Pool = 8

  def setup(spark: SparkSession, dir: Path, seed: Long, scale: Double,
      tracer: () => Option[Tracer]): Instance = {
    import spark.implicits._
    val g = TpchGen(scale)
    val d = dir.toString
    def write[T](ds: org.apache.spark.sql.Dataset[T], t: String): Unit =
      ds.write.parquet(s"$d/$t.parquet")
    write((0 until 5).map(g.region).toDS(), "region")
    write((0 until 25).map(g.nation).toDS(), "nation")
    write(spark.range(1, g.nCust + 1, 1, 4).as[Long].map(k => g.customer(k)), "customer")
    write(spark.range(1, g.nOrd + 1, 1, 4).as[Long].map(o => g.order(o)), "orders")
    write(spark.range(1, g.nOrd + 1, 1, 4).as[Long].flatMap(o => g.lines(o)), "lineitem")

    // driver-side model of the same rows, for expected answers
    val custs = (1L to g.nCust).map(g.customer)
    val orders = (1L to g.nOrd).map(g.order)
    val ordersOf = orders.groupBy(_.o_custkey)
    val custByNation = custs.groupBy(_.c_nationkey).withDefaultValue(Seq.empty)
    // lineitem reduced to (flag, status, quantity) → (count, qty sum, max price)
    val lineStats = scala.collection.mutable.Map.empty[(String, String, Double), (Long, Double, Double)]
    (1L to g.nOrd).foreach(o => g.lines(o).foreach { l =>
      val k = (l.l_returnflag, l.l_linestatus, l.l_quantity)
      val (n, q, m) = lineStats.getOrElse(k, (0L, 0.0, Double.MinValue))
      lineStats(k) = (n + 1, q + l.l_quantity, math.max(m, l.l_extendedprice))
    })
    def cid(k: Long) = Answer.eid("customer", k)

    val stCust = Tpch.store(spark, d, "customer")
    val stCustNation = Tpch.store(spark, d, "customer", "nation")
    val stGeo = Tpch.store(spark, d, "customer", "nation", "region")
    val stCustOrders = Tpch.store(spark, d, "customer", "orders")
    val stLine = Tpch.store(spark, d, "lineitem")
    val acctSpec = RowIngest.specFor(Seq(AcctbalRow(0L, 0.0)).toDF(), "customer",
      Seq("c_custkey"), Nil, Some("c_"))

    def p(kind: String, i: Int, n: Long): Long = Gen.below(seed, kind.hashCode, i, n)
    def collect(df: org.apache.spark.sql.DataFrame, ph: Phases): Answer =
      ph.exec(Answer.ofRows(df.collect()))

    /** Op builders by kind: parameter index → (run, expected). */
    def op(kind: String, i: Int): (Phases => Answer, () => Answer) = kind match {
      case "match_eq" =>
        val n = p(kind, i, 25)
        (ph => collect(ph.compile(stCust.matchEntities(
          Seq("customer:nationkey" -> MEq(n)))), ph),
         () => Answer.of(custByNation(n.toInt).map(c => Seq(cid(c.c_custkey)))))
      case "match_conj" =>
        val n = p(kind, i, 25); val s = g.Segs(p(kind, i + Pool, 5).toInt)
        (ph => collect(ph.compile(stCust.matchEntities(Seq(
          "customer:mktsegment" -> MEq(s), "customer:nationkey" -> MEq(n)))), ph),
         () => Answer.of(custByNation(n.toInt).filter(_.c_mktsegment == s)
           .map(c => Seq(cid(c.c_custkey)))))
      case "match_nested" =>
        val r = p(kind, i, 5)
        (ph => collect(ph.compile(stGeo.matchEntities(Seq("customer:nation" ->
          MSub(Seq("nation:region" -> MSub(Seq("region:name" -> MEq(s"REGION_$r")))))))), ph),
         () => Answer.of(custs.filter(_.c_nationkey % 5 == r).map(c => Seq(cid(c.c_custkey)))))
      case "pull_rev" =>
        val k = g.order(1 + p(kind, i, g.nOrd)).o_custkey
        (ph => {
          val df = ph.compile(stCustOrders.pullMany(Seq("customer:custkey" -> MEq(k)),
            Seq(PAttr("customer:name"), PNest("orders:customer",
              Seq(PAttr("orders:orderkey"), PAttr("orders:totalprice")),
              reverse = true, as = Some("orders")))))
          ph.exec(Answer.of(df.collect().toSeq.flatMap(r =>
            r.getSeq[Row](r.fieldIndex("orders")).map(o =>
              Seq(r.getAs[String]("name"), o.getAs[Any]("orderkey"), o.getAs[Any]("totalprice"))))))
        },
         () => Answer.of(ordersOf(k).map(o =>
           Seq(g.customer(k).c_name, o.o_orderkey, o.o_totalprice))))
      case "pull_nested" =>
        val s = g.Segs(p(kind, i, 5).toInt)
        (ph => {
          val df = ph.compile(stCustOrders.pullMany(
            Seq("orders:customer" -> MSub(Seq("customer:mktsegment" -> MEq(s)))),
            Seq(PAttr("orders:orderkey"),
              PNest("orders:customer", Seq(PAttr("customer:name"))))))
          ph.exec(Answer.of(df.collect().toSeq.flatMap(r =>
            r.getSeq[Row](r.fieldIndex("customer")).map(c =>
              Seq(r.getAs[Any]("orderkey"), c.getAs[String]("name"))))))
        },
         () => Answer.of(orders.filter(o => g.customer(o.o_custkey).c_mktsegment == s)
           .map(o => Seq(o.o_orderkey, g.customer(o.o_custkey).c_name))))
      case "pull_topk" =>
        val k = 5 + p(kind, i, 16).toInt; val desc = p(kind, i + Pool, 2) == 1
        (ph => {
          val df = ph.compile(stCustNation.pullMany(Seq(Triples.TypeAttr -> MEq("customer")),
            Seq(PAttr("customer:custkey"), PAttr("customer:acctbal"),
              PNest("customer:nation", Seq(PAttr("nation:name")))),
            sortBy = Some("custkey"), desc = desc, limit = Some(k)))
          ph.exec(Answer.of(df.collect().toSeq.map(r => Seq(r.getAs[Any]("custkey"),
            r.getAs[Any]("acctbal"),
            r.getSeq[Row](r.fieldIndex("nation")).map(_.getAs[String]("name"))))))
        },
         () => {
           val ks = if (desc) (g.nCust to 1L by -1L) else (1L to g.nCust)
           Answer.of(ks.take(k).map(g.customer).map(c => Seq(c.c_custkey, c.c_acctbal,
             Seq(s"NATION_${c.c_nationkey}"))))
         })
      case "entity_get" =>
        val k = 1 + p(kind, i, g.nCust)
        (ph => ph.exec {
          val e = Entity.find(stGeo, Seq("customer:custkey" -> MEq(k))).get
          Answer.of(Seq(Seq(e.eid)) ++
            e.getIn(Seq("customer:nation", "nation:region", "region:name")).map(Seq(_)))
        },
         () => Answer.of(Seq(Seq(cid(k)), Seq(s"REGION_${g.customer(k).c_nationkey % 5}"))))
      case "datalog_join" =>
        val n = p(kind, i, 25)
        (ph => collect(ph.compile(stCustNation.datalog(find = Seq("?cname"),
          where = Seq(("?c", "customer:name", "?cname"), ("?c", "customer:nation", "?n"),
            ("?n", "nation:name", s"NATION_$n")))), ph),
         () => Answer.of(custByNation(n.toInt).map(c => Seq(c.c_name))))
      case "datalog_agg" =>
        val n = p(kind, i, 25)
        (ph => collect(ph.compile(stCustOrders.datalog(find = Seq("?ck"),
          where = Seq(("?o", "orders:customer", "?c"), ("?c", "customer:custkey", "?ck"),
            ("?c", "customer:nationkey", n), ("?o", "orders:totalprice", "?tp")),
          aggregates = Seq(DatalogAgg("count", "?o", "n_orders"),
            DatalogAgg("max", "?tp", "max_price")))), ph),
         () => Answer.of(custByNation(n.toInt).flatMap(c => ordersOf.get(c.c_custkey).map(os =>
           Seq[Any](c.c_custkey, os.size.toLong, os.map(_.o_totalprice).max)))))
      case "scan_agg" =>
        val t = 1 + p(kind, i, 25).toDouble
        (ph => collect(ph.compile(stLine.pullMany(Seq(Triples.TypeAttr -> MEq("lineitem")),
          Seq(PAttr("lineitem:returnflag"), PAttr("lineitem:linestatus"),
            PAttr("lineitem:quantity"), PAttr("lineitem:extendedprice")))
          .where(col("quantity") >= t)
          .groupBy(col("returnflag"), col("linestatus"))
          .agg(count(lit(1)), sum(col("quantity")), max(col("extendedprice")))), ph),
         () => Answer.of(lineStats.toSeq.filter(_._1._3 >= t)
           .groupBy { case ((f, s, _), _) => (f, s) }.toSeq.map { case ((f, s), xs) =>
             Seq(f, s, xs.map(_._2._1).sum, xs.map(_._2._2).sum, xs.map(_._2._3).max)
           }))
      case "upsert_pull" =>
        val n = p(kind, i, 25)
        val members = custByNation(n.toInt)
        val batch = (0 until (if (members.isEmpty) 0 else 20))
          .map(j => members(Gen.below(seed, 77, i * 64 + j, members.size).toInt))
          .distinct.map(c => AcctbalRow(c.c_custkey,
            (Gen.below(seed, 78, c.c_custkey, 1100000) - 100000) / 100.0))
        (ph => {
          val df = ph.compile {
            val bt = RowIngest.tableToTriples(batch.toDF(), acctSpec, txId = 1L,
              attrs = Some(Seq("customer:acctbal")))
            stCust.assertTriples(bt).pullMany(Seq("customer:nationkey" -> MEq(n)),
              Seq(PAttr("customer:custkey"), PAttr("customer:acctbal")))
              .select(col("custkey"), col("acctbal"))
          }
          collect(df, ph)
        },
         () => {
           val upd = batch.map(b => b.c_custkey -> b.c_acctbal).toMap
           Answer.of(members.map(c => Seq[Any](c.c_custkey, upd.getOrElse(c.c_custkey, c.c_acctbal))))
         })
      case "reach_refs" =>
        val n = p(kind, i, 25)
        val roots = custByNation(n.toInt).map(c => cid(c.c_custkey))
        (ph => {
          val rows = ph.exec(ph.compile(stGeo.reachable(roots.toDF("e"),
            Some(Seq("customer:nation", "nation:region")))).collect().toSeq)
          ph.fixpoint(rows.map(_.getAs[Int]("depth")).maxOption.getOrElse(0) + 1L, rows.size)
          Answer.of(rows.map(r => Seq(r.getAs[String]("e"), r.getAs[String]("root"),
            r.getAs[Int]("depth"))))
        },
         () => Answer.of(custByNation(n.toInt).flatMap { c =>
           val r = cid(c.c_custkey)
           Seq(Seq(r, r, 0), Seq(Answer.eid("nation", n), r, 1),
             Seq(Answer.eid("region", n % 5), r, 2))
         }))
      case "shortest_refs" =>
        val r = p(kind, i, 5)
        (ph => {
          val rows = ph.exec(ph.compile(graft.graph.RefGraph.shortestPaths(stGeo,
            Seq(Answer.eid("region", r)).toDF("e"), reverse = true)).collect().toSeq)
          ph.fixpoint(rows.map(_.getAs[Long]("dist")).maxOption.getOrElse(0L) + 1L, rows.size)
          Answer.of(rows.map(x => Seq(x.getAs[String]("e"), x.getAs[Long]("dist"))))
        },
         () => Answer.of(Seq(Seq(Answer.eid("region", r), 0L)) ++
           (0 until 25).filter(_ % 5 == r).flatMap(n => Seq(Answer.eid("nation", n), 1L) +:
             custByNation(n).map(c => Seq(cid(c.c_custkey), 2L)))))
    }

    val answers = (for (k <- opKinds; i <- 0 until Pool) yield {
      val (run, exp) = op(k, i)
      (k, i) -> (run, exp())
    }).toMap

    new Instance {
      def round(r: Int): Seq[Op] =
        Gen.shuffle(seed, 1000 + r, opKinds.size).map(opKinds).map { k =>
          val (run, exp) = answers((k, r % Pool))
          Op(k, run, () => exp)
        }
      val sizes = Map("customers" -> g.nCust, "orders" -> g.nOrd,
        "lineitems" -> lineStats.values.map(_._1).sum,
        "nations" -> 25L, "regions" -> 5L)
    }
  }
}
