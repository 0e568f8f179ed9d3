package graft.graph

import graft.TripleStore
import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GraphX projection of the store's implicit ref graph — the "triple
  * analytics" surface (SURVEY.md §1.5: graphs arise implicitly because a
  * value may be another entity's id, README.md:25-36).
  *
  * String entity ids are dictionary-encoded to Long VertexIds with
  * xxhash64 — computed LOCALLY on each executor (no broadcast dictionary,
  * no id-assignment shuffle; collision odds n²/2⁶⁴ ≈ 3e-11 even at a
  * billion entities). The reverse mapping (hash → eid) rides along as a
  * vertex-attribute DataFrame for joining analytics results back to
  * entities.
  */
object RefGraph {

  /** Vertex dictionary (vid, e) for all entities appearing in ref edges. */
  def vertexDict(ts: TripleStore): DataFrame =
    ts.edges.select(col("e")).union(ts.edges.select(col("vref").as("e")))
      .distinct()
      .select(xxhash64(col("e")).as("vid"), col("e"))

  /** Build the GraphX graph over ref edges (optionally only `attrs`). */
  def build(ts: TripleStore, attrs: Option[Seq[String]] = None): Graph[Unit, String] = {
    val es = attrs.map(as => ts.edges.where(col("a").isInCollection(as)))
      .getOrElse(ts.edges)
    val edgeRdd = es
      .select(xxhash64(col("e")).as("src"), xxhash64(col("vref")).as("dst"),
        col("a"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getString(2)))
    Graph.fromEdges(edgeRdd, (), StorageLevel.MEMORY_AND_DISK,
      StorageLevel.MEMORY_AND_DISK)
  }

  /** Connected components over the ref graph → (e, component) with the
    * component id remapped to the member entities' MIN eid-hash (stable,
    * content-derived — safe to compare across runs). */
  def connectedComponents(ts: TripleStore,
      attrs: Option[Seq[String]] = None): DataFrame = {
    val spark = ts.spark
    import spark.implicits._
    val cc = build(ts, attrs).connectedComponents()
    val compDf = cc.vertices.toDF("vid", "component")
    compDf.join(vertexDict(ts), Seq("vid")).select($"e", $"component")
  }

  /** PageRank over the ref graph → (e, rank). */
  def pageRank(ts: TripleStore, tol: Double = 1e-4,
      attrs: Option[Seq[String]] = None): DataFrame = {
    val spark = ts.spark
    import spark.implicits._
    val pr = build(ts, attrs).pageRank(tol)
    pr.vertices.toDF("vid", "rank")
      .join(vertexDict(ts), Seq("vid")).select($"e", $"rank")
  }

  /** Multi-source BFS shortest HOP DISTANCE over the ref graph: dist 0
    * at the `roots` (a DataFrame with an `e` column), dist d for
    * entities first reached at frontier step d — min over all roots by
    * construction (global visited set, unlike [[TripleStore.reachable]],
    * whose per-root state answers a different question). The
    * feature-graph primitive behind "hops from any seed entity".
    *
    * One [[Fixpoint.frontier]] keyed by `e` alone (see [[Fixpoint]] for
    * its pins and jobs per level); a frontier still alive at `maxIters`
    * THROWS (a silently truncated BFS would look like a valid distance
    * map). `reverse` walks edges backwards (value → referrer).
    * Output: (e, dist). */
  def shortestPaths(ts: TripleStore, roots: DataFrame,
      attrs: Option[Seq[String]] = None, reverse: Boolean = false,
      maxIters: Int = 20): DataFrame = {
    val es = attrs.map(as => ts.edges.where(col("a").isInCollection(as)))
      .getOrElse(ts.edges)
    val (src, dst) = if (reverse) ("vref", "e") else ("e", "vref")
    val levels = Fixpoint.frontier(roots.select(col("e")).distinct(), Seq("e"),
      es.select(col(src).as("_src"), col(dst).as("_dst")), maxIters)
    if (levels.alive) throw new IllegalStateException(
      s"shortestPaths frontier still alive after $maxIters iterations — " +
        "raise maxIters (deep graph) or check for unexpected edges")
    levels.frames.zipWithIndex
      .map { case (f, d) => f.select(col("e"), lit(d.toLong).as("dist")) }
      .reduce(_ unionByName _)
  }

  /** Fixed-iteration PageRank as pure DataFrame joins, with EXACTLY the
    * classic per-iteration update rank' = reset + (1-reset)·Σ_in rank/deg
    * (vertices with no in-edges hold at `reset`; dangling mass is
    * dropped, as in GraphX). Fully Catalyst-planned — each iteration is
    * one equi-join + one shuffle-on-dst aggregation, AQE-broadcastable —
    * and, unlike the tolerance-based GraphX variant, the iteration count
    * is static, so the result is reproducible in plain SQL (the q17
    * oracle unrolls the same iterations as chained CTEs). localCheckpoint
    * per iteration truncates lineage, same as the reachability fixpoint. */
  def pageRankStatic(ts: TripleStore, iters: Int = 4,
      resetProb: Double = 0.15,
      attrs: Option[Seq[String]] = None): DataFrame = {
    val spark = ts.spark
    import spark.implicits._
    val es0 = attrs.map(as => ts.edges.where(col("a").isInCollection(as)))
      .getOrElse(ts.edges)
    val es = es0.select($"e".as("src"), $"vref".as("dst"))
      .localCheckpoint(eager = false)
    val verts = es.select($"src".as("e")).union(es.select($"dst".as("e")))
      .distinct().localCheckpoint(eager = false)
    val outdeg = es.groupBy($"src").agg(count(lit(1)).as("_d"))
    var ranks = verts.select($"e", lit(1.0).as("rank"))
    for (_ <- 1 to iters) {
      val msgs = es
        .join(ranks.withColumnRenamed("e", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .groupBy($"dst").agg(sum($"rank" / $"_d").as("_s"))
        .withColumnRenamed("dst", "e")
      ranks = verts.join(msgs, Seq("e"), "left")
        .select($"e",
          (lit(resetProb) + lit(1 - resetProb) * coalesce($"_s", lit(0.0)))
            .as("rank"))
        .localCheckpoint(eager = false)
    }
    ranks
  }
}
