package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The engine's one level-by-level fixpoint and its one re-pin rule —
  * the set-at-a-time form of pull's `...` recursion with its per-root
  * `_seen_entities` guard (tripl.py:652-669, 708-721). Behind
  * [[graft.TripleStore.reachable]], [[graft.TripleStore.reachableBatched]],
  * pull's `PRec` depth probe and [[RefGraph.shortestPaths]]; the
  * semi-naive datalog loop keeps its running totals in [[Running]].
  *
  * '''Pins.''' Every level's delta is `localCheckpoint`ed eagerly, so the
  * next level joins a materialized leaf instead of re-deriving the whole
  * traversal. The running visited set is a LAZY union of those pinned
  * deltas — no per-level job re-pins it — and is re-pinned eagerly on
  * every [[RepinEvery]]-th union, so the anti-join's plan fans in at
  * most that many leaves instead of one per level (O(d²) plan nodes over
  * a depth-d traversal).
  *
  * '''Jobs.''' The seed costs one pin. Each level costs one pin plus one
  * emptiness check (or one count when a frontier cap is set), and every
  * [[RepinEvery]]-th non-empty level one more pin for the visited set. */
private[graft] object Fixpoint {

  /** Unions a [[Running]] set absorbs lazily before it is re-pinned. */
  val RepinEvery = 8

  /** A running union of pinned deltas: [[+]] unions lazily and re-pins
    * eagerly on the [[RepinEvery]]-th union. Immutable, so concurrent
    * loops share nothing. */
  final class Running private (val df: DataFrame, unions: Int) {
    def +(delta: DataFrame): Running =
      if (unions + 1 < RepinEvery) new Running(df.unionByName(delta), unions + 1)
      else new Running(df.unionByName(delta).localCheckpoint(eager = true), 0)
  }

  object Running {
    /** Starts from `pinned`, which must already be materialized. */
    def apply(pinned: DataFrame): Running = new Running(pinned, 0)
  }

  /** The pinned per-level frames of [[frontier]], level 0 (the seed)
    * first; every level after the seed is non-empty. */
  final class Levels(val frames: Seq[DataFrame], maxIters: Int) {
    /** The last level was non-empty when the loop stopped at `maxIters`.
      * Costs one job on the seed only when `maxIters <= 0`. */
    def alive: Boolean =
      frames.size > maxIters && (maxIters > 0 || !frames.head.isEmpty)
  }

  /** Breadth-first levels from `seed` over a `(_src, _dst)` edge frame.
    * Rows are keyed by `keys`, which must include `e` (the entity): a
    * level expands the previous one through the edges (`e` follows
    * `_src` → `_dst`, the other keys ride along), takes the distinct
    * rows, drops the keys already visited and is pinned. The loop stops
    * at the first empty level or after `maxIters` levels.
    *
    * The edges are pinned lazily — computed inside the first level's
    * job, then read from blocks at every later level — unless the caller
    * persisted them (the caller then keeps ownership, so concurrent
    * loops can share one cache). `maxFrontier` caps each level's row
    * count (it is reachable's valve): over it, the loop throws. */
  def frontier(seed: DataFrame, keys: Seq[String], edges: DataFrame,
      maxIters: Int, maxFrontier: Option[Long] = None): Levels = {
    val es =
      if (edges.storageLevel == StorageLevel.NONE)
        edges.localCheckpoint(eager = false)
      else edges
    val root = seed.select(keys.map(col): _*).localCheckpoint(eager = true)
    val step = keys.map(k => if (k == "e") col("_dst").as("e") else col(k))
    var frames = Vector(root)
    var visited = Running(root)
    var more = true
    while (more && frames.size <= maxIters) {
      val last = frames.last
      val next = last.join(es, last("e") === es("_src"))
        .select(step: _*).distinct()
        .join(visited.df, keys, "left_anti")
        .localCheckpoint(eager = true)
      more = maxFrontier match {
        case Some(cap) =>
          val n = next.count()
          if (n > cap) throw new IllegalStateException(
            s"reachable: frontier of $n (entity, root) pairs at depth " +
              s"${frames.size} exceeds maxFrontier=$cap — the graph is " +
              "too dense for per-root traversal at this root-set size; " +
              "batch the roots or raise the cap")
          n > 0
        case None => !next.isEmpty
      }
      if (more) { frames :+= next; visited += next }
    }
    new Levels(frames, maxIters)
  }
}
