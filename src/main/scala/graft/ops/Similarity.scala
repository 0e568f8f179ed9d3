package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths, as a production ANN stack needs both:
  *  - `bruteTopK`: exact cosine top-k. The query side is broadcast (it is
  *    small by construction); the corpus side streams — a single narrow
  *    map + per-query top-k, no corpus shuffle. This is the baseline and
  *    the recall oracle.
  *  - `lshTopK`: random-hyperplane LSH. Corpus and queries hash to sign
  *    buckets; only same-bucket pairs are scored. At 100 TB the bucket
  *    join replaces the full cross product — cost drops from |Q|·|C| to
  *    Σ_bucket |Q_b|·|C_b|. Hyperplanes are PSEUDO-RANDOM from xxhash64
  *    (plane i, dim j) so every executor materializes the same planes
  *    without any broadcast of random state.
  *
  * All arithmetic in double precision via codegen'd higher-order
  * functions (`zip_with` + `aggregate`) — no UDFs.
  */
object Similarity {

  /** Double-precision copy of a float vector column — a native Cast
    * (codegen'd), NOT a per-element transform lambda. */
  def toDoubleVec(v: Column): Column = v.cast("array<double>")
  private def toDouble(v: Column): Column = toDoubleVec(v)

  /** Codegen'd native expressions (graft.functions.VectorExpressions):
    * the zip_with/aggregate higher-order formulation is interpreted per
    * element and dominates all-pairs similarity cost. Same accumulation
    * order, bit-identical results. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotNative(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineNative(a, b)

  /** Exact top-k neighbors by cosine for each query vector.
    * Output: (queryIdCol, neighborIdCol, rank). Ties break on neighbor id
    * (deterministic). Self-pairs excluded. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("_cv"))
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("_qv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("_sim", cosine(col("_qv"), col("_cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** HYBRID retrieval — fuse a lexical BM25 ranking and an
    * embedding-cosine ranking by Reciprocal Rank Fusion:
    * `rrf(d) = Σ_pools 1/(rrfK + rank_pool(d))`, a doc absent from a
    * pool contributing 0. RRF is the standard zero-tuning fusion (no
    * score normalization across incomparable scales — only RANKS are
    * combined), and here it is exactly reproducible: ranks are
    * integers, each term is one exact IEEE division, and the two-term
    * sum has a fixed association — an external engine recomputes the
    * fused scores bit-for-bit (the q134 oracle).
    *
    * Scale shape: each pool is its own top-`poolK` (BM25's term-pruned
    * scan + TakeOrdered; brute/IVF cosine top-k), so the fusion join
    * touches ≤ 2·poolK rows — the unpartitioned rank window and the
    * full-outer join are bounded by the CONSTANT pool size, never the
    * corpus. Ties break by id everywhere. Output: (idCol, lex_rank,
    * vec_rank — null when absent from that pool — rrf), rrf
    * descending, top `k`. */
  /** [[hybridTopK]] for a BATCH of queries — the serving/eval shape:
    * every query carries BOTH a term list and a query-vector id, the
    * lexical pools come from ONE TextOps.bm25RankBatch plan, the
    * vector pools from ONE bruteTopK call (its query side is already a
    * set), and the RRF fusion + per-query top-k is one full-outer join
    * on (query_id, doc) + one bounded window. Same exact-rational RRF
    * contract as the single-query form.
    * Output: (query_id, idCol, lex_rank, vec_rank, rrf), top k per
    * query by (rrf desc, id). */
  def hybridTopKBatch(docs: DataFrame, idCol: String, textCol: String,
      emb: DataFrame, vecIdCol: String, vecCol: String,
      queries: Seq[(Long, Seq[String], Long)], k: Int,
      poolK: Int = 15, rrfK: Int = 60): DataFrame = {
    require(queries.nonEmpty && k >= 1 && poolK >= k && rrfK >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val lex = graft.ops.TextOps.bm25RankBatch(docs, idCol, textCol,
        queries.map(q => q._1 -> q._2), poolK)
      .select(col("query_id"), col(idCol).as("_id"),
        col("rank").as("lex_rank"))
    val qv = queries.map(q => q._3 -> q._1).toDF("_qvid", "_hq")
    val vec = bruteTopK(emb,
        emb.where(col(vecIdCol).isInCollection(queries.map(q =>
          java.lang.Long.valueOf(q._3)))), vecIdCol, vecCol, poolK)
      .join(broadcast(qv), col("query_id") === col("_qvid"))
      .select(col("_hq").as("query_id"),
        col("neighbor_id").as("_id"),
        col("rank").cast("long").as("vec_rank"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col(idCol).asc)
    lex.join(vec, Seq("query_id", "_id"), "full_outer")
      .select(col("query_id"), col("_id").as(idCol),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)),
          6).as("rrf"))
      .withColumn("_hk", row_number().over(w))
      .where(col("_hk") <= k).drop("_hk")
  }

  def hybridTopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], emb: DataFrame, vecIdCol: String,
      vecCol: String, queryVecId: Long, k: Int, poolK: Int = 15,
      rrfK: Int = 60): DataFrame = {
    require(k >= 1 && poolK >= k && rrfK >= 1)
    // rank within the ≤ poolK BM25 rows — window bounded by poolK
    val lexW = Window.orderBy(col("score").desc, col(idCol))
    val lex = graft.ops.TextOps
      .bm25Rank(docs, idCol, textCol, queryTerms, poolK)
      .withColumn("lex_rank", row_number().over(lexW).cast("long"))
      .select(col(idCol).as("_id"), col("lex_rank"))
    val vec = bruteTopK(emb,
        emb.where(col(vecIdCol) === queryVecId), vecIdCol, vecCol, poolK)
      .select(col("neighbor_id").as("_id"),
        col("rank").cast("long").as("vec_rank"))
    lex.join(vec, Seq("_id"), "full_outer")
      .select(col("_id").as(idCol),
        // rank 0 = "absent from this pool": an explicit sentinel keeps
        // the output null-free (ranks are 1-based, so 0 is unambiguous)
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
  }

  /** Sign-bucket id from `planes` (≤ 64) pseudo-random hyperplanes
    * starting at plane index `firstPlane` — one codegen'd traversal
    * (graft.functions.HyperplaneSignBits), deterministic across
    * executors. Input must be array<double>. */
  def lshBucket(vec: Column, planes: Int = 8, firstPlane: Int = 0): Column =
    graft.functions.VectorFunctions.hyperplaneSignBits(vec, planes, firstPlane)

  /** Banded multi-probe (band, bucket) rows for each input row: band b
    * hashes planes [b·r, (b+1)·r), giving the standard OR-of-ANDs LSH
    * recall curve 1-(1-p^r)^bands — same banding trick as MinHash LSH
    * (Dedup.lshCandidates), applied to hyperplane signs.
    *
    * All bands' signs come from ⌈bands·r/64⌉ single-traversal codegen'd
    * sign-bit words (HyperplaneSignBits), materialized as columns in
    * their OWN projection before the per-band bit-slices reference them:
    * building the slices over the raw expression would duplicate the
    * full-vector traversal once per band (Generate has no common-
    * subexpression elimination). `planesPerBand` must divide 64 so bands
    * never straddle words. Output: input columns + `_bk` struct(band, bh),
    * one row per (input row, band). */
  private def explodeBandedBuckets(df: DataFrame, vecCol: String,
      bands: Int, planesPerBand: Int, keep: Seq[String]): DataFrame = {
    val r = planesPerBand
    require(r >= 1 && r <= 64 && 64 % r == 0, "planesPerBand must divide 64")
    val total = bands * r
    val nWords = (total + 63) / 64
    val withWords = df.select(keep.map(col) ++ (0 until nWords).map(wi =>
      graft.functions.VectorFunctions.hyperplaneSignBits(
        col(vecCol), math.min(64, total - wi * 64), wi * 64).as(s"_w$wi")): _*)
    val mask = if (r == 64) -1L else (1L << r) - 1L
    val bandArr = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col(s"_w${b * r / 64}"), (b * r) % 64)
          .bitwiseAND(lit(mask)).as("bh"))
    }: _*)
    withWords.select(keep.map(col) :+ explode(bandArr).as("_bk"): _*)
  }

  /** Approximate top-k via banded multi-probe LSH: score only corpus
    * vectors sharing at least one band bucket with the query. Scale path
    * for when the cross product is infeasible. Recall per true neighbor
    * is 1-(1-p^r)^b with p = 1 - θ/π; the defaults (32 bands × 2 planes)
    * hold recall ≈ 1 even for weak neighbors (cos ≈ 0.3 → miss < 1e-6),
    * trading pruning for fidelity — lower `bands` / raise `planesPerBand`
    * on corpora whose neighbors are well above the noise floor. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, bands: Int = 32, planesPerBand: Int = 2): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("_cv"))
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("_qv"))
    val cb = explodeBandedBuckets(c, "_cv", bands, planesPerBand,
      keep = Seq("neighbor_id"))
    val qb = explodeBandedBuckets(q, "_qv", bands, planesPerBand,
      keep = Seq("query_id"))
    // candidate IDs only through the dedup shuffle — vectors re-attach
    // after, so the wide embedding arrays never ride the candidate rows
    val candIds = cb.join(broadcast(qb), Seq("_bk"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = candIds
      .join(broadcast(q), Seq("query_id"))
      .join(c, Seq("neighbor_id"))
      .withColumn("_sim", cosine(col("_qv"), col("_cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** The `probe` nearest coarse centroids for a vector, as a sorted
    * array<struct<d,cell>> column (d = −cosine, so array_sort's
    * lexicographic struct order ranks best-first; ties break on cell id).
    * Centroids ride into the plan as LITERAL arrays — no broadcast state,
    * every executor codegens the same nCells cosine evaluations. */
  private def nearestCells(vec: Column, centroids: Array[Seq[Double]],
      probe: Int): Column = {
    // literal centroids are plan metadata, and plan/codegen size grows as
    // nCells·dim — fine for coarse quantizers (≤ a few hundred cells, the
    // IVF regime), ruinous beyond: a 4096-cell quantizer belongs in a
    // broadcast-join argmin, not an expression tree. Fail fast with the
    // reason rather than let codegen silently fall back to interpreted.
    require(centroids.length <= 256,
      s"${centroids.length} cells exceed the literal-centroid plan budget " +
        "(256): at that scale assign cells via a broadcast join against a " +
        "centroid table, not plan literals")
    val scored = array(centroids.zipWithIndex.map { case (cv, i) =>
      struct((-cosine(vec, typedLit(cv))).as("d"), lit(i).as("cell"))
    }: _*)
    slice(array_sort(scored), 1, probe)
  }

  private def cellOf(vec: Column, centroids: Array[Seq[Double]]): Column =
    element_at(nearestCells(vec, centroids, 1), 1)("cell")

  /** IVF (inverted-file) approximate top-k: the scale path the LSH
    * variant ([[lshTopK]]) doesn't cover — data-ADAPTIVE cells instead of
    * data-oblivious hyperplanes, so clustered corpora prune far harder.
    *
    * Index build: a coarse quantizer of `nCells` centroids — initialized
    * from the corpus vectors first in xxhash64(id) order (a reproducible
    * pseudo-random sample; no RNG state to ship) and refined by `iters`
    * distributed Lloyd's rounds (assign = argmin over literal centroids,
    * update = per-(cell, dim) avg — two narrow shuffles per round, on
    * `trainFraction` of the corpus when < 1, the knob a 100 TB build
    * uses: quantizer quality needs a sample, not the corpus). Search:
    * each query probes its `nProbe` nearest cells, scores only corpus
    * vectors assigned there — cost |Q|·|C|·nProbe/nCells — and exact
    * cosine re-ranks, so results are exact whenever the true top-k lie
    * in probed cells.
    *
    * Centroids are k·dim doubles on the driver (tiny by construction —
    * this is plan-time metadata, not a driver-side data loop). For
    * repeated query batches against one corpus use [[buildIvfIndex]] +
    * [[ivfQuery]], which persist the assignment bucketed by `_cell` and
    * bucket-prune every subsequent scan. Lloyd's avg is float-order
    * sensitive across partitionings; the exact re-rank makes the FINAL
    * top-k robust to borderline cell flips given a sane `nProbe`. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 8,
      iters: Int = 3, trainFraction: Double = 1.0): DataFrame = {
    require(nCells >= 1 && nProbe >= 1 && nProbe <= nCells)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("_cv"))
    val centroids = trainCentroids(c, nCells, iters, trainFraction)
    val assigned = c.withColumn("_cell", cellOf(col("_cv"), centroids))
    probeAndRerank(assigned, queries, idCol, vecCol, k, nProbe, centroids)
  }

  /** The coarse quantizer shared by [[ivfTopK]] and [[buildIvfIndex]]:
    * centroids initialized from the corpus first in xxhash64(id) order
    * and refined by `iters` distributed Lloyd's rounds over
    * `trainFraction` of the corpus. Returns k·dim doubles — plan-time
    * metadata on the driver, not a data loop. */
  private def trainCentroids(c: DataFrame, nCells: Int, iters: Int,
      trainFraction: Double): Array[Seq[Double]] = {
    val train = if (trainFraction >= 1.0) c
      else c.where(pmod(xxhash64(col("neighbor_id")), lit(1000)) <
        lit((trainFraction * 1000).toLong))
    var centroids: Array[Seq[Double]] = c
      .orderBy(xxhash64(col("neighbor_id")), col("neighbor_id"))
      .limit(nCells).select(col("_cv")).collect()
      .map(_.getSeq[Double](0))
    val dim = centroids.headOption.map(_.size).getOrElse(0)
    for (_ <- 0 until iters if dim > 0) {
      // ONE map-side-combinable aggregation per round: `dim` separate
      // sum/count(try_element_at(...)) column pairs instead of
      // posexplode + two-level aggregation — the explode shipped
      // train×dim skinny rows through the shuffle and paid a second
      // exchange to re-nest the mean vector; this ships nCells·dim
      // partials per map task (guide §2.3 "aggregate before you
      // shuffle") in one exchange. try_element_at (NOT element_at):
      // ANSI mode is on in Spark 4, so a ragged corpus — any training
      // vector shorter than the first-sampled centroid — would throw
      // INVALID_ARRAY_INDEX; the null it yields instead drops that
      // vector from exactly the dims it lacks, and the PER-DIM count
      // reproduces the posexplode formulation's per-(cell, dim) mean.
      // The mean is the same sum/count division, done driver-side on
      // the collected (tiny: nCells rows) aggregate.
      val aggs = (0 until dim).flatMap(i => Seq(
        sum(try_element_at(col("_cv"), lit(i + 1))).as(s"_s$i"),
        count(try_element_at(col("_cv"), lit(i + 1))).as(s"_c$i")))
      val upd = train.where(col("_cv").isNotNull)
        .select(cellOf(col("_cv"), centroids).as("_cell"), col("_cv"))
        .groupBy(col("_cell"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val prev = centroids
      val m = upd.map { r =>
        val cell = r.getInt(0)
        cell -> (0 until dim).map { i =>
          val n = r.getLong(2 + 2 * i)
          // a dim no member reaches keeps the previous centroid's value
          // (the old per-(cell, dim) mean simply had no row for it) — or
          // 0.0 when that centroid is a sampled vector shorter than dim
          // (a ragged corpus), the padding every updated centroid gets
          if (n == 0L) prev(cell).lift(i).getOrElse(0.0)
          else r.getDouble(1 + 2 * i) / n
        }
      }.toMap
      // a cell that lost every member keeps its previous centroid
      centroids = centroids.indices.map(i => m.getOrElse(i, centroids(i))).toArray
    }
    centroids
  }

  /** Probe `nProbe` cells per query against a cell-assigned corpus
    * (columns neighbor_id, _cv, _cell) and exact-cosine re-rank. */
  private def probeAndRerank(assigned: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      centroids: Array[Seq[Double]]): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("_qv"))
    val probes = q.select(col("query_id"), col("_qv"),
      explode(nearestCells(col("_qv"), centroids, nProbe)("cell")).as("_cell"))
    val scored = assigned.join(broadcast(probes), Seq("_cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("_sim", cosine(col("_qv"), col("_cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** PERSISTED IVF index — the repeated-query-batch workload [[ivfTopK]]
    * doesn't serve: train the quantizer once, assign every corpus vector
    * its cell, and write the assigned corpus BUCKETED BY `_cell`
    * (Layout.saveBucketed) plus a tiny `<table>_centroids` sidecar table.
    * Subsequent [[ivfQuery]] batches skip training AND assignment
    * entirely, and their scans bucket-prune to the probed cells only —
    * at 100 TB a query batch reads nProbe·|Q| cells' buckets, not the
    * corpus. Index build cost amortizes over every batch, the same
    * write-once-join-often contract as Layout.saveBucketed — and the
    * same catalog caveat: bucket metadata lives in the session catalog,
    * so a NEW session re-registers both tables over the existing parquet
    * (the data itself needs no rewrite). */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      table: String, path: String, nCells: Int = 16, iters: Int = 3,
      trainFraction: Double = 1.0, buckets: Int = 16,
      centroidInit: String = "hash"): Unit = {
    require(nCells >= 1)
    require(centroidInit == "hash" || centroidInit == "minid",
      s"centroidInit must be hash or minid, got $centroidInit")
    require(centroidInit == "hash" || iters == 0,
      "centroidInit=minid is the oracle-reproducible mode and requires " +
        "iters = 0 (Lloyd refinement is not SQL-portable)")
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("_cv"))
    // "minid" + iters = 0 is the ORACLE-REPRODUCIBLE quantizer (the
    // [[semanticDedup]] iters = 0 contract: centroids = the nCells
    // smallest-id vectors, every step portable SQL); "hash" is the
    // production xxhash64-seeded init
    val centroids =
      if (centroidInit == "minid" && iters == 0)
        c.orderBy(col("neighbor_id")).limit(nCells)
          .select(col("_cv")).collect().map(_.getSeq[Double](0))
      else trainCentroids(c, nCells, iters, trainFraction)
    Layout.saveBucketed(c.withColumn("_cell", cellOf(col("_cv"), centroids)),
      table, path, buckets, Seq("_cell"))
    import spark.implicits._
    centroids.toSeq.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cell", "centroid")
      .write.mode("overwrite").option("path", path + "_centroids")
      .format("parquet").saveAsTable(table + "_centroids")
  }

  /** INCREMENTAL maintenance of a [[buildIvfIndex]] table — the standard
    * IVF add path: the coarse quantizer is FIXED (centroid sidecar
    * untouched — retraining would re-cell the whole corpus), arriving
    * vectors are assigned their nearest existing cell and APPENDED into
    * the `_cell`-bucketed corpus table (Spark validates the bucket spec
    * against the catalog's, so `buckets` must equal the build's — same
    * declared-spec contract as Layout.registerBucketed). The existing
    * corpus is never read or shuffled; [[ivfQuery]] batches see appended
    * vectors immediately because cell pruning and scoring read the
    * bucketed table. Quantization drift is the caller's tuning concern
    * (rebuild when recall@k — Similarity.recallAtK — degrades), exactly
    * as with any production IVF index.
    *
    * Contract: batch ids must be NEW to the index — a re-appended id
    * would surface twice in every later top-k. With `checkIds` (the
    * default) the contract is ENFORCED by a near-free probe: the batch's
    * assigned cells prune the `_cell`-bucketed scan and the batch's ids
    * filter inside them — a replayed vector lands in the SAME cell
    * (fixed quantizer), so the replay/double-run failure mode is always
    * caught (a same-id DIFFERENT vector could land in another cell and
    * evade the pruned probe; that remains the caller's contract). A
    * collision throws before anything is written. */
  def appendIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
      table: String, buckets: Int = 16, checkIds: Boolean = true): Unit = {
    val spark = batch.sparkSession
    val centroids: Array[Seq[Double]] = spark.table(table + "_centroids")
      .orderBy(col("cell")).collect()
      .map(r => r.getSeq[Double](r.fieldIndex("centroid")))
    val assigned = batch.select(col(idCol).as("neighbor_id"),
        toDouble(col(vecCol)).as("_cv"))
      .withColumn("_cell", cellOf(col("_cv"), centroids))
    if (checkIds) {
      val dups = indexedVecIds(assigned, "neighbor_id", table)
        .limit(5).collect().map(_.get(0))
      if (dups.nonEmpty) throw new IllegalStateException(
        s"appendIvfIndex($table): batch contains ids already indexed " +
          s"(e.g. ${dups.mkString(", ")}) — appending would surface them " +
          "twice in every top-k; dedup the batch first or pass " +
          "checkIds=false")
    }
    assigned
      .write.mode("append").bucketBy(buckets, "_cell").sortBy("_cell")
      .format("parquet").saveAsTable(table)
  }

  /** [[appendIvfIndex]] over an ALREADY-ASSIGNED `(_id, _v, _cell)`
    * frame ([[assignToIndexCells]] under the same table's quantizer) —
    * the share-one-assignment seam of the semantic ingest loop: a
    * vector's cell costs nCells dot products (the loop's dominant map
    * work) and the batch already computed it for the dedup join, so the
    * append must not re-derive it. The id-collision guard stays with
    * callers (the loop just ran the [[indexedVecIds]] probe itself). */
  private[graft] def appendIvfIndexAssigned(assigned: DataFrame,
      table: String, buckets: Int): Unit =
    assigned.select(col("_id").as("neighbor_id"), col("_v").as("_cv"),
        col("_cell"))
      .write.mode("append").bucketBy(buckets, "_cell").sortBy("_cell")
      .format("parquet").saveAsTable(table)

  /** Query a [[buildIvfIndex]] table: load the centroid sidecar (k·dim
    * doubles — plan-time metadata), probe each query's `nProbe` nearest
    * cells, and score ONLY those cells' rows. The probed cell set rides
    * into the scan as an IN-list of literals, so the bucketed-by-_cell
    * layout bucket-prunes the read (the plan's FileSourceScan shows
    * `SelectedBucketsCount < total`, asserted by LayoutSpec) — no
    * training, no assignment, no full-corpus scan. */
  def ivfQuery(queries: DataFrame, table: String, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 8): DataFrame = {
    val spark = queries.sparkSession
    val centroids: Array[Seq[Double]] = spark.table(table + "_centroids")
      .orderBy(col("cell")).collect()
      .map(r => r.getSeq[Double](r.fieldIndex("centroid")))
    require(nProbe >= 1 && nProbe <= centroids.length)
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("_qv"))
    val probes = q.select(col("query_id"), col("_qv"),
      explode(nearestCells(col("_qv"), centroids, nProbe)("cell")).as("_cell"))
    // the distinct probed cells as literals: queries are small by
    // construction (the broadcast side), so this is plan-time metadata —
    // and it is exactly what lets the scan bucket-prune
    val cells = probes.select(col("_cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val assigned = spark.table(table).where(col("_cell").isin(cells.map(Int.box): _*))
    probeAndRerank(assigned, q, "query_id", "_qv", k, nProbe, centroids)
  }

  /** Recall@k measurement: fraction of each query's EXACT top-k that an
    * approximate result found — the harness that turns "the index feels
    * fine" into a number when tuning bands/planesPerBand/nProbe. Both
    * inputs use the (query_id, neighbor_id, rank) shape every ANN
    * operator here emits; queries with no approximate hits score 0, not
    * a missing row. Two small aggregations + one semi-join keyed on
    * (query, neighbor) — runs at any scale the ANN results themselves
    * exist at. Output: query_id, n_true, n_hit, recall. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val truth = exact.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_true"))
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    truth.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_true"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast(DoubleType) /
          col("n_true").cast(DoubleType), 4).as("recall"))
  }

  /** Symmetric int8 quantization of an embedding column — the storage
    * path that makes 100 TB ANN tractable: 4× smaller than float32 (8×
    * vs the float64 compute form), with the per-vector max-abs scale
    * kept alongside for dequantization (`x ≈ q/127 · scale`).
    *
    * Quantized value = floor(x/scale·127 + 0.5) — explicit half-up
    * rounding written out in arithmetic so ANY engine reproduces the
    * exact same codes (no dependence on a round() builtin's tie rule).
    * Zero vectors quantize to zeros with scale 0. Narrow map, no
    * shuffle; columns: idCol, `scale`, `qvec` (array<int>, values in
    * [−127, 127]). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // LET-BIND the cast vector and its max-abs scale via one-element
    // transforms (same trick as Dedup.shingles): lambda bodies get no
    // subexpression elimination, so referencing the raw `v`/`s` trees
    // inside the per-element quantize lambda would re-cast the whole
    // array and recompute the array_max once PER ELEMENT — O(d²) per
    // row. Bound as lambda variables they evaluate once per row; the
    // arithmetic (and thus every emitted code) is unchanged.
    val q = element_at(transform(array(toDouble(col(vecCol))), v =>
      element_at(transform(array(array_max(transform(v, x => abs(x)))), s =>
        struct(s.as("scale"),
          when(s === 0.0, transform(v, _ => lit(0)))
            .otherwise(transform(v,
              x => floor(x / s * lit(127.0) + lit(0.5)).cast("int")))
            .as("qvec"))), 1)), 1)
    // the struct materializes in its OWN projection before the field
    // selects slice it: lambda-bearing trees are excluded from
    // subexpression elimination, so referencing `q` twice in one select
    // would run the whole quantize pass twice per row. CollapseProject
    // keeps a multi-referenced non-trivial alias (the same boundary
    // minhashSignaturesSh relies on), so the pass runs exactly once.
    df.select(col(idCol), q.as("_q"))
      .select(col(idCol), col("_q")("scale").as("scale"),
        col("_q")("qvec").as("qvec"))
  }

  /** EXACT cosine near-duplicate pairs via the full cross product —
    * deliberately and irreducibly Ω(n²). This is the opt-in EXACT
    * mid-threshold path: no LSH family prunes at cos ≥ ~0.4 with recall 1
    * on isotropic data (weak neighbors sit at the noise floor, so every
    * bucketing scheme either misses pairs or degenerates to all-pairs).
    * NOT a default entry point — at 100 TB this plan is infeasible by
    * construction; use [[cosineNearDups]] (banded LSH + exact verify,
    * high-threshold regime) unless the corpus is bounded AND the
    * threshold is below LSH's pruning range and exactness is required.
    * The name is the guard rail — no other API constructs a cartesian —
    * and `maxRows` is the fail-fast: the input is counted first (one
    * narrow scan of two columns) and anything larger than `maxRows`
    * THROWS before the quadratic stage can start. The default caps the
    * pair count at ~1.25e9 — hours of cluster work, the outer edge of
    * "bounded corpus"; raising it is an explicit, knowing act. */
  def exactNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxRows: Long = 50000): DataFrame = {
    val v = df.select(col(idCol).as("_id"), toDouble(col(vecCol)).as("_v"))
    val n = v.count()
    require(n <= maxRows,
      s"exactNearDups is deliberately Ω(n²): input has $n rows > maxRows=" +
        s"$maxRows (~${n * n / 2} pairs). Use cosineNearDups (LSH + exact " +
        "verify) at high thresholds, or pass maxRows explicitly to accept " +
        "the cartesian.")
    v.as("a").join(v.as("b"), col("a._id") < col("b._id"))
      .select(col("a._id").as("id1"), col("b._id").as("id2"),
        cosine(col("a._v"), col("b._v")).as("_c"))
      // filter on the RAW value (as a SQL oracle does); round only in output
      .where(col("_c") >= threshold)
      .select(col("id1"), col("id2"), round(col("_c"), 4).as("cos"))
  }

  /** SEMANTIC dedup over an embedding column — the SemDeDup recipe
    * (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus with a
    * coarse quantizer, then WITHIN each cluster drop every vector that
    * has a lower-id member with cosine ≥ `threshold`. Near-dup LSH
    * ([[cosineNearDups]]) catches lexical twins; this catches semantic
    * twins — paraphrases and templated rewrites whose token overlap is
    * low but whose embeddings coincide — and is the missing "semantic"
    * row of the dedup matrix (exact / MinHash / SimHash / embedding).
    *
    * Policy: survivors are the per-group MINIMUM ids (deterministic and
    * engine-reproducible; the paper keeps the member farthest from the
    * centroid — any fixed representative works, determinism is what
    * matters for a data pipeline). The drop rule is single-hop, not
    * transitive closure: x is dropped iff SOME smaller-id y in its
    * cluster has cos(x,y) ≥ threshold — y itself may also be dropped.
    * Chained semi-dup runs (a~b~c, a≁c) therefore keep only a, exactly
    * the greedy scan order the single-node reference implementation
    * produces.
    *
    * Scale shape: assignment is one narrow codegen'd pass over literal
    * centroids (the [[ivfTopK]] machinery); the pair scan shuffles ONCE
    * on `_cell` and is quadratic only within a cluster — Σ|cell|², the
    * cost SemDeDup is designed around. Size `nClusters` so the largest
    * cluster's pair count is tractable (the paper uses ~√n clusters);
    * a skewed mega-cluster is a quantizer-quality problem, not a plan
    * problem.
    *
    * `iters = 0` selects the ORACLE-REPRODUCIBLE quantizer: centroids
    * are the embeddings of the `nClusters` smallest ids, no Lloyd
    * refinement — every step is expressible in portable SQL, so an
    * external engine can verify the full output. `iters > 0` trains the
    * standard quantizer ([[trainCentroids]]: xxhash64-seeded + Lloyd
    * rounds), the production path.
    *
    * Output: idCol, `cluster` (long), `kept` (boolean) — one row per
    * input vector, so downstream can either filter survivors or audit
    * drops. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, threshold: Double, iters: Int = 3,
      trainFraction: Double = 1.0): DataFrame = {
    require(nClusters >= 1)
    val c = df.select(col(idCol).as("_id"), toDouble(col(vecCol)).as("_v"))
    val centroids: Array[Seq[Double]] =
      if (iters == 0)
        c.orderBy(col("_id")).limit(nClusters)
          .select(col("_v")).collect().map(_.getSeq[Double](0))
      else trainCentroids(
        c.select(col("_id").as("neighbor_id"), col("_v").as("_cv")),
        nClusters, iters, trainFraction)
    val assigned = c.withColumn("_cell", cellOf(col("_v"), centroids))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ids dropped: some smaller-id same-cluster member within threshold.
    // One equi-join on _cell; the a.id < b.id predicate halves the pair
    // scan and filter-on-raw-value matches what a SQL oracle computes.
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a._cell") === col("b._cell") && col("a._id") < col("b._id"))
      .where(cosine(col("a._v"), col("b._v")) >= threshold)
      .select(col("b._id").as("_id")).distinct()
      .withColumn("_dup", lit(true))
    CacheScope.releasing(assigned) {
      assigned.join(dropped, Seq("_id"), "left")
        .select(col("_id").as(idCol),
          col("_cell").cast("long").as("cluster"),
          col("_dup").isNull.as("kept"))
    }
  }

  /** INCREMENTAL [[semanticDedup]] against a persisted [[buildIvfIndex]]
    * table — the semantic column's batch→incremental step, completing
    * the same matrix row the LSH index closed for lexical near-dup
    * (Dedup.incrementalNearDups): an arriving batch is deduped against
    * an already-indexed corpus WITHOUT re-reading or re-shuffling it.
    *
    * A batch vector is dropped when (a) ANY same-cell corpus vector, or
    * (b) a smaller-id same-cell batch vector, sits within `threshold`
    * cosine — (b) is the intra-batch half, same pairwise smaller-id
    * rule as StreamingDedup.intraBatchSurvivors, so two semantic twins
    * arriving together can't both survive. Cells come from the index's
    * FIXED quantizer (centroid sidecar — plan-time metadata), matching
    * the corpus rows' stored `_cell` by construction.
    *
    * Scale shape: batch assignment is one narrow pass; the batch's
    * distinct cells ride into the corpus scan as an IN-list of
    * literals, so the `_cell`-bucketed table bucket-prunes the read
    * (the ivfQuery idiom — a batch touching 3 cells reads 3 cells'
    * buckets, never the corpus); both dup joins shuffle only the
    * batch. Survivors are appendable via [[appendIvfIndex]], which
    * is exactly the ingest loop for a 100 TB semantic-dedup corpus.
    *
    * Output: (idCol, cluster, kept) — [[semanticDedup]]'s shape, one
    * row per batch vector. */
  def incrementalSemanticDedup(batch: DataFrame, table: String,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val b = assignToIndexCells(batch, table, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CacheScope.releasing(b) {
      incrementalSemanticDedupLazy(b, table, idCol, threshold)
    }
  }

  /** The batch assigned to its index cells: (_id, _v, _cell) under the
    * `table`'s FIXED quantizer (centroid sidecar). */
  private[graft] def assignToIndexCells(batch: DataFrame, table: String,
      idCol: String, vecCol: String): DataFrame = {
    val spark = batch.sparkSession
    val centroids: Array[Seq[Double]] = spark.table(table + "_centroids")
      .orderBy(col("cell")).collect()
      .map(r => r.getSeq[Double](r.fieldIndex("centroid")))
    batch.select(col(idCol).as("_id"), toDouble(col(vecCol)).as("_v"))
      .withColumn("_cell", cellOf(col("_v"), centroids))
  }

  /** The lazy formulation [[incrementalSemanticDedup]] checkpoints (the
    * public surface returns a materialized frame so the batch cache can
    * be released — same split as Dedup.incrementalNearDupsLazy); plan
    * tests assert bucket pruning here. `b` must be an
    * [[assignToIndexCells]] frame, ideally persisted. */
  private[graft] def incrementalSemanticDedupLazy(b: DataFrame,
      table: String, idCol: String, threshold: Double): DataFrame = {
    val corpusDup = indexCellMatches(b, table, threshold)
      .select(col("new_id").as("_id")).distinct()
      .withColumn("_cdup", lit(true))
    val intraDup = b.as("x").join(b.as("y"),
        col("x._cell") === col("y._cell") && col("x._id") < col("y._id"))
      .where(cosine(col("x._v"), col("y._v")) >= threshold)
      .select(col("y._id").as("_id")).distinct()
      .withColumn("_idup", lit(true))
    b.join(corpusDup, Seq("_id"), "left")
      .join(intraDup, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        col("_cell").cast("long").as("cluster"),
        (col("_cdup").isNull && col("_idup").isNull).as("kept"))
  }

  /** Same-cell matches of an [[assignToIndexCells]] batch against a
    * [[buildIvfIndex]] table: (new_id, corpus_id, cosine), cosine ≥
    * `threshold`. The batch's distinct cells ride into the corpus scan
    * as an IN-list of literals so the `_cell`-bucketed table
    * bucket-prunes the read; past `maxPruneLiterals` distinct cells the
    * list is skipped rather than build a pathological IN (the
    * Dedup.incrementalNearDupsLazy cap rule — cells are ≤ nCells ≤ 256
    * in practice, so the cap exists for API symmetry, not expectation). */
  private[graft] def indexCellMatches(b: DataFrame, table: String,
      threshold: Double, maxPruneLiterals: Int = 4096): DataFrame = {
    val spark = b.sparkSession
    val cells = b.select(col("_cell")).distinct()
      .limit(maxPruneLiterals + 1).collect().map(_.getInt(0)).sorted
    val corpus =
      if (cells.length <= maxPruneLiterals)
        spark.table(table).where(col("_cell").isin(cells.map(Int.box): _*))
      else spark.table(table)
    b.as("b").join(corpus.as("c"), col("b._cell") === col("c._cell"))
      .where(cosine(col("b._v"), col("c._cv")) >= threshold)
      .select(col("b._id").as("new_id"),
        col("c.neighbor_id").as("corpus_id"),
        cosine(col("b._v"), col("c._cv")).as("cosine"))
  }

  /** The ids among `assigned`'s rows that are ALREADY in the IVF table —
    * the replay/skip probe of the semantic ingest loop (the IVF
    * analogue of Dedup.indexedIds). A replayed vector lands in the SAME
    * cell (fixed quantizer), so probing the batch's (cell, id) pairs
    * through the `_cell`-bucketed scan is complete for replays and never
    * a corpus scan; past `maxPruneLiterals` keys it degrades to a
    * left-semi join on id. Output: one `neighbor_id` column. */
  private[graft] def indexedVecIds(assigned: DataFrame, idField: String,
      table: String, maxPruneLiterals: Int = 4096): DataFrame = {
    val spark = assigned.sparkSession
    val keys = assigned.select(col(idField), col("_cell")).distinct()
      .limit(maxPruneLiterals + 1).collect()
    val scan0 = spark.table(table)
    if (keys.length <= maxPruneLiterals) {
      if (keys.isEmpty) return scan0.select(col("neighbor_id")).limit(0)
      val cells = keys.map(_.get(1)).distinct
      val ids = keys.map(_.get(0)).distinct
      scan0.where(col("_cell").isin(cells: _*) &&
          col("neighbor_id").isin(ids: _*))
        .select(col("neighbor_id")).distinct()
    } else
      scan0.join(
        assigned.select(col(idField).as("neighbor_id")).distinct(),
        Seq("neighbor_id"), "left_semi")
        .select(col("neighbor_id")).distinct()
  }

  /** Embedding-cosine near-duplicate pairs (id1 < id2, cosine ≥ thresh):
    * banded multi-probe LSH candidates, then EXACT cosine verification —
    * the embedding analogue of MinHash+LSH+exact-Jaccard near-dup
    * (Dedup.nearDupPairs). No cartesian anywhere: candidates come from
    * the (band, bucket) equi-join. The defaults (16 bands × 8 planes)
    * target HIGH thresholds (near-dup detection, cos ≥ ~0.9, recall
    * ≥ 0.9998); hyperplane LSH fundamentally cannot prune at mid
    * thresholds on isotropic data — for exact mid-threshold joins use
    * the brute path and accept Ω(n²). */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 16, planesPerBand: Int = 8): DataFrame = {
    val v = df.select(col(idCol).as("_id"), toDouble(col(vecCol)).as("_v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = explodeBandedBuckets(v, "_v", bands, planesPerBand,
      keep = Seq("_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidate IDs only through the bucket join + dedup; vectors
    // re-attach for the exact verify
    val candIds = b.select(col("_id").as("id1"), col("_bk"))
      .join(b.select(col("_id").as("id2"), col("_bk")), Seq("_bk"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    CacheScope.releasing(v, b) {
      candIds
        .join(v.select(col("_id").as("id1"), col("_v").as("_v1")), Seq("id1"))
        .join(v.select(col("_id").as("id2"), col("_v").as("_v2")), Seq("id2"))
        .withColumn("cos", cosine(col("_v1"), col("_v2")))
        .where(col("cos") >= threshold)
        .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos"))
    }
  }
}
