package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Bridge

/** Similarity search over embedding columns (SURVEY.md §2D).
  *
  * Vectors are `array<float>` columns; all arithmetic runs through
  * codegen'd higher-order functions (`zip_with` + `aggregate`) in
  * double precision — no UDFs, no driver-side math.
  *
  * Scale paths:
  *  - brute-force top-k: broadcast the (small) query set against a
  *    scan of the corpus — zero shuffle for scoring; the per-query
  *    top-k is the bounded-heap TopKAgg aggregate (map-side partial
  *    combining, no Window/Sort).
  *  - LSH top-k: multi-table random-hyperplane signatures bucket the
  *    corpus; only same-bucket pairs are scored. Plane components are
  *    derived from splitmix64(plane, dim) so they are deterministic,
  *    identical on every executor, and never shipped.
  *  - IVF top-k: centroid cells (optionally k-means-refined) with
  *    nProbe search.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double in
    * fixed order (deterministic) — codegen'd VecDot kernel; the
    * zip_with/aggregate formulation is interpreted per element.
    */
  def dot(a: Column, b: Column): Column = graft.functions.GraftFunctions.vecDot(a, b)

  def l2norm(a: Column): Column = graft.functions.GraftFunctions.vecNorm(a)

  /** `bits`-bit random-hyperplane signature. Plane component (i, j) is
    * ±1 by splitmix64 parity — deterministic pseudo-randomness with no
    * stored plane matrix (codegen'd HyperplaneSig kernel).
    * `table` selects a disjoint plane family for multi-table LSH.
    */
  def signature(vec: Column, bits: Int, table: Int = 0): Column =
    graft.functions.GraftFunctions.hyperplaneSig(vec, bits, table * bits)

  /** Exact cosine top-k: every query vector against the full corpus.
    * `queries` must be small (it is broadcast). The per-query top-k
    * uses the bounded-heap TopKAgg aggregate — O(n log k) with
    * map-side partial combining, instead of the window row_number
    * form that sorts every query's full candidate set.
    */
  def topKBruteForce(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // norms precomputed once per row, not inside the O(n*m) pair loop
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("_qe"),
      l2norm(col("embedding")).as("_qn"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("_ce"),
      l2norm(col("embedding")).as("_cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("_qe"), col("_ce")) / (col("_qn") * col("_cn")))
    heapTopK(scored, k)
  }

  /** (query_id, cosine, neighbor_id) → ranked top-k per query via the
    * bounded-heap aggregate; output matches
    * `row_number() OVER (ORDER BY cosine DESC, neighbor_id)` exactly.
    */
  private[graft] def heapTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions.topKAgg(
        col("cosine"), col("neighbor_id"), k).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("query_id"), (col("_pos") + 1).as("rank"),
        col("_t.id").as("neighbor_id"), round(col("_t.score"), 4).as("cosine"))

  /** Window-based formulation kept for cross-checking the aggregate. */
  private[graft] def windowTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Lloyd's k-means refinement of IVF centroids. The k centroids are
    * a few KB, so they live DRIVER-SIDE between iterations (the
    * classic Spark k-means shape): each iteration scores every corpus
    * row against the k centroid literals inline (k·dim codegen'd
    * multiply-adds — no join, no per-vector grouping shuffle) and
    * recomputes means with ONE map-side-combined VecMomentsFp
    * aggregate whose exchange is at most k (n, s1) pairs per
    * partition. One Spark job per Lloyd iteration — the old
    * declarative form cost a broadcast join + two shuffles + a 64×-row
    * posexplode per iteration (29 jobs for the ivf_kmeans report arm;
    * this form runs it in ~6). Seeds are the first k corpus vectors;
    * `iters` rounds suffice for cell balance (exact convergence isn't
    * needed for an ANN index). Fixed-point means (same device as
    * [[Pq.trainCodebooks]]) keep the trained centroids independent of
    * partial-aggregation order.
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int, dim: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    val Fp = 1048576.0 // 2^20 fixed-point scale for order-free means
    var cents: Array[(Long, Array[Float])] = corpus.filter(col("vec_id") < k)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "kmeansCentroids: no seed vectors with vec_id < k")
    // dim <= 0 derives the width from the seed vectors (VecMomentsFp
    // requires the exact width, and hardcoding 64 would break any
    // non-64-dim embedding corpus the pre-moments form handled)
    val d = if (dim > 0) dim else cents.head._2.length
    var i = 0
    // AQE off for the Lloyd rounds, on a child session
    // (GraftSession.withConf): each round's action is a <= k-row
    // centroid collect, which re-planning can only add a job to.
    graft.GraftSession.withConf(spark, "spark.sql.adaptive.enabled" -> "false") { child =>
    val rows = Bridge.ofRows(child, corpus)
    while (i < iters) {
      // argmax cell id as an inline expression: struct(score, cid)
      // array_max — ties resolve to the highest cid, deterministically
      val scoreCols = cents.map { case (cid, c) =>
        val cnorm = math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x))
        struct((dot(col("embedding"), typedLit(c.toSeq)) / lit(cnorm)).as("s"),
          lit(cid).as("cid"))
      }
      val best = array_max(array(scoreCols.toIndexedSeq: _*)).getField("cid")
      cents = rows
        .groupBy(best.as("cid"))
        .agg(graft.functions.GraftFunctions
          .vecMomentsFp(col("embedding"), Fp, d, outer = false).as("_m"))
        .select(col("cid"), col("_m.n").as("n"), col("_m.s1").as("s1"))
        .collect()
        .map { r =>
          val n = r.getLong(1).toDouble
          (r.getLong(0), r.getSeq[Long](2).toArray.map(s => (s / (n * Fp)).toFloat))
        }
        .sortBy(_._1)
      i += 1
    } }
    import spark.implicits._
    cents.toSeq.toDF("cid", "_cent")
      .withColumn("_cnorm", l2norm(col("_cent")))
  }

  /** IVF (inverted-file) approximate top-k. Index build: every vector
    * is assigned to its nearest of `nCentroids` seed centroids (one
    * map-side-combinable `max_by` aggregate — the only corpus shuffle).
    * Search: each query probes its `nProbe` nearest centroids and
    * scores only vectors in those cells. Seeds are the first
    * `nCentroids` corpus vectors (deterministic; production would
    * k-means-refine them — the dataflow is identical).
    */
  /** IVF centroid relation: the first `nCentroids` corpus vectors,
    * optionally Lloyd-refined. Shared by topKIvf and the sweep tool.
    */
  private[graft] def centroidsFor(
      corpus: DataFrame, nCentroids: Int, kmeansIters: Int): DataFrame =
    if (kmeansIters > 0)
      // already a k-row local relation (kmeansCentroids keeps the
      // trained centroids driver-side) — nothing to persist
      kmeansCentroids(corpus, nCentroids, kmeansIters)
    else corpus.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("_cent"),
        l2norm(col("embedding")).as("_cnorm"))

  /** Assign each row to its `keep` best centroid cells (broadcast
    * centroids; `keep`=1 is a single map-side-combinable max_by).
    */
  private[graft] def assignCells(
      df: DataFrame, centroids: DataFrame, id: String, emb: String, keep: Int): DataFrame = {
    val scored = df.join(broadcast(centroids))
      .withColumn("_cscore", dot(col(emb), col("_cent")) / col("_cnorm"))
    if (keep == 1)
      scored.groupBy(col(id)).agg(expr("max_by(cid, _cscore)").as("cid"))
    else {
      val w = Window.partitionBy(col(id)).orderBy(col("_cscore").desc, col("cid"))
      scored.withColumn("_crank", row_number().over(w))
        .filter(col("_crank") <= keep).select(col(id), col("cid"))
    }
  }

  def topKIvf(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, kmeansIters: Int = 0): DataFrame =
    topKIvfWith(corpus, queries, k, centroidsFor(corpus, nCentroids, kmeansIters), nProbe)

  /** IVF search against a PREBUILT centroid relation — sweeps and
    * repeated query batches reuse one persisted centroid set instead
    * of recomputing (and re-persisting) it per call.
    */
  def topKIvfWith(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: DataFrame, nProbe: Int): DataFrame =
    topKIvfOnIndex(ivfIndex(corpus, centroids), queries, k, centroids, nProbe)

  /** The persisted IVF serving relation: each corpus vector with its
    * cell, embedding and norm — built once (one assignment aggregate
    * over the corpus), then searched repeatedly by [[topKIvfOnIndex]]
    * with zero corpus-side jobs at query time.
    */
  def ivfIndex(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignCells(corpus, centroids, "vec_id", "embedding", 1)
      .join(corpus, "vec_id")
      .select(col("cid"), col("vec_id").as("neighbor_id"), col("embedding").as("_ce"),
        l2norm(col("embedding")).as("_cn"))

  /** IVF search over a PREBUILT (typically persisted) [[ivfIndex]]
    * relation: only the (tiny) query batch is assigned to cells at
    * query time; the corpus enters as the standing celled relation.
    */
  def topKIvfOnIndex(index: DataFrame, queries: DataFrame, k: Int,
      centroids: DataFrame, nProbe: Int): DataFrame = {
    val queryCells = assignCells(queries, centroids, "vec_id", "embedding", nProbe)
      .join(queries, "vec_id")
      .select(col("cid"), col("vec_id").as("query_id"), col("embedding").as("_qe"),
        l2norm(col("embedding")).as("_qn"))

    // no dedup needed: each corpus vector lives in exactly one cell and
    // a query probes distinct cells, so (query, neighbor) pairs are
    // unique by construction — a dedup here would shuffle every scored
    // candidate for nothing
    val scored = index.join(broadcast(queryCells), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("_qe"), col("_ce")) / (col("_qn") * col("_cn")))
    heapTopK(scored, k)
  }

  /** Multi-table approximate top-k: `tables` independent
    * hyperplane-sign hash tables of `bits` bits each; candidates are
    * the union of same-bucket matches over any table (deduped), then
    * exact cosine + top-k. Recall ≈ 1-(1-p^bits)^tables where p is
    * the per-plane agreement probability — single-table recall decays
    * exponentially in `bits` (measured 0.06 at bits=6 on the test
    * embeddings; 8 tables lift it dramatically at 8× candidate cost).
    * At scale the (table, bucket) join replaces the cross product and
    * its key space is `tables`× larger — shuffle stays uniform.
    *
    * The candidate dedup runs on NARROW (query_id, neighbor_id) pairs —
    * the embeddings never pass through the dedup exchange (at 8 tables
    * that exchange would otherwise carry up to 8× the corpus vectors);
    * they are fetch-joined by id for the candidates only, the same
    * pattern as [[Dedup]]'s candidatePairs.
    */
  def topKLsh(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int = 8,
      tables: Int = 8): DataFrame =
    topKLshOnIndex(lshSigs(corpus, "neighbor_id", bits, tables), corpus, queries,
      k, bits, tables)

  /** Per-vector multi-table hyperplane signatures — (id, t, sig), the
    * persisted LSH serving relation ([[topKLshOnIndex]]).
    */
  private[graft] def lshSigs(df: DataFrame, idCol: String, bits: Int,
      tables: Int): DataFrame =
    df.select(col("vec_id").as(idCol),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), signature(col("embedding"), bits, t).as("sig"))): _*)).as("ts"))
      .select(col(idCol), col("ts.t"), col("ts.sig"))

  /** The persisted LSH index: corpus-side signatures only (queries
    * hash at query time — nq·tables rows, trivially cheap).
    */
  def lshIndex(corpus: DataFrame, bits: Int = 8, tables: Int = 8): DataFrame =
    lshSigs(corpus, "neighbor_id", bits, tables)

  /** LSH search over a PREBUILT (typically persisted) [[lshIndex]]
    * relation: the corpus is never re-hashed; true vectors enter only
    * through the candidate fetch-join.
    */
  def topKLshOnIndex(index: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int, bits: Int = 8, tables: Int = 8): DataFrame = {
    val pairs = index
      .join(broadcast(lshSigs(queries, "query_id", bits, tables)), Seq("t", "sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val qv = queries.select(col("vec_id").as("query_id"), col("embedding").as("_qe"),
      l2norm(col("embedding")).as("_qn"))
    val cv = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("_ce"),
      l2norm(col("embedding")).as("_cn"))
    val scored = pairs
      .join(cv, "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cosine", dot(col("_qe"), col("_ce")) / (col("_qn") * col("_cn")))
    heapTopK(scored, k)
  }
}
