package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.storage.StorageLevel

/** Product-quantization ANN (Jégou et al. 2011, "Product Quantization
  * for Nearest Neighbor Search") — the compressed-corpus scale path
  * for similarity search, complementing [[Similarity]]'s LSH/IVF
  * variants (reference capability: easydb has no ANN at all; SURVEY.md
  * §2D mandates the scale path).
  *
  * Why this is THE 100 TB shape: the corpus rides through the scoring
  * scan as `m` small-int codes plus one precomputed norm (~12 bytes at
  * m=8) instead of `dim` floats (256 bytes at dim=64) — a ~20×
  * reduction of the candidate-scan I/O and of any exchange the coded
  * relation crosses. Full vectors are fetch-joined ONLY for the top-R
  * re-rank candidates per query (R = rerankMult·k ids), so at a
  * billion vectors the exact-math footprint is thousands of rows, not
  * the corpus.
  *
  * Everything is declarative DataFrame dataflow:
  *  - codebooks: `ksub` seed sub-centroids per block (the first `ksub`
  *    corpus vectors' sub-blocks — deterministic, same convention as
  *    IVF's seed centroids; Lloyd refinement would reuse
  *    [[Similarity.kmeansCentroids]]'s dataflow per block);
  *  - encode: per (vector, block) argmin-L2 over the broadcast
  *    codebook via `min(struct(dist, cid))` — the struct min makes
  *    ties deterministic (smallest cid), and dist = |c|² − 2⟨a,c⟩
  *    drops the constant |a|² term;
  *  - search: the classic ADC (asymmetric distance computation) as a
  *    broadcast LUT join — the per-(query, block, cid) partial dot
  *    table is nq·m·ksub rows (a few KB), so scoring is one
  *    broadcast-hash-join over the exploded code stream plus a
  *    map-side-combinable sum, never a wide shuffle;
  *  - re-rank: exact cosine on the ADC top-R only.
  *
  * All dot/norm arithmetic runs through the codegen'd VecDot kernel in
  * fixed index order, which is what lets tools/make_expected.py mirror
  * the math bit-for-bit for the committed fixture oracle.
  */
object Pq {

  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vecDot(a, b)

  /** Static per-block sub-vector explosion: (b, sub) rows. Slices are
    * compile-time constants (no per-element lambda HOFs in the loop).
    */
  private def blocks(vec: Column, m: Int, dim: Int): Column = {
    val sub = dim / m
    explode(array((0 until m).map(b =>
      struct(lit(b).as("b"), slice(vec, b * sub + 1, sub).as("sub"))): _*))
  }

  /** Codebook relation (b, cid, cent, cn2): sub-blocks of the first
    * `ksub` corpus vectors; cn2 = ⟨cent,cent⟩ accumulated in index
    * order (NOT norm², which would round through a sqrt).
    */
  def codebooks(corpus: DataFrame, m: Int, ksub: Int, dim: Int): DataFrame =
    corpus.filter(col("vec_id") < ksub)
      .select(col("vec_id").as("cid"), blocks(col("embedding"), m, dim).as("bs"))
      .select(col("cid"), col("bs.b").as("b"), col("bs.sub").as("cent"))
      .withColumn("cn2", dot(col("cent"), col("cent")))

  /** Lloyd-refined codebooks: `iters` rounds of assign (argmin-L2,
    * same struct-min as encode) + per-(block, cid, dim) mean — the
    * per-block k-means that production PQ trains (SCALE.md, "PQ quality
    * at realistic N", records the recall lift). The mean is accumulated
    * as FIXED-POINT LONGS (x·2^20 truncated) so the centroid update is an integer sum —
    * exact and independent of partial-aggregation order, unlike `avg`
    * over doubles — which makes trained codebooks bit-reproducible
    * across partitionings and therefore oracle-gateable (the ~1e-6
    * quantization of the mean is irrelevant to an ANN codebook and is
    * mirrored exactly by tools/make_expected.py). Cells that lose all
    * members drop out of the codebook.
    */
  def trainCodebooks(corpus: DataFrame, m: Int, ksub: Int, dim: Int,
      iters: Int): DataFrame = {
    if (iters == 0) return codebooks(corpus, m, ksub, dim)
    val spark = corpus.sparkSession
    val subs = corpus
      .select(col("vec_id"), blocks(col("embedding"), m, dim).as("bs"))
      .select(col("vec_id"), col("bs.b").as("b"), col("bs.sub").as("_sub"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val Fp = 1048576.0 // 2^20 fixed-point scale for order-free means
    // The books relation is m×ksub rows (≤ a few KB) — the classic
    // driver-side k-means shape ([[Similarity.kmeansCentroids]]): each
    // Lloyd round ends in ONE collect and the next round broadcasts a
    // LOCAL relation. The old fully-lazy form nested every iteration's
    // aggregate inside the next broadcast, so the final action replayed
    // the whole chain as sequential broadcast jobs (~40 jobs for the
    // 2-iter ivfpq build; this form runs ~1 job per round). Values are
    // bit-identical: floats/doubles round-trip the driver exactly, and
    // cent/cn2 are computed by the same kernels before the collect.
    def localize(rel: DataFrame): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rel.collect(): _*), rel.schema)
    var books = localize(codebooks(corpus, m, ksub, dim))
    var i = 0
    // AQE off for the Lloyd rounds, on a child session
    // (GraftSession.withConf): each round's action is the m×ksub books
    // collect — a bounded aggregate AQE can only add a re-planning job
    // to. `subs` stays cached: the child reads the shared cache.
    graft.GraftSession.withConf(spark, "spark.sql.adaptive.enabled" -> "false") { child =>
    val childSubs = Bridge.ofRows(child, subs)
    while (i < iters) {
      // _sub rides inside the argmin struct: it is constant within the
      // (vec_id, b) group and (_dist, cid) is already a total order, so
      // the chosen row is unchanged — but the old re-join with `subs`
      // (a second corpus-sized shuffle per Lloyd iteration) disappears
      val assigned = childSubs.join(broadcast(books), "b")
        .withColumn("_dist", col("cn2") - lit(2.0) * dot(col("_sub"), col("cent")))
        .groupBy(col("vec_id"), col("b"))
        .agg(min(struct(col("_dist"), col("cid"), col("_sub"))).as("_best"))
        .select(col("vec_id"), col("b"), col("_best.cid").as("cid"),
          col("_best._sub").as("_sub"))
      // one-pass fixed-point mean via the VecMomentsFp aggregate —
      // same truncate-then-sum arithmetic as the old posexplode +
      // per-dim sum (bit-identical centroids), without inflating the
      // corpus by sub-vector width before the partial aggregate
      books = localize(assigned
        .groupBy(col("b"), col("cid"))
        .agg(graft.functions.GraftFunctions
          .vecMomentsFp(col("_sub"), Fp, dim / m, outer = false).as("_m"))
        .select(col("b"), col("cid"), expr(
          s"transform(_m.s1, s -> cast(cast(s as double) / (_m.n * ${Fp}D) as float))")
          .as("cent"))
        .withColumn("cn2", dot(col("cent"), col("cent"))))
      i += 1
    } }
    subs.unpersist()
    // local relation: broadcasting/writing it costs no cluster job, and
    // callers' unpersist() is a harmless no-op
    books
  }

  /** The PQ index: (vec_id, codes array<int>[m], vnorm, rnorm). This
    * is the relation a production deployment persists; everything
    * downstream of the one-off encode touches codes only. `rnorm` is
    * the norm of the RECONSTRUCTION (sqrt of the chosen sub-centroids'
    * cn2 sum — blocks are orthogonal coordinate slices, so the squared
    * norms add): dividing ADC by it instead of the true `vnorm`
    * cancels the centroid-shrinkage bias of trained codebooks
    * (the norm-correction SCALE.md's PQ sweep calls for at low ksub).
    */
  def encode(corpus: DataFrame, books: DataFrame, m: Int, dim: Int): DataFrame =
    corpus
      .select(col("vec_id"),
        graft.functions.GraftFunctions.vecNorm(col("embedding")).as("vnorm"),
        blocks(col("embedding"), m, dim).as("bs"))
      .select(col("vec_id"), col("vnorm"), col("bs.b").as("b"), col("bs.sub").as("_sub"))
      .join(broadcast(books), "b")
      .withColumn("_dist", col("cn2") - lit(2.0) * dot(col("_sub"), col("cent")))
      .groupBy(col("vec_id"), col("b"))
      // vnorm is constant per vec_id; first() carries it through both
      // aggregates so the norm never needs a second corpus scan + join
      .agg(min(struct(col("_dist"), col("cid"), col("cn2"))).as("_best"),
        first(col("vnorm")).as("vnorm"))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(b, _best.cid as cid))), s -> s.cid)")
        .as("codes"), first(col("vnorm")).as("vnorm"),
        sqrt(sum(col("_best.cn2"))).as("rnorm"))

  /** ADC top-k with exact re-rank. `queries` must be small (broadcast,
    * same contract as the other Similarity searchers).
    */
  def topKPq(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 16, dim: Int = 64, rerankMult: Int = 8): DataFrame = {
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    topKPqWith(corpus, queries, k, codebooks(corpus, m, ksub, dim), m, dim, rerankMult)
  }

  /** Per-(query, block, cid) partial dots: nq·m·ksub rows, always
    * broadcast — the ADC lookup table of Jégou et al. §4.1 as a
    * relation.
    */
  private def queryLut(queries: DataFrame, books: DataFrame, m: Int, dim: Int): DataFrame =
    queries
      .select(col("vec_id").as("query_id"), blocks(col("embedding"), m, dim).as("bs"))
      .select(col("query_id"), col("bs.b").as("b"), col("bs.sub").as("_qsub"))
      .join(books, "b")
      .select(col("query_id"), col("b"), col("cid"),
        dot(col("_qsub"), col("cent")).as("_pdot"))

  private def queryNorms(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("query_id"),
      graft.functions.GraftFunctions.vecNorm(col("embedding")).as("_qn"))

  /** ADC top-R then exact re-rank on fetched true vectors — narrow ids
    * only through the candidate set.
    */
  private[graft] def rerankTopK(adc: DataFrame, corpus: DataFrame, queries: DataFrame,
      qnorms: DataFrame, k: Int, rerankMult: Int): DataFrame = {
    val cands = Similarity.heapTopK(adc, rerankMult * k)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col("vec_id").as("query_id"), col("embedding").as("_qe"))
    val cv = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("_ce"),
      graft.functions.GraftFunctions.vecNorm(col("embedding")).as("_cn"))
    val exact = cands
      .join(cv, "neighbor_id")
      .join(broadcast(qv.join(qnorms, "query_id")), "query_id")
      .withColumn("cosine", dot(col("_qe"), col("_ce")) / (col("_qn") * col("_cn")))
    Similarity.heapTopK(exact, k)
  }

  /** PQ search against a PREBUILT codebook relation (seed or
    * Lloyd-trained) — sweeps and repeated query batches reuse one
    * codebook instead of re-deriving it per call.
    */
  def topKPqWith(corpus: DataFrame, queries: DataFrame, k: Int,
      books: DataFrame, m: Int, dim: Int, rerankMult: Int,
      normCorrect: Boolean = false): DataFrame = {
    val index = encode(corpus, books, m, dim)
      .persist(StorageLevel.MEMORY_AND_DISK)
    topKPqOnIndex(index, corpus, queries, k, books, m, dim, rerankMult, normCorrect)
  }

  /** PQ search over a PREBUILT (typically persisted) [[encode]]
    * relation — callers scoring several query batches or several search
    * variants share ONE coded corpus instead of re-encoding per call
    * (sim_recall_report's pq/ivfpq/ivfpq_nc arms ride one index).
    * `index` must be the encode() of `corpus` under `books`.
    */
  def topKPqOnIndex(index: DataFrame, corpus: DataFrame, queries: DataFrame, k: Int,
      books: DataFrame, m: Int, dim: Int, rerankMult: Int,
      normCorrect: Boolean = false): DataFrame = {
    val lut = queryLut(queries, books, m, dim)
    val qnorms = queryNorms(queries)
    // normCorrect divides ADC by the reconstruction's norm, not the
    // vector's: ⟨q,v̂⟩/(|q||v̂|) is the cosine of the thing ADC actually
    // measured, immune to trained-centroid norm shrinkage. Default off:
    // the committed fixtures pin the classic |v| form on seed books.
    val denomNorm = if (normCorrect) "rnorm" else "vnorm"

    // ADC: explode the code stream, LUT-join, sum the m partial dots.
    // The m rows of one vector stay inside one partition (they come
    // from a single posexplode), so the partial agg folds them in
    // block order — deterministic double math the fixture mirrors.
    val adc = index
      .select(col("vec_id").as("neighbor_id"), col(denomNorm).as("_vn0"),
        posexplode(col("codes")).as(Seq("b", "cid")))
      .join(broadcast(lut), Seq("b", "cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("_pdot")).as("_adc"), first(col("_vn0")).as("_vn"))
      .join(broadcast(qnorms), "query_id")
      .withColumn("cosine", col("_adc") / (col("_qn") * col("_vn")))

    rerankTopK(adc, corpus, queries, qnorms, k, rerankMult)
  }

  /** OPQ-style dimension allocation (the "natural parameterization"
    * initialization of Ge et al. 2013, "Optimized Product
    * Quantization"): a PERMUTATION of the dimensions — an orthogonal
    * transform, so cosine/L2 are exactly preserved — that deals
    * dimensions onto the m blocks in serpentine order of descending
    * variance, equalizing per-block energy so no single sub-quantizer
    * carries most of the quantization error (the failure mode when
    * high-variance dims cluster in one block). Full OPQ alternates an
    * SVD-learned rotation with codebook training; the allocation step
    * is the distributed-friendly part (one tiny aggregate, no d×d
    * eigendecomposition on the driver) and captures most of the gain
    * on axis-correlated data.
    *
    * Deterministic: variance from fixed-point long sums (same device
    * as [[trainCodebooks]]), ties broken by dimension index — safe to
    * pair with fixture oracles.
    */
  def varianceBalancedPerm(corpus: DataFrame, m: Int, dim: Int): Seq[Int] = {
    val Fp = 1048576.0
    // one-pass moments via VecMomentsFp (the s2 upper-triangle DIAGONAL
    // is exactly Σ⌊xᵢ²·fp⌋) — replaces a dim×-row posexplode through a
    // hash aggregate with one running-array partial per partition
    val row = corpus.agg(graft.functions.GraftFunctions
      .vecMomentsFp(col("embedding"), Fp, dim, outer = true).as("m"))
      .head().getStruct(0)
    val n = row.getLong(0).toDouble
    val s1 = row.getSeq[Long](1)
    val s2 = row.getSeq[Long](2)
    val stats = (0 until dim).map { d =>
      val mean = s1(d).toDouble / (n * Fp)
      val ex2 = s2(d * dim - d * (d - 1) / 2).toDouble / (n * Fp)
      (d, ex2 - mean * mean)
    }
    require(stats.length == dim, s"expected $dim dims, saw ${stats.length}")
    val ordered = stats.sortBy { case (d, v) => (-v, d) }.map(_._1)
    // serpentine deal: 0..m-1, m-1..0, ... so block variance sums stay
    // balanced (greedy round-robin would bias early blocks high)
    val blocks = Array.fill(m)(List.empty[Int])
    ordered.zipWithIndex.foreach { case (d, i) =>
      val round = i / m
      val pos = i % m
      val b = if (round % 2 == 0) pos else m - 1 - pos
      blocks(b) = d :: blocks(b)
    }
    blocks.toSeq.flatMap(_.reverse)
  }

  /** Apply a dimension permutation to the embedding column (codegen'd
    * element_at projection — no UDF). `perm(j)` = source dim placed at
    * position j.
    */
  def permuteEmbedding(df: DataFrame, perm: Seq[Int]): DataFrame =
    df.withColumn("embedding",
      array(perm.map(p => element_at(col("embedding"), p + 1)): _*))

  /** IVF-PQ (Jégou et al. §5): centroid cells prune the candidate set,
    * PQ codes score what survives — the composed index is
    * (vec_id, cell, codes[m], vnorm), ~m+12 bytes/vector, and a query
    * touches only `nProbe/nCentroids` of it. At 100 TB this stacks the
    * two scale wins: IVF cuts the fraction of the corpus scanned,
    * PQ cuts the bytes per scanned row; exact vectors are fetch-joined
    * for the top-R re-rank ids only.
    *
    * Cells come from [[Similarity.assignCells]] over the same seed
    * centroids as `topKIvf` (deterministic, no tie on the test data —
    * asserted by the fixture generator); codebooks are the seed
    * codebooks, so the whole composition is bit-reproducible and
    * fixture-oracled.
    */
  def topKIvfPq(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      m: Int = 8, ksub: Int = 16, dim: Int = 64, rerankMult: Int = 8): DataFrame = {
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    val centroids = Similarity.centroidsFor(corpus, nCentroids, kmeansIters = 0)
    val books = codebooks(corpus, m, ksub, dim)
    topKIvfPqWith(corpus, queries, k, centroids, books, nProbe, m, dim, rerankMult)
  }

  /** IVF-PQ against PREBUILT centroid + codebook relations (seed or
    * trained) — the sweep entry point.
    */
  def topKIvfPqWith(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: DataFrame, books: DataFrame, nProbe: Int,
      m: Int, dim: Int, rerankMult: Int, normCorrect: Boolean = false): DataFrame = {
    val index = ivfPqIndex(corpus, centroids, books, m, dim)
      .persist(StorageLevel.MEMORY_AND_DISK)
    topKIvfPqOnIndex(index, corpus, queries, k, centroids, books, nProbe, m, dim,
      rerankMult, normCorrect)
  }

  /** The persisted production relation of IVF-PQ: coded corpus + cell
    * id. Exposed so callers can build it ONCE (optionally from an
    * already-persisted [[encode]] via the join in sim_recall_report)
    * and search it repeatedly with [[topKIvfPqOnIndex]].
    */
  def ivfPqIndex(corpus: DataFrame, centroids: DataFrame, books: DataFrame,
      m: Int, dim: Int): DataFrame = {
    val cells = Similarity.assignCells(corpus, centroids, "vec_id", "embedding", keep = 1)
      .withColumnRenamed("cid", "_cell")
    encode(corpus, books, m, dim).join(cells, "vec_id")
  }

  /** IVF-PQ search over a PREBUILT (typically persisted) [[ivfPqIndex]]
    * relation — the normCorrect and plain arms of one report share one
    * coded+celled corpus instead of re-encoding per arm.
    */
  def topKIvfPqOnIndex(index: DataFrame, corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: DataFrame, books: DataFrame, nProbe: Int,
      m: Int, dim: Int, rerankMult: Int, normCorrect: Boolean = false): DataFrame = {
    val probes = Similarity.assignCells(queries, centroids, "vec_id", "embedding", keep = nProbe)
      .select(col("vec_id").as("query_id"), col("cid").as("_cell"))
    val lut = queryLut(queries, books, m, dim)
    val qnorms = queryNorms(queries)
    val denomNorm = if (normCorrect) "rnorm" else "vnorm"

    // probe-join restricts the exploded code stream to probed cells
    // BEFORE the LUT join — the ADC scan is nProbe/nCentroids of the
    // PQ-only path. (query, neighbor) pairs are unique by construction:
    // one cell per corpus vector, distinct probes per query.
    val adc = index
      .join(broadcast(probes), Seq("_cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col(denomNorm).as("_vn0"),
        posexplode(col("codes")).as(Seq("b", "cid")))
      .join(broadcast(lut), Seq("query_id", "b", "cid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("_pdot")).as("_adc"), first(col("_vn0")).as("_vn"))
      .join(broadcast(qnorms), "query_id")
      .withColumn("cosine", col("_adc") / (col("_qn") * col("_vn")))

    rerankTopK(adc, corpus, queries, qnorms, k, rerankMult)
  }
}
