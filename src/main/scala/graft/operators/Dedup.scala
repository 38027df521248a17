package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for LLM-data pipelines (SURVEY.md §2D).
  *
  * Scale design: none of these ever materializes the O(n²) pair space,
  * and the pair-generating self-joins run on *narrow signature
  * relations* (id + bucket key), never on the documents themselves:
  *
  *   1. compute the locality-sensitive signature per id (the only
  *      full-corpus pass), persisted MEMORY_AND_DISK — it is orders of
  *      magnitude smaller than the corpus, and persisting stops the
  *      self-join from computing the expensive signature twice;
  *   2. self-join signatures on the bucket key → candidate id pairs
  *      (the only wide shuffle, keyed by a high-cardinality bucket);
  *   3. join the candidate pairs back to the corpus by id to fetch
  *      payloads (shingle sets / embeddings) and verify exactly.
  *
  * At 100 TB step 3's fetch joins touch only candidates; AQE's
  * skew-join splitting covers pathological buckets.
  *
  * Lifecycle note: signature relations are persisted MEMORY_AND_DISK
  * and stay cached until the session ends (Spark offers no safe point
  * to unpersist a lazy result's inputs). Long-lived sessions running
  * many dedup passes should call `spark.catalog.clearCache()` after
  * consuming each result (the bench harness does).
  */
object Dedup {

  /** Exact dedup: group on content hash, keep the smallest id.
    * One map-side-combinable aggregate; no joins.
    */
  def exact(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(md5(text).as("text_md5"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** MinHash signature straight from the fused fingerprint array —
    * the string-array MinHashSig's base hash IS fnv1a64 per shingle,
    * so riding ShingleFps output is bit-identical while shingle
    * strings never materialize (the equivalent nested-lambda SQL is
    * interpreted per element and ~1000x slower on real corpora).
    */
  private def minhashCol(numHashes: Int): Column =
    GraftFunctions.minhashSigFp(col("_fps0"), numHashes)

  /** Ordered candidate id pairs from equality on (narrow) bucket keys.
    *
    * `maxBucket`: optional degenerate-bucket guard for 100 TB runs — a
    * bucket of b members contributes b²/2 pairs, so one boilerplate
    * bucket (empty docs, templated pages) can dominate the whole job;
    * production pipelines drop buckets above a cap on the standard
    * assumption that exact/templated dupes were collapsed by [[exact]]
    * first. None (the default everywhere oracle-gated) keeps the
    * candidate set complete.
    */
  /** Width for pair-machinery exchanges, from a corpus ROW-COUNT hint
    * (0 = unknown): one partition per ~1 000 docs, floored at the
    * session shuffle width, capped at 4096. Row count is the ONE
    * usable pre-execution statistic here: Catalyst's estimate of a
    * cached explode is off by orders of magnitude (it planned the 50×
    * blocking join as a 360 MB "broadcast"), leaf parquet BYTES are
    * wrecked by clone compression (the 50× corpus is 28 MB on disk —
    * 3 partitions' worth — for 250 k docs of work), AQE sizes by
    * exchange INPUT bytes which the join output explodes ~24× past,
    * and a count() of the signature relation itself costs a separate
    * materialization job (measured +1 s/query at sf0.1). The hint
    * rides for free from the density probe's sample count.
    */
  private def hintedParts(df: DataFrame, docsHint: Long): Int =
    math.max(df.sparkSession.sessionState.conf.numShufflePartitions,
      math.min(4096L, docsHint / 1000L).toInt)

  private def candidatePairs(sigs: DataFrame, keys: Seq[String],
      maxBucket: Option[Int] = None, docsHint: Long = 0L): DataFrame = {
    // persist BEFORE the bucket-size pass so the (expensive) signature
    // pipeline is computed once, not once per reuse
    val src = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    // Bucket self-joins EXPLODE: output rows = Σ bucket(b)² over
    // buckets, invisible to Catalyst and AQE (see [[hintedParts]]) —
    // at the 50×-density stress the planner ran join + partial dedup
    // inside the SCAN's 7 partitions: 1502 s of a 1607 s query, 39 GB
    // spill from 76 M-row per-task partial-dedup tables. With a
    // docsHint the signature relation is repartitioned by the bucket
    // key: the self-join is co-partitioned (no further exchange) and
    // every per-task partial-dedup table is right-sized. Re-measured
    // at 50× (SCALE.md, "Stage anatomy and the fix"): 1607 s → 210 s, zero
    // spill, same 6 762 599 pairs. At or below the session width the
    // repartition is skipped — the relation is broadcast-small there
    // and the extra exchange only costs (measured +1.5 s/query at
    // sf0.1).
    val parts = hintedParts(sigs, docsHint)
    val kept = maxBucket match {
      case Some(cap) =>
        val sizes = src.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("_bn"))
          .filter(col("_bn") <= cap)
          .drop("_bn")
        src.join(sizes, keys) // keep rows in small-enough buckets only
      case None => src
    }
    val spread =
      if (parts <= sigs.sparkSession.sessionState.conf.numShufflePartitions) kept
      else kept.repartition(parts, keys.map(col): _*)
    val left = spread.withColumnRenamed("doc_id", "doc_a")
    val right = spread.withColumnRenamed("doc_id", "doc_b")
    val raw = left.join(right, keys)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    // The distinct needs the hinted width too — and partial (map-side)
    // dedup can't help it: a pair that shares m bucket keys surfaces
    // once per key, in m DIFFERENT key-hash partitions, so the full
    // occurrence volume always crosses this exchange. dropDuplicates
    // alone plans the session width (32 reducers × 16.6 M-row dedup
    // tables spilled 38 GB at 50×); pre-partitioning by exactly the
    // dedup keys at the hinted width makes dropDuplicates exchange-free
    // on top of it and right-sizes every dedup table.
    (if (parts <= sigs.sparkSession.sessionState.conf.numShufflePartitions) raw
     else raw.repartition(parts, col("doc_a"), col("doc_b")))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** 128-bit fingerprint of each document's DISTINCT k-shingle set.
    * Docs with identical sets are interchangeable for every set-based
    * similarity in this file — Jaccard, containment, and the minhash
    * signature are all pure functions of the set — so
    * [[collapsedPairs]] runs the pair machinery once per distinct set
    * and recovers member pairs by expansion.
    *
    * Returns (members, repIds): members = one (doc_id, _k1, _k2) row
    * per doc with a non-empty shingle set (24 B/doc, persisted — it
    * seats the intra self-join and both expansion joins); repIds = the
    * minimum doc id per distinct set, carrying the set key. Two
    * independent xxhash64 passes over the sorted fingerprint array
    * make the collision probability 2⁻¹²⁸-per-pair — below the
    * already-accepted per-shingle fnv1a64 fingerprint tolerance.
    * Empty shingle sets are dropped on both sides: they produce no
    * blocking keys in any machinery and verify to 0/NaN scores, so
    * they never appear in the doc-level output either.
    */
  private[graft] def setGroups(docs: DataFrame, k: Int): (DataFrame, DataFrame) = {
    // fused ShingleFps kernel: bit-identical to
    // array_sort(transform(shingles, fnv1a64)) with no per-shingle
    // string/set allocation (see TextHashes.shingleFps)
    val members = docs
      .select(col("doc_id"), GraftFunctions.shingleFps(col("text"), k).as("_fps"))
      .filter(size(col("_fps")) > 0)
      .select(col("doc_id"),
        xxhash64(col("_fps")).as("_k1"),
        xxhash64(lit(0x9E3779B97F4A7C15L), col("_fps")).as("_k2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val repIds = members.groupBy(col("_k1"), col("_k2"))
      .agg(min(col("doc_id")).as("doc_id"))
    (members, repIds)
  }

  /** Clone-collapse harness shared by [[minhashLsh]], [[ngramJaccard]]
    * and [[containment]]: `core` runs over ONE representative doc per
    * distinct shingle set; identical-set pairs (score exactly 1.0 —
    * J = C = 1 iff the sets are equal) come from an output-bound
    * self-join on the set key, and cross-set rep pairs expand back to
    * member pairs through the group membership (each unordered pair
    * surfaces exactly once: groups are disjoint and the rep pair is
    * unique per group pair).
    *
    * Why: near-dup corpora are exactly the corpora where whole clone
    * families share one shingle set (simhash's distinct-signature
    * collapse, measured 158 → 6.5 s on a clone-heavy 125 k corpus, is
    * the same effect one level down). Candidate generation, frequency
    * histograms and the verify then scale with DISTINCT sets, while
    * clone mass costs only its inherent output. The overhead on a
    * clone-LIGHT corpus would be the 24 B/doc key pass plus ~8 extra
    * (broadcast-tiny but stage-count-real) joins — measured ~2× wall
    * on the sf0.1 exclusive bench where per-query fixed costs
    * dominate — so the collapse is DENSITY-ADAPTIVE: a ⅛-sample
    * approx-distinct probe decides, and corpora with <5% sampled set
    * duplication keep the doc-level plan byte-for-byte (same output
    * either way; the switch only picks the cheaper identical-result
    * plan, the same contract as resolveComponents' union-find guard).
    */
  private val CollapseDensity = 0.95

  /** Default docs-hint threshold above which [[containmentDistinct]]'s
    * prefix-fp semi-filter ships as a bounded bloom sketch instead of
    * an exact broadcast (≈10 distinct prefix fps/doc ⇒ ~30 M longs =
    * a 240 MB broadcast at 3 M docs — past the point where the 16 MB
    * sketch wins). [[containment]] takes it as a parameter so the spec
    * can force the bloom arm on the fixture and assert identical
    * output.
    */
  val DefaultBloomSemiFilterDocs: Long = 3000000L

  private def collapsedPairs(docs: DataFrame, k: Int, threshold: Double,
      scoreName: String, aCol: String, bCol: String, directional: Boolean,
      maxGroup: Option[Int] = None)(
      core: (DataFrame, Long) => DataFrame): DataFrame = {
    // Density probe: a deterministic ⅛ doc sample, keyed and counted
    // approximately in ONE small job (HLL++ on the 64-bit set hash).
    // Both plans produce identical output — the probe only picks the
    // cheaper one — so approximation and sampling bias are harmless:
    // sampling splits small clone groups and so UNDER-estimates dup
    // density, which only ever errs toward the doc-level plan that is
    // the right call at low density anyway. The probe shingles ⅛ of
    // the docs and materializes nothing, so the clone-light overhead
    // is one sub-scan instead of a full keyed corpus pass.
    val fps = GraftFunctions.shingleFps(col("text"), k)
    val probe = docs
      .filter(pmod(xxhash64(col("doc_id")), lit(8)) === 0)
      .select(xxhash64(fps).as("_pk"))
      .agg(count(lit(1)).as("n"), approx_count_distinct(col("_pk")).as("s"))
      .head()
    // the probe's sampled counts double as the corpus-size hint that
    // widths the pair-machinery exchanges ([[hintedParts]])
    val docsEst = probe.getLong(0) * 8
    val setsEst = probe.getLong(1) * 8
    // The doc-level early exit is a pure plan choice ONLY when no cap
    // is set: with `maxGroup` the collapsed formulation (groups of
    // identical sets, buckets of distinct sets) IS the documented cap
    // semantics, and the doc-level plan's doc-counted buckets would
    // differ — so a sample statistic must never pick between them.
    if (maxGroup.isEmpty &&
      probe.getLong(1) > CollapseDensity * probe.getLong(0)) return core(docs, docsEst)
    val (allMembers, allRepIds) = setGroups(docs, k)
    // `maxGroup` is [[minhashLsh]]'s maxBucket guard carried to the
    // collapse level: a clone family of g docs IS the degenerate
    // bucket the cap exists for (pre-collapse it flooded every band
    // bucket past the cap, silencing the family entirely), so groups
    // above the cap are dropped wholesale — no intra pairs, not in
    // the rep machinery.
    val (members, repIds) = maxGroup match {
      case Some(cap) =>
        val keptKeys = allMembers.groupBy(col("_k1"), col("_k2"))
          .agg(count(lit(1)).as("_gn"))
          .filter(col("_gn") <= cap)
          .drop("_gn")
        (allMembers.join(keptKeys, Seq("_k1", "_k2")),
          allRepIds.join(keptKeys, Seq("_k1", "_k2")))
      case None => (allMembers, allRepIds)
    }
    val repDocs = docs.join(repIds.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val intra = members.select(col("_k1"), col("_k2"), col("doc_id").as(aCol))
      .join(members.select(col("_k1"), col("_k2"), col("doc_id").as(bCol)), Seq("_k1", "_k2"))
      .filter(if (directional) col(aCol) =!= col(bCol) else col(aCol) < col(bCol))
      .select(col(aCol), col(bCol), lit(1.0).as(scoreName))
      .filter(lit(1.0) >= lit(threshold))
    val cross = core(repDocs, setsEst)
      .join(repIds.select(col("doc_id").as(aCol), col("_k1").as("_ka1"), col("_k2").as("_ka2")), Seq(aCol))
      .join(repIds.select(col("doc_id").as(bCol), col("_k1").as("_kb1"), col("_k2").as("_kb2")), Seq(bCol))
      .join(members.select(col("_k1").as("_ka1"), col("_k2").as("_ka2"), col("doc_id").as("_ida")), Seq("_ka1", "_ka2"))
      .join(members.select(col("_k1").as("_kb1"), col("_k2").as("_kb2"), col("doc_id").as("_idb")), Seq("_kb1", "_kb2"))
      .select(
        (if (directional) col("_ida") else least(col("_ida"), col("_idb"))).as(aCol),
        (if (directional) col("_idb") else greatest(col("_ida"), col("_idb"))).as(bCol),
        col(scoreName))
    intra.unionByName(cross)
  }

  /** (doc_id, band, bucket) LSH banding projection — shared by the
    * batch and streaming dedup paths: the stream/batch equivalence
    * oracle (dedup_stream_minhash ≡ dedup_minhash_lsh) depends on both
    * sides computing literally this expression.
    */
  private[graft] def bandBuckets(
      docs: DataFrame, k: Int, bands: Int, rowsPerBand: Int): DataFrame =
    bandBucketsOnRel(
      docs.select(col("doc_id"), GraftFunctions.shingleFps(col("text"), k).as("_fps0")),
      bands, rowsPerBand)

  /** [[bandBuckets]] over an already-shingled (doc_id, _fps0) relation —
    * the minhash/band expressions are literally the same, so a caller
    * that persists the shingle relation ONCE (the most expensive map
    * work in every pair operator) can derive banding AND the exact
    * verify from one corpus pass instead of re-shingling per subplan.
    */
  private[graft] def bandBucketsOnRel(
      sh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sh.withColumn("_minhash", minhashCol(bands * rowsPerBand))
      .select(col("doc_id"),
        explode(expr(
          s"""transform(sequence(0, ${bands - 1}),
             |  b -> named_struct(
             |    'band', b,
             |    'bucket', xxhash64(slice(_minhash, b * $rowsPerBand + 1, $rowsPerBand))))"""
            .stripMargin)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  /** Fetch shingle-set fingerprints for both sides of candidate pairs
    * and compute Jaccard (exact modulo 2^-64 fingerprint collisions —
    * the same device the prefix ordering runs on). Shared with the
    * streaming path (stream-static joins use the same expression).
    *
    * Two measured choices:
    *  - Jaccard runs on SORTED 64-bit fingerprint arrays through a
    *    linear-merge kernel. array_intersect + array_union on string
    *    arrays MATERIALIZE both result arrays per pair just to take
    *    their sizes — on a clone-heavy corpus (20 M candidates, sf1d)
    *    that allocation churn was the dominant cost of the whole op.
    *  - candidate pairs are BYTE-tiny but COMPUTE-heavy, so AQE's
    *    size-based coalesce funnels them into one partition and the
    *    verify runs single-threaded — measured 9.6 s vs 2.3 s at
    *    202 k pairs. The explicit partition count pins the exchange
    *    against re-coalesce; it moves only 16-byte id pairs.
    */
  /** The (doc_id, sorted shingle fps) verify relation — exposed so the
    * STREAMING drains can materialize it ONCE per drain
    * (localCheckpoint) instead of re-running the corpus shingle pass
    * inside every micro-batch's stream-static fetch-join (2 joins × N
    * batches re-evaluations otherwise).
    */
  private[graft] def shingleRelation(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
      GraftFunctions.shingleFps(col("text"), k).as("_fps"))

  private[graft] def verifyJaccard(pairs: DataFrame, docs: DataFrame, k: Int,
      docsHint: Long = 0L): DataFrame =
    verifyJaccardOnRel(pairs, shingleRelation(docs, k), docsHint)

  private[graft] def verifyJaccardOnRel(pairs: DataFrame, sh: DataFrame,
      docsHint: Long = 0L): DataFrame = {
    // The spread takes the hinted width so the verify compute scales
    // with pair volume. The fetch joins themselves are left to the
    // planner: forcing a shuffle join here materializes an exchange
    // whose rows carry the fetched arrays (measured 50+ GB of shuffle
    // files at the 50× stress — it filled the disk), while the
    // broadcast plan moves each doc's array once inside the broadcast.
    val spread = pairs.repartition(hintedParts(pairs, docsHint), col("doc_a"))
    spread
      .join(sh.select(col("doc_id").as("doc_a"), col("_fps").as("_fp_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("_fps").as("_fp_b")), "doc_b")
      .withColumn("jaccard",
        GraftFunctions.jaccardSortedFp(col("_fp_a"), col("_fp_b")))
  }

  /** MinHash + LSH near-dup pairs: k-shingles → `bands`×`rowsPerBand`
    * signature → per-band bucket join → candidate pairs → exact
    * Jaccard verify ≥ `threshold`.
    *
    * Runs clone-collapsed ([[collapsedPairs]]): identical shingle sets
    * produce identical signatures, so a clone family would otherwise
    * meet in EVERY band (bands·C(g,2) candidate rows + g² verify
    * fetches for output that is known to be 1.0); pair-for-pair the
    * output is unchanged because a cross-set pair's signatures — and
    * hence its band collisions and verified Jaccard — are exactly its
    * reps'. `maxBucket` applies at BOTH levels: clone families above
    * the cap are dropped wholesale (pre-collapse they flooded every
    * band bucket past the cap, silencing the family — the same
    * templated-boilerplate guard), and banding buckets of distinct
    * sets above the cap are dropped as before.
    */
  def minhashLsh(
      docs: DataFrame,
      k: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.8,
      maxBucket: Option[Int] = None): DataFrame =
    collapsedPairs(docs, k, threshold, "jaccard", "doc_a", "doc_b",
      directional = false, maxGroup = maxBucket) { (reps, est) =>
      // ONE persisted shingle pass feeds banding AND the exact verify
      // (guide §2.4/§5): unshared, the fused shingle kernel — the
      // dominant map cost — re-ran per subplan (banding + two verify
      // fetch sides = 3 full corpus passes).
      val sh = reps.select(col("doc_id"),
        GraftFunctions.shingleFps(col("text"), k).as("_fps0"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val sigs = bandBucketsOnRel(sh, bands, rowsPerBand)
      verifyJaccardOnRel(candidatePairs(sigs, Seq("band", "bucket"), maxBucket, est),
        sh.select(col("doc_id"), col("_fps0").as("_fps")), est)
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
    }

  /** Cross-corpus near-dup detection: an INCOMING batch against the
    * EXISTING training corpus — the incremental-ingestion op ("is this
    * new crawl already in the training set?"). Both sides band through
    * [[bandBuckets]]; only cross-side same-bucket candidates are
    * generated (never corpus×corpus — at 100 TB the corpus signatures
    * are a precomputed persisted relation and the per-batch cost is
    * O(batch signatures + matches)); exact Jaccard verifies candidates
    * fetched by id from the union. Ids must be disjoint across sides.
    */
  def crossCorpusPairs(corpus: DataFrame, newDocs: DataFrame, k: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.8): DataFrame = {
    // one persisted shingle pass per side: banding and the verify
    // fetch-joins all derive from it (see minhashLsh — same §2.4 share)
    val cSh = corpus.select(col("doc_id"),
      GraftFunctions.shingleFps(col("text"), k).as("_fps0"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nSh = newDocs.select(col("doc_id"),
      GraftFunctions.shingleFps(col("text"), k).as("_fps0"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cb = bandBucketsOnRel(cSh, bands, rowsPerBand)
      .select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val nb = bandBucketsOnRel(nSh, bands, rowsPerBand)
      .select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    val cands = cb.join(nb, Seq("band", "bucket"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccardOnRel(cands,
      cSh.unionByName(nSh).select(col("doc_id"), col("_fps0").as("_fps")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a").as("corpus_doc"), col("doc_b").as("new_doc"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** [[crossCorpusPairs]] with the corpus side's band signatures
    * arriving from a PREBUILT standing index relation (band, bucket,
    * doc_id) — exactly [[bandBuckets]] rows, persisted once — instead
    * of being re-banded per ingest. This is the 100 TB ingest shape:
    * per-snapshot cost is O(new-side signatures + matches); the
    * standing corpus is touched only by the bucket equi-join (which
    * prunes to colliding buckets) and by the id-keyed verify fetch of
    * candidate texts. `corpusDocs` is the text store the corpus-side
    * candidates verify against; its ids must cover the index's and be
    * disjoint from `newDocs`'.
    */
  def crossCorpusPairsOnIndex(corpusIndex: DataFrame, corpusDocs: DataFrame,
      newDocs: DataFrame, k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    // the new side's one persisted shingle pass feeds its banding and
    // the verify; the verify relation is the persisted union, so the
    // two fetch-join sides share one corpus shingle pass too
    val nSh = newDocs.select(col("doc_id"),
      GraftFunctions.shingleFps(col("text"), k).as("_fps0"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cb = corpusIndex.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val nb = bandBucketsOnRel(nSh, bands, rowsPerBand)
      .select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    val cands = cb.join(nb, Seq("band", "bucket"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val vSh = shingleRelation(corpusDocs, k)
      .unionByName(nSh.select(col("doc_id"), col("_fps0").as("_fps")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    verifyJaccardOnRel(cands, vSh)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a").as("corpus_doc"), col("doc_b").as("new_doc"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** SimHash near-dup pairs: 64-bit fingerprint, candidates from
    * combination banding, verified with bit_count(xor). Recall is
    * pigeonhole-EXACT for the requested `maxHamming` (see
    * [[hammingBandPairs]]).
    */
  def simhash(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingBandPairs(docs.select(col("doc_id"),
      GraftFunctions.simhash64(col("text")).as("_sig")), maxHamming)

  /** The banding/verify machinery of [[simhash]] over ANY 64-bit
    * signature relation (doc_id, _sig) — shared with the perceptual
    * media hash ([[Multimodal]] mm_phash_dedup).
    *
    * Combination banding (the near-duplicate fingerprint-table design
    * of Manku, Jain & Das Sarma, WWW'07): split the 64 bits into
    * `b` blocks and bucket each signature once per `(b - maxHamming)`-
    * block combination, keyed by those blocks' concatenated bits. A
    * pair within hamming ≤ maxHamming leaves ≥ b - maxHamming blocks
    * untouched, so it shares at least one combination bucket — recall
    * is EXACTLY the hamming contract for every maxHamming in [0, 15],
    * unlike plain 1-of-4 16-bit chunking (complete only to 3).
    *
    * Why not plain chunking: simhash bits are majority votes over a
    * shared vocabulary, so on a homogeneous corpus they are heavily
    * correlated — measured on a 125 k-doc derived corpus, unrelated
    * pairs center at hamming ~18/64 and single 16-bit chunks collide
    * so often that the bucket join degenerates toward all-pairs
    * (150 M candidates against 0.4 M true pairs; a bucket-size-capped
    * sub-banding refinement still left 53 s of verify work). Wider
    * ~32-bit combination keys cut random collisions by ~4000× AND
    * structurally prune the huge hamming-4..8 near-miss mass (flips in
    * ≥ 4 distinct blocks can no longer share any 3-block combination).
    * Two levers tune it: b − maxHamming blocks per key (key width ⇒
    * selectivity) and C(b, b−maxHamming) tables (row multiplication):
    * b = maxHamming + 3 gives (h+3 choose 3) tables — 20 at the
    * default h = 3 — so the distinct-signature relation fans out
    * 20×24 B rows per signature, still orders of magnitude under any
    * corpus payload. For h > 5 the table count would blow up, so fall
    * back to minimal b = h + 1 single-block keys (h+1 tables, the
    * generalized chunk scheme, still recall-complete).
    *
    * Blocks take INTERLEAVED bit positions (block i = bits ≡ i mod b):
    * simhash bit skew is position-correlated (neighboring-feature
    * weights), so contiguous blocks concentrate low-entropy bits into
    * the same key while interleaving mixes every key's entropy.
    *
    * On clone-dense relations banding runs over DISTINCT signatures
    * only (density-adaptive, one aggregate on the persisted signature
    * relation decides; clone-light relations band doc-level with the
    * same tables and the identical output). Exact clones —
    * simhash is flip-resistant, so replica families routinely share
    * one signature, and re-encoded media share one aHash — would
    * otherwise meet in EVERY table (a clone group of g docs costs
    * 20·C(g,2) bucket-join rows; measured 14 → 158 s on the
    * clone-heavy 125 k-media corpus when the 20-table layout ran
    * doc-level). Instead hamming-0 pairs come from an equality
    * self-join on the full signature (output-bound, no fanout), the
    * bucket join matches signature VALUES — each distinct pair once,
    * via its LOWEST flip-free combination, no pair-set shuffle — and
    * member expansion joins the ≤h-hamming signature pairs back to
    * doc ids. Every exchange carries 8-byte sigs / ids; banding cost
    * scales with distinct signatures, not corpus rows — the dup-denser
    * the corpus, the bigger the collapse.
    */
  private[graft] def hammingBandPairs(sigRel: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15, "maxHamming in [0, 15]")
    val b = if (maxHamming <= 5) maxHamming + 3 else maxHamming + 1
    val combos: IndexedSeq[IndexedSeq[Int]] =
      (0 until b).combinations(b - maxHamming).map(_.toIndexedSeq).toIndexedSeq
    // block i = the interleaved bit positions ≡ i (mod b), as a mask.
    // Two sigs agree on a block set iff their sigs masked to those
    // bits are equal, so the band key is ONE bitwiseAND with a
    // constant — no per-bit gather/compact expressions. (The first
    // cut compacted and packed each block; that inlined ~2 000
    // codegen ops per row across the 20 keys and cost ~3.5 s of
    // one-time Janino compile per query — measured 5.7 s cold /
    // 2.2 s warm at sf0.1, vs 2.6 s cold / 0.85 s warm with this
    // mask form; the 50×-corpus run halved too, 21.8 → 9.2 s.)
    val blockMask: IndexedSeq[Long] =
      (0 until b).map(i => (i until 64 by b).foldLeft(0L)((m, p) => m | (1L << p)))
    def comboMask(combo: IndexedSeq[Int]): Long =
      combo.foldLeft(0L)((m, i) => m | blockMask(i))

    val members = sigRel.select(col("doc_id"), col("_sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val bandCol = explode(array(combos.zipWithIndex.map { case (combo, t) =>
      struct(lit(t).as("t"), col("_sig").bitwiseAND(lit(comboMask(combo))).as("k"))
    }: _*)).as("tk")

    // lowest combination of _x-flip-free blocks; total for any pair
    // that matched some bucket, so the ELSE arm is never taken on
    // join output (kept as the last combo for expression totality)
    val lowestCombo = combos.zipWithIndex.init.foldRight(
      lit(combos.size - 1): Column) { case ((combo, t), els) =>
      when(col("_x").bitwiseAND(lit(comboMask(combo))) === 0, t).otherwise(els)
    }

    // Density-adaptive, like [[collapsedPairs]]: the signature-level
    // collapse arms (equality self-join, distinct, member expansion)
    // are ~8 extra stages that pay off exactly when clone families
    // share signatures — measured 0.62 → 5.6 s at the clone-light
    // sf0.1 (stage overhead, the data is trivial) vs 157 → 6.5 s on
    // the clone-heavy media corpus. One tiny aggregate on the 8-byte
    // persisted signature relation decides; both paths emit the
    // identical pair set (spec-asserted on both).
    val probe = members
      .agg(count(lit(1)).as("n"), approx_count_distinct(col("_sig")).as("s")).head()
    if (probe.getLong(1) > CollapseDensity * probe.getLong(0)) {
      // doc-level banding: each doc's rows carry its id; the lowest
      // flip-free combination rule keeps each pair exactly once
      val sigs = members.select(col("doc_id"), col("_sig"), bandCol)
        .select(col("doc_id"), col("_sig"), col("tk.t"), col("tk.k"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      sigs.select(col("t"), col("k"), col("doc_id").as("doc_a"), col("_sig").as("_sig_a"))
        .join(sigs.select(col("t"), col("k"), col("doc_id").as("doc_b"), col("_sig").as("_sig_b")),
          Seq("t", "k"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("_x", col("_sig_a").bitwiseXOR(col("_sig_b")))
        .withColumn("hamming", bit_count(col("_x")))
        .filter(col("hamming") <= maxHamming)
        .filter(col("t") === lowestCombo)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    } else {
      // hamming-0 arm: clone groups pair off on the full 64-bit value
      val equalPairs = members.select(col("_sig"), col("doc_id").as("doc_a"))
        .join(members.select(col("_sig"), col("doc_id").as("doc_b")), Seq("_sig"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), lit(0).as("hamming"))

      val sigs = members.select(col("_sig")).distinct()
        .select(col("_sig"), bandCol)
        .select(col("_sig"), col("tk.t"), col("tk.k"))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // distinct signature pairs within hamming ≤ h (≥ 1 by distinctness)
      val sigPairs = sigs.select(col("t"), col("k"), col("_sig").as("_sig_a"))
        .join(sigs.select(col("t"), col("k"), col("_sig").as("_sig_b")),
          Seq("t", "k"))
        .filter(col("_sig_a") < col("_sig_b"))
        .withColumn("_x", col("_sig_a").bitwiseXOR(col("_sig_b")))
        .withColumn("hamming", bit_count(col("_x")))
        .filter(col("hamming") <= maxHamming)
        .filter(col("t") === lowestCombo)
        .select(col("_sig_a"), col("_sig_b"), col("hamming"))

      // member expansion: each doc belongs to exactly one signature and
      // the sig pair is ordered, so every doc pair surfaces exactly once
      val crossPairs = sigPairs
        .join(members.select(col("_sig").as("_sig_a"), col("doc_id").as("_id_a")), Seq("_sig_a"))
        .join(members.select(col("_sig").as("_sig_b"), col("doc_id").as("_id_b")), Seq("_sig_b"))
        .select(least(col("_id_a"), col("_id_b")).as("doc_a"),
          greatest(col("_id_a"), col("_id_b")).as("doc_b"), col("hamming"))

      equalPairs.unionByName(crossPairs)
    }
  }

  /** EXACT n-gram Jaccard via prefix filtering (the AllPairs/PPJoin
    * principle, Bayardo et al., WWW'07): under a global shingle order
    * (ascending document frequency, ties by value), any two sets with
    * J >= t must share a shingle within each one's first
    * `|s| - ceil(t*|s|) + 1` shingles — so blocking on those prefix
    * shingles has recall EXACTLY 1, unlike min-hash blocking whose
    * per-pair recall is only ~j (measured: 7 of 256 true pairs missed
    * at sf0.1). The blocking keys are each document's RAREST shingles,
    * so bucket sizes stay tiny at scale; candidates are then verified
    * with exact Jaccard as usual.
    *
    * Cost: one shingle-frequency aggregate (map-side combined, 8-byte
    * fp keys) + one per-doc array-local order-and-cut. This is the
    * exact-result path; minhashLsh remains the probabilistic one.
    *
    * The global frequency order exists ONLY to make pruning effective
    * (rare shingles first ⇒ tiny blocking buckets); ANY total order
    * keeps recall exactly 1 by the prefix theorem. The order ships to
    * tasks as a bounded histogram: the `histLimit` hottest repeated
    * shingles (TakeOrdered — no full-vocab driver collect), as two
    * sorted primitive arrays; unlisted shingles count 0. Dropping
    * singletons to 0 is order-preserving (they only ever tied with
    * each other), so below `histLimit` the candidate set is IDENTICAL
    * to a full exact-frequency order; above it, truncation re-ties
    * only the coldest shingles. The per-doc prefix is then computed
    * ARRAY-LOCALLY (codegen'd FreqOrderedPrefix kernel) on the
    * already-per-doc shingle arrays — the round-2 shape's order join
    * and per-doc regroup (two more O(corpus-words) exchanges) are
    * gone, and the one remaining aggregate moves O(distinct
    * fingerprints), not O(corpus words), thanks to partial aggregation.
    *
    * `freqSampleRate` < 1 additionally estimates the histogram from a
    * deterministic hash sample of shingle occurrences — the zero-
    * corpus-shuffle posture for when even the frequency aggregate is
    * too much. Output pairs are unchanged (the verify is exact either
    * way) but pruning degrades: mid-frequency shingles the sample
    * misses tie at 0 and inflate buckets — measured 1.6x the
    * candidates and 4x the wall time at sf0.1, so the exact histogram
    * is the default.
    */
  def ngramJaccard(docs: DataFrame, k: Int = 3, threshold: Double = 0.7,
      freqSampleRate: Double = 1.0, histLimit: Int = 1 << 20): DataFrame =
    collapsedPairs(docs, k, threshold, "jaccard", "doc_a", "doc_b", directional = false)(
      ngramJaccardDistinct(_, _, k, threshold, freqSampleRate, histLimit))

  /** [[ngramJaccard]]'s machinery over a distinct-set corpus (one rep
    * per shingle set — the frequency histogram likewise counts each
    * distinct set once, which is the pruning-relevant statistic; any
    * order keeps recall exactly 1, see above). `docsHint` widths the
    * candidate and fetch exchanges ([[hintedParts]]).
    */
  private def ngramJaccardDistinct(docs: DataFrame, docsHint: Long, k: Int,
      threshold: Double, freqSampleRate: Double, histLimit: Int): DataFrame = {
    // all frequency/order/blocking bookkeeping — and the Jaccard
    // verify itself (see verifyJaccard) — runs on the 64-bit shingle
    // fingerprint, not the shingle string: 8-byte keys, exact up to
    // 2^-64-probability fingerprint collisions per shingle pair. The
    // fused ShingleFps kernel means shingle STRINGS never materialize
    // anywhere in this operator. Persisted: the histogram aggregate,
    // the prefix pass and both verify fetch sides all consume it —
    // unshared, the shingle kernel (the dominant map cost) re-ran 4×
    // over the full corpus per call (guide §2.4/§5).
    val sh = docs.select(col("doc_id"),
      GraftFunctions.shingleFps(col("text"), k).as("_fps0"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ex = sh.select(col("doc_id"), explode(col("_fps0")).as("h"))
    // deterministic occurrence sample: (doc_id, h) is unique per
    // occurrence (shingles are per-doc distinct), so hashing the pair
    // picks the same ~rate fraction on every partitioning
    val mod = math.max(1, math.round(1.0 / freqSampleRate).toInt)
    val sampled = if (mod <= 1) ex
      else ex.filter(pmod(xxhash64(col("doc_id"), col("h")), lit(mod)) === 0)
    val top = sampled
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .orderBy(col("cnt").desc, col("h"))
      .limit(histLimit)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .sortBy(_._1)
    // the histogram rides to tasks as two sorted primitive arrays
    // (codegen reference objects); the whole per-doc order-and-cut
    // happens in one array-local kernel — binary-searched counts,
    // local sort, prefix out. (element_at on a literal MAP is a linear
    // scan per lookup — O(shingles x histogram), measured 3.6x slower
    // whole-query at 5 k docs; the kernel is O(log K).)
    val keys = top.map(_._1)
    val vals = top.map(_._2)
    val prefixes = sh.select(col("doc_id"),
      explode(GraftFunctions.freqPrefix(col("_fps0"), keys, vals, threshold))
        .as("_block"))
    verifyJaccardOnRel(candidatePairs(prefixes, Seq("_block"), docsHint = docsHint),
      sh.select(col("doc_id"), col("_fps0").as("_fps")), docsHint)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Directional containment near-duplicates: ordered pairs
    * (doc_src, doc_dst) with C(src→dst) = |S_src ∩ S_dst| / |S_src| ≥
    * `threshold` — the asymmetric relation Jaccard CANNOT see: a page
    * quoting 95% of another, a doc embedded in a larger compilation,
    * boilerplate-wrapped reposts. (A 100-shingle doc inside a
    * 10 000-shingle doc has J ≈ 0.01 but C = 1.0 — minhash/LSH misses
    * it by construction.)
    *
    * Blocking is the ASYMMETRIC prefix filter (PPJoin family, Xiao et
    * al. 2008): probe side = each doc's freq-ordered containment
    * prefix (first ⌊(1−t)·n⌋+1 fps — same cut as the Jaccard prefix,
    * computed by the same array-local kernel); index side = EVERY fp
    * of every doc. Recall is EXACT by pigeonhole — if no prefix
    * element of A is in B then |A∩B| < t·|A| — for ANY prefix order,
    * so the DuckDB all-pairs oracle is a hard gate; the rarest-first
    * order only minimizes candidates. The index relation is
    * O(corpus-shingles) of 16-byte rows — the same honest exact cost
    * as [[ngramJaccard]]'s frequency aggregate, declared in SCALE.md;
    * the verify joins fetch sorted fp arrays once per side and the
    * containment divides the codegen'd linear-merge intersection by
    * |src|.
    */
  def containment(docs: DataFrame, k: Int = 3, threshold: Double = 0.9,
      histLimit: Int = 1 << 20,
      bloomSemiFilterDocs: Long = DefaultBloomSemiFilterDocs): DataFrame =
    collapsedPairs(docs, k, threshold, "containment", "doc_src", "doc_dst",
      directional = true)(
      containmentDistinct(_, _, k, threshold, histLimit, bloomSemiFilterDocs))

  /** [[containment]]'s machinery over a distinct-set corpus. The
    * directional expansion preserves the rep pair's orientation (C is
    * asymmetric); identical-set members get BOTH directions at 1.0
    * from the intra arm, exactly as the doc-level machinery emitted.
    */
  private def containmentDistinct(docs: DataFrame, docsHint: Long, k: Int,
      threshold: Double, histLimit: Int, bloomSemiFilterDocs: Long): DataFrame = {
    // fused fp arrays — shingle strings never materialize (see
    // ngramJaccardDistinct). Persisted: histogram, probe prefixes, the
    // positional index side and both verify fetch sides all consume it
    // — 5 full shingle passes otherwise (guide §2.4/§5).
    val sh = docs.select(col("doc_id"),
      GraftFunctions.shingleFps(col("text"), k).as("_fps0"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ex = sh.select(col("doc_id"), explode(col("_fps0")).as("h"))
    val top = ex
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .orderBy(col("cnt").desc, col("h"))
      .limit(histLimit)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .sortBy(_._1)
    val keys = top.map(_._1)
    val vals = top.map(_._2)
    val fps = col("_fps0")
    // POSITIONAL prefix filter (PPJoin, Xiao et al. 2008 §3.2): both
    // sides expose each fp's index in the SAME global (count, fp) order
    // (the freqOrder kernel — freqPrefix without the cut), and a match
    // at positions (i, j) bounds the overlap by
    //   O ≤ min(i, j) + 1 + min(|S|−i−1, |D|−j−1)
    // (common fps before the match sit before it in BOTH orders; after,
    // likewise). A pair survives iff some match passes — for the true
    // first common prefix fp the bound ≥ the true overlap, so recall
    // stays exactly 1 while near-miss candidates die before the pair
    // shuffle (measured at the 10× 50 k-doc corpus: 11.7 M → 6.8 M
    // candidates for 493 k true pairs; with the index semi-filter below,
    // whole-query shuffle r+w 479 → 290 MB and wall 22.1 → 17.6 s). The
    // bound check divides like the verify (O/|S| ≥ t, same double
    // arithmetic) so no integer-ceil edge can disagree with it.
    val ordered = sh.select(col("doc_id"),
      GraftFunctions.freqOrder(fps, keys, vals).as("_ord"))
    val take = (col("_n") - ceil(col("_n") * lit(threshold)) + lit(1)).cast("int")
    val prefixes = ordered
      .withColumn("_n", size(col("_ord")))
      .select(col("doc_id").as("doc_src"), col("_n").as("_ns"),
        posexplode(slice(col("_ord"), lit(1), greatest(take, lit(0)))).as(Seq("_i", "_block")))
    // Index rows whose fp occurs in NO probe prefix can never match the
    // equi-join — semi-filter them against the (much smaller,
    // rarest-shingles) distinct-prefix-fp relation, broadcast, before
    // the shuffle (2.65 M → 520 k index rows at the 10× corpus). At
    // corpora where the distinct prefix-fp set outgrows a broadcast
    // (gated on the row-count hint — the same pre-execution statistic
    // [[hintedParts]] uses) the filter ships as a BOUNDED bloom sketch
    // instead: prefix fps → k bit positions → a bit_or aggregate over
    // m/64 packed words (the Contamination.bloomOverlap build shape —
    // the exchange carries at most m/64 rows at ANY corpus size), and
    // the probe rides the index scan as a codegen reference object.
    // False positives only re-admit rows the equi-join discards, so
    // exactness holds on both arms.
    val probeFps = prefixes.select(col("_block")).distinct()
    val indexAll = ordered
      .withColumn("_n", size(col("_ord")))
      .select(col("doc_id").as("doc_dst"), col("_n").as("_nd"),
        posexplode(col("_ord")).as(Seq("_j", "_block")))
    val index =
      if (docsHint > 0 && docsHint > bloomSemiFilterDocs) {
        val m = 1 << 27 // 16 MB packed; ~10 fps/doc ⇒ <1% fp rate at 3M docs
        val nh = 4
        val words = probeFps
          .select(explode(GraftFunctions.bloomPositions(col("_block"), nh, m)).as("_pos"))
          .select(shiftright(col("_pos"), 6).as("_w"),
            expr("shiftleft(1L, cast(_pos % 64 as int))").as("_bit"))
          .groupBy(col("_w")).agg(bit_or(col("_bit")).as("_word"))
          .collect()
        val packed = new Array[Long](m / 64)
        words.foreach(r => packed(r.getLong(0).toInt) = r.getLong(1))
        indexAll.filter(
          GraftFunctions.bloomCountHits(array(col("_block")), packed, nh, m) > 0)
      } else indexAll.join(broadcast(probeFps), Seq("_block"), "left_semi")
    // (A pair-level PPJoin aggregate — count of shared prefix fps m with
    // O ≤ m + |S|−take — was measured WORSE here: the match rows arrive
    // partitioned by _block, not by pair, so the groupBy gets no
    // map-side combine and its wider rows cost more shuffle than the
    // extra candidates it kills: 211 vs 173 MB read, 19.3 vs 17.6 s.)
    // (Widening the blocking join and this distinct with the hinted
    // width was tried and showed no measurable 50× benefit — the
    // positional filter keeps their volumes in check; containment's
    // measured 50× win, 545 → 79 s, came from the hinted VERIFY
    // spread below.)
    val cands = prefixes.join(index, "_block")
      .filter(col("doc_src") =!= col("doc_dst"))
      .filter(
        (least(col("_i"), col("_j")) + lit(1) +
          least(col("_ns") - col("_i") - 1, col("_nd") - col("_j") - 1))
          .cast("double") / col("_ns") >= threshold)
      .select(col("doc_src"), col("doc_dst")).distinct()
    // ShingleFps output is already ascending-sorted — the verify's
    // sorted-merge relation is just a rename
    val sorted = sh.select(col("doc_id"), col("_fps0").as("_fps"))
    // same compute-funnel guard as verifyJaccard: candidate pairs are
    // byte-tiny, pin the partition count against AQE coalesce, at the
    // hinted width so the verify compute scales with pair volume (the
    // fetch joins stay planner-chosen — see verifyJaccard)
    val spread = cands.repartition(hintedParts(cands, docsHint), col("doc_src"))
    spread
      .join(sorted.select(col("doc_id").as("doc_src"), col("_fps").as("_fp_s")), "doc_src")
      .join(sorted.select(col("doc_id").as("doc_dst"), col("_fps").as("_fp_d")), "doc_dst")
      .withColumn("containment",
        GraftFunctions.commonSortedFp(col("_fp_s"), col("_fp_d")).cast("double")
          / size(col("_fp_s")))
      .filter(col("containment") >= threshold)
      .select(col("doc_src"), col("doc_dst"),
        round(col("containment"), 4).as("containment"))
  }

  /** Resolve near-dup pairs into kept documents: connected components
    * over the pair graph (a near-dup of a near-dup is the same
    * document family), keeping the minimum id per component.
    *
    * Distributed min-label propagation with path halving: every doc
    * starts labeled with itself; each round pushes the smaller label
    * across edges (one hop) and then shortcuts `label := label(label)`
    * — the pointer-doubling step that turns O(diameter) convergence
    * into O(log diameter), so a 100-node chain resolves in ~8 rounds.
    * Each round runs exactly ONE action (the convergence count is
    * computed on the persisted round output, no separate check job),
    * and the label relation is `localCheckpoint`ed every 4 rounds so
    * the logical plan depth stays bounded no matter how long the
    * chain. Only edge-endpoint docs carry labels; the full corpus is
    * touched once, by the final keep-set anti-join.
    */
  def resolveComponents(docs: DataFrame, pairs: DataFrame): DataFrame =
    resolveComponents(docs, pairs, DefaultLocalThreshold)

  /** As [[resolveComponents]], with the driver-local/distributed
    * switchover edge count exposed (set 0 to force the distributed
    * path on any graph, e.g. on a memory-constrained driver).
    */
  def resolveComponents(docs: DataFrame, pairs: DataFrame, localThreshold: Long): DataFrame = {
    val labels = propagateLabels(pairs, localThreshold)
    // kept = all docs minus non-representative members of components
    val dropped = labels.filter(col("doc_id") =!= col("label")).select(col("doc_id"))
    docs.select(col("doc_id"))
      .join(dropped, Seq("doc_id"), "left_anti")
  }

  /** The duplicate-family map: (doc_id, family_id) for every member of
    * a near-dup component, family_id = the component's minimum doc id.
    * This is what a curation pipeline joins against to pick survivors
    * under a custom policy (longest doc, highest quality, ...) instead
    * of [[resolveComponents]]'s keep-min-id default. Singleton docs
    * never enter the label relation — at corpus scale almost all docs
    * are singletons, so the map stays proportional to the duplicated
    * subset, not the corpus.
    */
  def componentMap(pairs: DataFrame): DataFrame = componentMap(pairs, DefaultLocalThreshold)

  /** As [[componentMap]], with the switchover edge count exposed. */
  def componentMap(pairs: DataFrame, localThreshold: Long): DataFrame =
    propagateLabels(pairs, localThreshold).select(col("doc_id"), col("label").as("family_id"))

  /** Default driver-local union-find switchover (see
    * [[propagateLabels]]'s JVM sizing note); callers with tighter
    * drivers pass their own via the public overloads.
    */
  val DefaultLocalThreshold: Long = 1000000L

  /** `localThreshold`: edge counts at or below it run a driver-local
    * union-find instead of the iterative join loop. The edge relation
    * is O(duplication), not O(corpus) — most corpora produce near-dup
    * graphs that fit a driver comfortably. Sizing is JVM-honest: 1 M
    * collected edges cost ~100–150 B each as boxed Rows/tuples plus
    * the parent map, ≈ 150–300 MB transient — safe on any real driver,
    * an order of magnitude under a naive 16 B/edge estimate. Graphs
    * above the threshold take the existing min-label/path-halving
    * loop; both produce identical (doc_id, min-component-id) labels.
    */
  private[graft] def propagateLabels(pairs: DataFrame, localThreshold: Long): DataFrame = {
    val edges = pairs.select(col("doc_a"), col("doc_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (edges.count() <= localThreshold) return localComponents(edges)
    // only docs that appear in any edge can change label
    var labels = edges.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .withColumn("label", col("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var cached = labels // the DataFrame whose plan actually holds the cache
    var changed = 1L
    var rounds = 0
    val maxRounds = 64 // path halving: log2(diameter) rounds needed
    while (changed > 0 && rounds < maxRounds) {
      // propose the min label reachable over one hop (both directions)
      val viaA = edges.join(labels.select(col("doc_id").as("doc_b"), col("label").as("lb")), "doc_b")
        .select(col("doc_a").as("doc_id"), col("lb").as("proposal"))
      val viaB = edges.join(labels.select(col("doc_id").as("doc_a"), col("label").as("la")), "doc_a")
        .select(col("doc_b").as("doc_id"), col("la").as("proposal"))
      val hop = labels.join(
        viaA.unionAll(viaB).groupBy("doc_id").agg(min("proposal").as("best")),
        Seq("doc_id"), "left")
        .select(col("doc_id"), least(col("label"), coalesce(col("best"), col("label"))).as("label"),
          col("label").as("_old"))
      // path halving: label := min(label, label(label)). Every label
      // value is itself a doc_id in `labels` (labels only ever take
      // existing member ids), so the lookup join always hits.
      val next = hop.join(
        labels.select(col("doc_id").as("label"), col("label").as("_ll")), Seq("label"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("_ll"), col("label"))).as("label"), col("_old"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // the one action of the round: materializes `next` AND returns
      // the convergence count
      changed = next.filter(col("label") =!= col("_old")).count()
      cached.unpersist()
      cached = next
      labels = next.select(col("doc_id"), col("label"))
      rounds += 1
      if (changed > 0 && rounds % 4 == 0) {
        val cp = labels.localCheckpoint() // truncate lineage
        cached.unpersist()
        cached = cp
        labels = cp
      }
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"Component resolution did not converge within $maxRounds rounds " +
          "(near-dup chain longer than the round budget) — raise maxRounds " +
          "or pre-cluster; refusing to return a silently-partial dedup.")
    labels
  }

  /** Driver-local path: collect the (small) edge set, union-find with
    * path compression, re-label every root to its component's min id,
    * parallelize the result back out.
    */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    // snapshot the key set: find() path-compresses (writes parent(c))
    // mid-loop, and mutable.HashMap iteration during modification is
    // undefined even when no keys are added
    val ks = parent.keys.toArray
    val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
    ks.foreach { n =>
      val r = find(n)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, n), n)
    }
    import spark.implicits._
    ks.toSeq.map(n => (n, minOfRoot(find(n)))).sortBy(_._1)
      .toDF("doc_id", "label")
  }

  /** Exact duplicated-span detection — the ExactSubstr-style dedup
    * signal ("Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2022, reduced to word granularity): for each
    * document, how many of its `w`-word windows also occur in some
    * OTHER document. Unlike the whole-doc operators above this catches
    * boilerplate shared across otherwise-distinct pages (licence
    * headers, navigation chrome) that whole-doc Jaccard misses.
    *
    * Shape: windows come from the codegen'd shingle kernel (distinct
    * per doc by construction) and are fingerprinted to 8 bytes BEFORE
    * the corpus-wide aggregate, so the shuffle carries (hash, count)
    * and (doc_id, hash) — never span text. Two aggregates + two narrow
    * joins; the docs relation is scanned THREE times (corpus span
    * count, per-doc dup membership, per-doc window count) rather than
    * persisting the shingle relation — each pass re-runs the codegen'd
    * kernel, trading CPU for zero cache footprint; a deployment that
    * scores spans repeatedly should persist the shingled relation
    * instead. Docs with ≤ w words contribute their whole text as one
    * window.
    */
  /** Spread a (doc_id, …) relation across the session's cores when its
    * scan has FEWER splits than that (the Multimodal.spreadIds shape,
    * guide §8): the span operators' window kernels generate O(chars)
    * rows per pass, and a single-row-group input serializes every pass
    * onto one core. The exchange carries the projected doc rows once;
    * at 100 TB scans have thousands of real splits, so the condition
    * self-disables and the repartition never runs — scale-adaptive,
    * not a fixture-tuned constant.
    */
  private def spreadDocs(d: DataFrame): DataFrame = Multimodal.spreadRows(d)

  def duplicatedSpans(docs: DataFrame, id: Column, text: Column, w: Int = 10): DataFrame = {
    // spread before the window kernel: three consumers (corpus span
    // count, dup membership, per-doc window count) all re-run it, and
    // a below-core-count scan serializes them (see spreadDocs)
    val base = spreadDocs(docs.select(id.as("doc_id"), rtrim(text).as("_t")))
    val t = col("_t")
    // fused kernel: identical fp multiset, no span strings materialized
    val spans = base
      .select(col("doc_id"), explode(GraftFunctions.shingleFps(t, w)).as("_h"))
    // spans are distinct within a doc, so count(*) == #docs containing
    val shared = spans.groupBy(col("_h"))
      .agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") > 1)
      .select(col("_h"))
    val perDoc = spans.join(shared, "_h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
    // length equals the string form's ALWAYS (string-exact dedup keeps
    // collision duplicates), so the count is identical, not just close
    base.select(col("doc_id"), size(GraftFunctions.shingleFps(t, w)).as("n_spans"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_dup_spans", coalesce(col("n_dup_spans"), lit(0L)))
      .withColumn("dup_span_frac",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 4))
  }

  /** Exact duplicated-span REMOVAL — the second half of the ExactSubstr
    * pipeline: rewrite each document dropping every word covered by a
    * `w`-word window that occurs more than once in the corpus
    * (including within-doc repeats, per the ExactSubstr definition —
    * unlike [[duplicatedSpans]], which counts per-doc-distinct
    * cross-doc sharing). Emits (doc_id, n_words, n_removed,
    * cleaned_md5) — the md5 stands in for the rewritten text so the
    * oracle compare stays narrow; a production sink would write the
    * rebuilt string column itself.
    *
    * Shape: positional windows come from the codegen'd ShinglesPos
    * kernel as 8-byte hashes (position = array index, no window text
    * materialized); the global duplicate filter and coverage expansion
    * exchange only (doc_id, int, long) triples. The one string-bearing
    * exchange is the final per-doc reassembly groupBy — irreducible,
    * because the OUTPUT is the rewritten corpus.
    */
  def removeDuplicatedSpans(docs: DataFrame, id: Column, text: Column, w: Int = 5): DataFrame = {
    // spread before the per-doc window/word explodes: the doc relation
    // is consumed three times (windows ×1, words ×1, final count ×1),
    // all serialized on one task at below-core-count scans; the
    // identical repartition subtrees share ONE exchange (ReuseExchange)
    val base = spreadDocs(docs.select(id.as("doc_id"), rtrim(text).as("_t")))
    val t = col("_t")
    val wins = base.select(col("doc_id"),
      posexplode(GraftFunctions.shinglesPos(t, w)).as(Seq("pos", "_h")))
    val dup = wins.groupBy(col("_h")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1).select(col("_h"))
    val covered = wins.join(dup, "_h")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (w - 1))).as("wp"))
      .distinct()
    val words = base.select(col("doc_id"),
      posexplode(split(t, " ")).as(Seq("wp", "_word")))
    val kept = words.join(covered, Seq("doc_id", "wp"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(wp, _word))), s -> s._word)")))
          .as("cleaned_md5"))
    base.select(col("doc_id"), size(split(t, " ")).as("n_words"))
      .join(rebuilt, Seq("doc_id"), "left")
      .withColumn("n_removed", (col("n_words") - coalesce(col("n_kept"), lit(0L))).cast("int"))
      .withColumn("cleaned_md5", coalesce(col("cleaned_md5"), md5(lit(""))))
      .select(col("doc_id"), col("n_words"), col("n_removed"), col("cleaned_md5"))
  }

  /** ExactSubstr span removal at CHARACTER granularity (the Lee et al.
    * 2022 semantics the word-window variant approximates): drop every
    * char covered by an `L`-char substring occurring ≥2 times in the
    * corpus. Exact by pigeonhole — any duplicated substring of length
    * ≥ L covers each of its chars with some duplicated L-window, and
    * every duplicated L-window IS a duplicated substring — so marking
    * chars covered by duplicated fixed-L windows reproduces the
    * suffix-array answer without one. Duplication is decided on a
    * 128-BIT key: the (h1, h2) pair from two independent polynomial
    * bases, computed in the same scan — an accidental false "dup"
    * needs a simultaneous two-base collision (~2^-128; at 100 TB ≈
    * 1e14 windows, SINGLE-64-bit birthday collisions are expected and
    * would silently delete unrelated text). The committed DuckDB
    * oracle groups RAW substrings, so fixture runs verify the
    * no-collision fact end-to-end. A raw-substring verify pass was
    * measured at 7.6× the shuffle (L-char strings through two
    * exchanges) and would add protection only against adversarially
    * crafted simultaneous-base collisions.
    *
    * Positions are UTF-16 offsets; for non-BMP text the StripSpans
    * rebuild snaps span edges outward to code-point boundaries so a
    * removal can never emit a lone surrogate (see the kernel note).
    *
    * Scale shape: the per-offset rolling hashes come from the O(len)
    * codegen'd CharWindows kernel (two bases in one scan; 8 B/offset
    * through the frequency shuffle — the honest O(corpus chars) cost,
    * same as the suffix array's); every other exchange is
    * O(duplication) in 24-byte rows, and the rebuild is a single-pass
    * interval-merge kernel (StripSpans), no per-covered-char
    * explosion. Join strategy for the dup relation is left to AQE:
    * with fixed-width 16-byte keys its runtime size estimate is
    * faithful (forcing shuffle_hash was measured 75× slower on a
    * dup-heavy corpus — SHJ build-side spill; the estimate trap only
    * bit the earlier raw-substring variant, whose string relation
    * compressed below the broadcast threshold).
    */
  def removeDuplicatedCharSpans(docs: DataFrame, id: Column, text: Column,
      L: Int = 20): DataFrame = {
    // spread before the O(chars) window kernels: the wins relation is
    // evaluated twice (dup aggregate + dup-position probe) and the
    // rebuild once — on a below-core-count scan all three serialized
    // on one task; the three identical repartition subtrees collapse
    // to ONE exchange (ReuseExchange), so the doc rows move once
    val base = spreadDocs(docs.select(id.as("doc_id"), rtrim(text).as("_t")))
    // zip the two hash arrays BEFORE exploding: each window row then
    // carries 16 bytes, not a reference to the whole per-doc array (a
    // first cut kept the second array alongside posexplode — Generate
    // copies retained child columns into EVERY output row, ~7 KB per
    // window, measured 200× slower at 50 k ScaleData docs)
    val wins = base
      .select(col("doc_id"),
        posexplode(arrays_zip(
          GraftFunctions.charWindows(col("_t"), L).as("h1"),
          GraftFunctions.charWindows(col("_t"), L, 0x9E3779B97F4A7C15L).as("h2")))
          .as(Seq("pos", "_hs")))
      .select(col("doc_id"), col("pos"),
        col("_hs.h1").as("_h"), col("_hs.h2").as("_h2"))
    // detection and 128-bit verification are ONE map-side-combinable
    // aggregate: a window is duplicated iff its (h1, h2) pair repeats.
    // Join strategy stays with the planner/AQE: forcing shuffle_hash
    // was measured 1.3× slower with 2.3× the shuffle at 50 k ScaleData
    // docs (SHJ re-exchanges both sides; the sort-merge pipeline
    // reuses the aggregate's partitioning on the dup side)
    val dup = wins.groupBy(col("_h"), col("_h2")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1).select(col("_h"), col("_h2"))
    val dupPos = wins.join(dup, Seq("_h", "_h2"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("_ps"))
    base
      .join(dupPos, Seq("doc_id"), "left")
      .withColumn("_cleaned", GraftFunctions.stripSpans(col("_t"),
        coalesce(col("_ps"), expr("array()").cast("array<int>")), L))
      .select(col("doc_id"), length(col("_t")).as("n_chars"),
        (length(col("_t")) - length(col("_cleaned"))).as("n_chars_removed"),
        md5(col("_cleaned")).as("cleaned_md5"))
  }

  /** Embedding-cosine near-dup pairs: candidates from random-hyperplane
    * sign buckets (see [[Similarity.signature]]), cosine verified on
    * candidate pairs only.
    *
    * Scale knobs: `bits` must grow with the corpus (fixed 8-bit = 256
    * buckets turns quadratic — measured 507 MB of fetch-join shuffle
    * at 100 k vectors vs 4 MB with bits=14), and since per-bucket
    * recall decays as agreement^bits, larger `bits` needs multiple
    * independent `tables` to recover it (recall ≈ 1-(1-p^bits)^tables,
    * the same trade as [[Similarity.topKLsh]]). The DEFAULT is the
    * scaled operating point: bits auto-sized to ceil(log2(n/16))
    * (clamped [4, 24] — ~16 vectors/bucket at any corpus size, one
    * count() to size it) with 8 plane families; pass explicit `bits`
    * to pin a configuration (sweeps, the *_mt fixture entry).
    */
  def embeddingCosine(embeddings: DataFrame, bits: Int = 0, threshold: Double = 0.35,
      tables: Int = 8): DataFrame = {
    val effBits =
      if (bits > 0) bits
      else {
        val n = embeddings.count()
        math.min(24, math.max(4,
          math.ceil(math.log(math.max(1.0, n / 16.0)) / math.log(2.0)).toInt))
      }
    val sigs = embeddings
      .select(col("vec_id").as("doc_id"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"), Similarity.signature(col("embedding"), effBits, t).as("_sig"))): _*)).as("ts"))
      .select(col("doc_id"), col("ts.t").as("t"), col("ts._sig").as("_sig"))
    val pairs = candidatePairs(sigs, Seq("t", "_sig"))
    val vecs = embeddings.select(col("vec_id"), col("embedding"),
      Similarity.l2norm(col("embedding")).as("_norm"))
    pairs
      .join(vecs.select(col("vec_id").as("doc_a"), col("embedding").as("_e_a"), col("_norm").as("_n_a")), "doc_a")
      .join(vecs.select(col("vec_id").as("doc_b"), col("embedding").as("_e_b"), col("_norm").as("_n_b")), "doc_b")
      .withColumn("cosine",
        Similarity.dot(col("_e_a"), col("_e_b")) / (col("_n_a") * col("_n_b")))
      .filter(col("cosine") >= threshold)
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"), round(col("cosine"), 4).as("cosine"))
  }
}
