package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` of the headline queries to PLANS.md —
  * committed evidence that each plan is the intended 100 TB shape
  * (pushed filters, broadcast dims, no stray exchanges), reviewable
  * without running Spark.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> [outFile]
  */
object PlanDump {

  val headliners: Seq[(String, String)] = Seq(
    "q01_agg" -> "scan-bound agg: pushed filters, partial agg, 4-group exchange",
    "q03_join_agg_topk" -> "dims broadcast, one fact shuffle, TakeOrderedAndProject",
    "q04_exists_semijoin" -> "broadcast left-semi + runtime bloom filter shape",
    "opt_bucketed_join" -> "bucketed sort-merge join: NO exchange on either side",
    "eng_bucketed_ddl" -> "CLUSTERED BY DDL table: bucket-key agg with NO exchange",
    "opt_partition_pruning" -> "partition filters prune at file listing",
    "sim_topk_bruteforce" -> "broadcast queries x corpus scan, heap top-k agg, zero scoring shuffle",
    "sim_topk_ivfpq" -> "cell-pruned coded scan, broadcast LUT joins, id-only re-rank fetch",
    "dedup_minhash_lsh" -> "narrow signature relation, bucket-key join, candidate-only verify",
    "dedup_ngram_jaccard" -> "one O(distinct-fp) count agg, array-local prefix kernel, fp-merge verify",
    "dedup_span_chars" -> "O(chars) rolling-hash frequency agg, dup-position-only rebuild",
    "data_budget_select" -> "bucket totals + broadcast prefix sums, bounded windows, no global sort",
    "contamination_check" -> "broadcast eval grams, corpus never shuffles",
    "dedup_semantic" -> "broadcast centroids, cell-keyed pair scan, cluster-confined components",
    "data_prune_prototypes" -> "broadcast-centroid assign, ONE cid-keyed exchange under both windows",
    "dsir_importance" -> "constant-size LM collected to a driver LUT, scoring fused INSIDE the scan (GramLutSum) — only exchanges are the <=4096-row histogram and the per-doc output",
    "contamination_bloom" -> "NO join at all: bloom probe inside the scan projection, bit_or build exchange <= m/64 rows",
    "dedup_containment" -> "asymmetric prefix x full-index fp join, fetch-join verify, pinned verify partitions",
    "quality_classifier" -> "scoring pass: trained weights as a broadcast literal, margin kernel inside the scan, NO exchange before the label agg",
    "search_bm25" -> "matched-postings-only explode+filter in the scan, broadcast df/stats/query relations, heap top-k — one (doc,term)-combined exchange",
    "evt_anomaly" -> "two bounded aggregates (type x hour, then type), broadcast stats join — raw events never re-shuffle",
    "emb_pca" -> "projection stage: broadcast loadings join, decimal-summed dots, exchange keyed by (vec, component)",
    "opt_zorder" -> "rank-bucket dictionaries as broadcast joins over the scan, one range sort by the morton key",
    "sim_topk_sq8" -> "1-byte/dim coded scan, broadcast queries, fused ADC kernel, id-only re-rank fetch",
    "sim_topk_opq" -> "rotation+permutation inside the scan projection (d2 kernel, zero extra exchanges), then the trained-PQ search shape",
    "evt_attribution" -> "self interval join, pushed type filters on both scans; AQE broadcasts the small side at bench SF, falls back to ONE user-keyed shuffle at scale; interval predicate bounds the pair fan-out",
    "mm_phash_dedup" -> "8-byte perceptual sigs from the media scan, chunk-band self join, lowest-matching-chunk once-only pair emit (no pair-set shuffle)",
    "text_pmi" -> "fp-keyed vocab^2 pair histogram, broadcast unigram/dictionary joins, level-set survivor cut — strings only in the final fetch",
    "q46_range_frame" -> "one customer-keyed exchange, partition-local RANGE frame — no global sort before the window",
    "evt_sliding_agg" -> "hop-window instances exploded INSIDE the scan projection, one map-side-combined hash agg keyed by (window, type)",
    "chunk_overlap" -> "sequence/slice chunk explode INSIDE the scan projection — the only exchange is the output display sort, the chunker itself is scan-local",
    "sim_mmr_rerank" -> "brute-force pool broadcast back against the corpus scan for vector fetch, bounded per-query mapGroups — corpus never shuffles",
    "stats_psi_drift" -> "one map-side-combinable cell agg, then groups x buckets relations only (broadcast grid joins)",
    "data_temperature" -> "language-rate relation (|langs| rows) broadcast onto the corpus scan, md5 epoch gate in the projection — no corpus shuffle",
    "opt_compaction" -> "ONE range exchange of the fragment set being compacted, sorted within partitions for id-clustered files",
    "q48_ignore_nulls" -> "one user-keyed exchange, partition-local IGNORE NULLS frames — scales with users, not time",
    "pipeline_rag_index" -> "chunk explode + hash-embed kernel + broadcast query relation + per-query heap, ALL inside the scan — zero corpus shuffle",
    "search_rrf" -> "ONE matched-postings pass feeds both arms: combined per-(query,doc) aggregate, BOTH heaps in one per-query aggregate (Q-row checkpoint), fusion full-outer join of two tiny pooled relations",
    "corpus_delta" -> "md5-digest full-outer classification (16-byte rows, never text), id-only added/retained splits, cross-side-only LSH band probe for the delta dedup",
    "fmt_schema_evolution" -> "merged-footer scan: v1 files project lang as null, coalesce in the projection",
    "dedup_simhash" -> "64-bit sigs from the scan, Manku combination banding as constant-mask bitwiseAND band keys, distinct-signature collapse before the band join",
    "graph_pagerank" -> "per-superstep ONE O(edges) decimal-partial exchange; dangling mass folded into the update as a driver constant (no per-superstep aggregate)",
    "sim_topk_ivfpq_indexed" -> "SERVED search: the coded+celled corpus and codebooks SCAN from the standing index parquet (no training aggregate anywhere), broadcast probe/LUT joins, id-only re-rank fetch",
    "sim_topk_ivf_indexed" -> "SERVED IVF: celled corpus scans from the standing index (no k-means anywhere in the plan); only the nq-row query-cell assignment computes live",
    "sim_topk_lsh_indexed" -> "SERVED LSH: the persisted multi-table signature relation is the probe side — the corpus is never re-hashed; query signatures are an nq x tables relation",
    "sim_topk_sq8_indexed" -> "SERVED SQ8: grid + 1-byte/dim coded corpus scan from the standing index — no min/max aggregate, no encode pass; fused ADC kernel, id-only re-rank fetch",
    "sim_topk_opq_indexed" -> "SERVED OPQ: rotation/permutation + books + coded transformed corpus all scan from the standing index — no PCA/Jacobi, no Lloyd, no encode; re-rank rotates only candidate rows",
    "evt_attribution_stream_salted" -> "salted stream-stream interval join DRAINED relation: the plan is the sink scan; the salt fan-out/match-once machinery is upstream in the drain (SCALE.md round 9) — forced salt-all=4 here so the driver oracle hash-checks the mitigation every round",
    "corpus_delta_indexed" -> "standing band index scanned, O(changed) re-band union, added-side-only banding kernel, cross-side bucket probe — the retained corpus is never re-banded",
    "sql_shingle_jaccard" -> "array-local kernel prefix (scalar-subquery histogram), gram-keyed repartition for parallel pair emit, length filter in the join, Jaccard verify FUSED on raw matches against broadcast fp sets, dedup only on survivors")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append(s"Generated by `tools/PlanDump` at `$sfDir`. The annotation under\n")
    sb.append("each name states the property the plan is expected to show; the\n")
    sb.append("dump is the proof (re-generate after any operator change).\n")
    headliners.foreach { case (name, why) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n$why\n\n```\n$plan```\n")
      println(s"[plandump] $name ok")
    }
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plandump] wrote $out")
    spark.stop()
  }
}
