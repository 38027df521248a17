package graft.tools

/** Scale-growth evidence for the dedup/ANN/text operators (VERDICT
  * round-1 item 4): run the §2D queries — the ones that only need
  * documents/embeddings — against any corpus directory (the driver's
  * sf dirs or a ScaleData-generated 10x corpus) and print the same
  * JSON shape as Bench, including per-query shuffle/spill bytes.
  * Comparing two corpus sizes shows whether time and shuffle volume
  * grow <= linearly for every operator.
  *
  * Usage: runMain graft.tools.ScaleBench <corpusDir>
  */
object ScaleBench {

  val keys: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_embed_cosine", "dedup_resolve", "dedup_stream_minhash",
    "sim_topk_bruteforce", "sim_topk_lsh", "sim_topk_ivf",
    "text_token_count", "text_quality", "text_langid", "text_fingerprint",
    "text_redact", "text_heavy_hitters",
    "text_repetition", "text_surprisal", "text_bigram_surprisal",
    "contamination_check", "data_pack",
    "data_split", "sample_stratified", "mm_decode_meta", "mm_frame_sample",
    "mm_resize_meta", "pipeline_clean",
    "text_gopher", "corpus_stats", "data_shuffle", "dedup_span_exact",
    "dedup_families", "quality_quantiles", "sim_topk_pq", "data_mix",
    "text_tfidf", "text_ccnet_bucket", "dedup_span_removal",
    "dedup_span_chars", "contamination_stream", "sim_topk_ivfpq",
    "dedup_keep_best", "dedup_cross_corpus", "data_budget_select",
    "quality_floor", "text_normalize", "pipeline_curate")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    val metrics = new ShuffleMetricsListener
    spark.sparkContext.addSparkListener(metrics)

    // warmup (JIT/codegen)
    try graft.SparkEntry.queries("text_token_count")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }

    def measure(name: String)(run: => Unit): (String, Double, Long, Long, Long) = {
      val (t, m) = QueryMeasure.measure(spark, metrics, name)(run)
      (name, t, m.read, m.write, m.spill)
    }

    // events-table ops run when the corpus dir carries an events table
    // (ScaleData now generates one; older dirs may not have it)
    val allKeys = keys ++ (
      if (new java.io.File(s"$dir/events.parquet").exists())
        Seq("evt_window_agg", "evt_sessionize", "evt_funnel", "evt_retention")
      else Nil)

    val rows = allKeys.map { name =>
      measure(name)(graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save())
    } :+ {
      // the 100 TB operating point for embedding dedup: bits scaled to
      // the corpus (log2(n/16)) with 8 tables to recover recall —
      // contrast its shuffle bytes with the fixed-8-bit driver entry
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val bits = math.max(8, (math.log(emb.count() / 16.0) / math.log(2)).ceil.toInt)
      measure("dedup_embed_cosine_scaled")(
        graft.operators.Dedup.embeddingCosine(emb, bits = bits, threshold = 0.35, tables = 8)
          .write.format("noop").mode("overwrite").save())
    }
    val qs = rows.map(r => s""""${r._1}":${r._2}""").mkString("{", ",", "}")
    val sb = rows.map(r => s""""${r._1}":{"read":${r._3},"write":${r._4},"spill":${r._5}}""")
      .mkString("{", ",", "}")
    val total = rows.map(_._2).filter(_ >= 0).sum
    println(s"""{"metric":"scale_bench","value":$total,"unit":"sec","queries":$qs,"shuffle_bytes":$sb,"dir":"$dir"}""")
    spark.stop()
  }
}
