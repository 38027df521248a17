package graft.streaming

import graft.functions.GraftFunctions
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Online ANN serving: a STREAM of query vectors joined against the
  * static embedding corpus, per-query exact top-k via the bounded-heap
  * aggregate — the "vector search endpoint" shape (queries arrive
  * continuously, the index is static between refreshes).
  *
  * The stream-static inner join is stateless (each micro-batch of
  * queries joins the static side and is done — no join state at all);
  * the only stateful operator is the per-query top-k aggregate, whose
  * state is bounded by open queries × k heap entries, never the
  * corpus. At scale the static side is an ANN index relation (IVF
  * cells / PQ codes from the batch operators) instead of raw vectors —
  * the streaming plan is IDENTICAL because stream-static joins accept
  * any batch DataFrame as the static side.
  *
  * Drained Complete-mode output ≡ batch [[Similarity.topKBruteForce]],
  * so the SAME committed fixture gates both entries.
  */
object StreamingAnn {

  def runTopK(spark: SparkSession, corpus: DataFrame, maxQuery: Int = 8,
      k: Int = 5, batches: Int = 2): DataFrame = {
    val queries = corpus.filter(col("vec_id") < maxQuery)
      .select(col("vec_id"), col("embedding"))
    val static = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("_ce"), Similarity.l2norm(col("embedding")).as("_cn"))
    val drained = StreamingEvents.withStatic(static) { c => // computed once, not per trigger
      StreamingEvents.drain(spark, queries, batches, "vec_id", "ann-topk") { stream =>
        val q = stream.select(col("vec_id").as("query_id"),
          col("embedding").as("_qe"), Similarity.l2norm(col("embedding")).as("_qn"))
        q.join(c, col("query_id") =!= col("neighbor_id"))
          .withColumn("cosine",
            Similarity.dot(col("_qe"), col("_ce")) / (col("_qn") * col("_cn")))
          .groupBy(col("query_id"))
          .agg(GraftFunctions.topKAgg(col("cosine"), col("neighbor_id"), k).as("_top"))
      }
    }
    // rank expansion of the drained heaps (batch post-processing; the
    // streaming query's state was the aggregate above)
    drained
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("query_id"), (col("_pos") + 1).as("rank"),
        col("_t.id").as("neighbor_id"), round(col("_t.score"), 4).as("cosine"))
  }
}
