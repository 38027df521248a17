package graft.streaming

import graft.operators.{Contamination, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming corpus curation: the stateless quality gates (language ID
  * + the Gopher rule battery) applied to a document STREAM. Because
  * every one of those operators is a pure scan (no shuffle, no state),
  * the exact same Column expressions compose with `readStream`
  * unchanged, and per-micro-batch output equals the batch operator on
  * that batch's rows — the property StreamingSpec pins. This is the
  * ingest-time filter of a training pipeline: documents are scored and
  * gated as they land, upstream of the (stateful) incremental dedup in
  * [[StreamingDedup]].
  */
object StreamingCuration {

  /** Keep English docs passing every Gopher rule; emit the doc id with
    * the signals a downstream audit wants.
    */
  def qualityGate(docs: DataFrame): DataFrame =
    TextAnalysis.withGopherRules(
      TextAnalysis.withLangId(docs, col("text")), col("text"))
      .filter(col("pred_lang") === "en" && col("gopher_pass"))
      .select(col("doc_id"), col("pred_lang"), col("lang_score"),
        col("n_words"), col("mean_word_len"))

  /** Ingest-time decontamination of a document STREAM against a static
    * eval/benchmark corpus ([[Contamination.overlapAgainst]] — the
    * broadcast eval-gram join and the explode are stateless, so they
    * run per micro-batch unchanged). The only stateful stage is the
    * per-doc shared-gram counter; since a doc's grams arrive within
    * its micro-batch, state is one counter per CONTAMINATED doc —
    * O(overlap), not O(corpus) — and a production deployment bounds it
    * with a watermark on ingest time.
    */
  def contaminationStream(stream: DataFrame, evalDocs: DataFrame, k: Int = 5): DataFrame =
    Contamination.overlapAgainst(stream, evalDocs, k)

  /** Drive the streaming decontamination over the documents table in
    * `batches` micro-batches and return the drained result — must
    * equal the batch `contamination_check` under the same DuckDB
    * oracle (the proof the op is safe to run at ingest). Stages and
    * drains through [[StreamingEvents.drain]]: Complete mode, so the
    * aggregate state (contaminated docs only) is re-emitted per batch
    * and the drained table is the final counts.
    */
  def runDecontamination(
      spark: SparkSession,
      docs: DataFrame,
      evalPred: org.apache.spark.sql.Column,
      k: Int = 5,
      batches: Int = 3): DataFrame = {
    val train = docs.filter(!evalPred).select(col("doc_id"), col("text"))
    // the distinct eval-gram relation materializes ONCE per drain —
    // a stream-static broadcast join re-derives its static subplan
    // every micro-batch otherwise (3× the eval shingle pass)
    StreamingEvents.withStatic(Contamination.evalGramRelation(docs.filter(evalPred), k)) { evalGrams =>
      StreamingEvents.drain(spark, train, batches, "doc_id", "decontam-stream")(
        Contamination.overlapAgainstGrams(_, evalGrams, k))
    }
  }
}
