package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.storage.StorageLevel

import graft.functions.GraftFunctions

/** Trained document-quality classifier — the fastText-style logistic
  * quality filter of real LLM pipelines (GPT-3 / LLaMA-class curation
  * trains a classifier on "known-good vs crawl" and keeps
  * high-scoring documents), restated for Spark:
  *
  * Features are HASHED BINARY unigram presences (fnv1a64 mod
  * `buckets` + a constant bias bucket), so the model is a
  * constant-size array no matter the corpus — same hashing-trick
  * argument as [[Dsir]]. Training is full-batch gradient descent;
  * per iteration the ONLY corpus-sized work is one scan of the
  * persisted (doc → bucket array) relation: the margin is a pure
  * in-scan kernel over the broadcast weights (codegen reference
  * object, no join), and the gradient aggregate exchanges at most
  * `buckets` rows after map-side partial aggregation. Nothing
  * corpus-sized is ever shuffled; iterations cost O(scan), exactly
  * like the one-pass text ops.
  *
  * Bit-reproducibility (what makes a TRAINED model oracle-gateable):
  * weights live on an exact decimal(·,12) grid, scaled to longs for
  * the margin kernel (exact integer sums, order-independent);
  * per-doc residuals are quantized to decimal(28,12) before the
  * gradient sum (exact, order-independent — the surprisal
  * convention); the driver-side Adagrad update accumulates exact
  * decimal g² and rounds each step onto the scale-12 grid ONCE via
  * the exact binary-to-decimal conversion. The floating-point steps
  * (per-doc sigmoid, per-step rsqrt) are computed from exact inputs
  * on both sides, so the Python mirror (tools/make_expected.py
  * gen_quality_classifier) reproduces the trained model bit-for-bit.
  */
object QualityClassifier {

  /** Extra non-word indicator features appended after the hash range:
    * a bias bucket (index `buckets`, always on) and 32 document-length
    * bins (floor(n_words/8) capped) — the structural signals a pure
    * bag-of-words cannot condition on (fastText-style side features).
    * Weight vector length = buckets + 1 + 32.
    */
  val extraFeatures: Int = 33

  /** (doc_id, y, _bk): label + distinct feature buckets + indicator
    * buckets.
    */
  private def features(docs: DataFrame, id: Column, text: Column,
      label: Column, buckets: Int): DataFrame = {
    val words = split(rtrim(text), " ")
    docs.select(id.as("doc_id"), label.cast("int").as("y"),
      array_append(
        array_append(
          array_distinct(transform(words,
            w => pmod(GraftFunctions.fnv1a64(w), lit(buckets.toLong)))),
          lit(buckets.toLong)),
        lit((buckets + 1).toLong)
          + least(lit(31L), floor(size(words).cast("double") / lit(8.0)).cast("long"))
      ).as("_bk"))
  }

  /** Train `iters` full-batch GD steps; returns the 1e12-scaled
    * weight vector (length `buckets`+1, last entry = bias).
    */
  def train(docs: DataFrame, id: Column, text: Column, label: Column,
      buckets: Int = 4096, iters: Int = 24, lr: Double = 0.5): Array[Long] = {
    val feats = features(docs, id, text, label, buckets)
      .persist(StorageLevel.MEMORY_AND_DISK)
    feats.count()
    val dim = buckets + extraFeatures
    val w = Array.fill(dim)(JBigDecimal.ZERO.setScale(12))
    // Adagrad accumulator (exact decimal: sums of squared exact
    // gradient decimals) — per-feature step normalization is what
    // makes rare word buckets and the always-on bias converge at the
    // same rate; plain full-batch GD on these ill-conditioned binary
    // features needs ~10x the iterations
    val gAcc = Array.fill(dim)(JBigDecimal.ZERO)
    var it = 0
    // AQE off for the training loop only, on a child session
    // (GraftSession.withConf) reading the cached features: every
    // iteration's gradient is one exchange of <= dim partially-
    // aggregated rows; ~2 jobs/iteration -> 1.
    graft.GraftSession.withConf(docs.sparkSession, "spark.sql.adaptive.enabled" -> "false") { child =>
    val childFeats = Bridge.ofRows(child, feats)
    while (it < iters) {
      val scaled = w.map(_.movePointRight(12).longValueExact)
      val grad = childFeats
        .withColumn("_m", GraftFunctions.sumBucketWeights(col("_bk"), scaled)
          .cast("double") / lit(1e12))
        .withColumn("_r", (lit(1.0) / (lit(1.0) + exp(-col("_m")))
          - col("y").cast("double")).cast("decimal(28,12)"))
        .select(explode(col("_bk")).as("_b"), col("_r"))
        .groupBy(col("_b")).agg(sum(col("_r")).as("_g"))
        .collect()
      grad.foreach { r =>
        val b = r.getLong(0).toInt
        val g = r.getDecimal(1)
        gAcc(b) = gAcc(b).add(g.multiply(g))
        if (gAcc(b).signum() != 0) {
          // the only inexact step: one double divide + sqrt, then an
          // EXACT binary-to-decimal conversion (new BigDecimal(double)
          // == Python Decimal(float) — value-identical, no string
          // round-trip) rounded once onto the scale-12 grid
          val stepD = lr * g.doubleValue() / math.sqrt(gAcc(b).doubleValue())
          w(b) = w(b).subtract(new JBigDecimal(stepD).setScale(12, RoundingMode.HALF_UP))
        }
      }
      it += 1
    } }
    feats.unpersist()
    w.map(_.movePointRight(12).longValueExact)
  }

  /** Per-doc verdict under a trained model: (doc_id, label, score,
    * pred) with score = round(sigmoid(margin), 4).
    */
  def score(docs: DataFrame, id: Column, text: Column, label: Column,
      weights: Array[Long], buckets: Int = 4096): DataFrame =
    features(docs, id, text, label, buckets)
      .withColumn("_m", GraftFunctions.sumBucketWeights(col("_bk"), weights)
        .cast("double") / lit(1e12))
      .select(col("doc_id"), col("y").as("label"),
        round(lit(1.0) / (lit(1.0) + exp(-col("_m"))), 4).as("score"),
        (lit(1.0) / (lit(1.0) + exp(-col("_m"))) >= 0.5).cast("int").as("pred"))
}
