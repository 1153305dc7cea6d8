package graft.ml

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llmdata.TextAnalysis

/** Model-based quality filtering — the fastText-style classifier stage real
  * curation pipelines run between heuristic gates (q31) and perplexity
  * buckets (q169): train a linear classifier on weak labels, score every
  * document, threshold downstream.
  *
  * Weak labels come from the CCNet tercile rule (q169's machinery): per
  * language, the head tercile by corpus-unigram avg logprob is positive,
  * the tail tercile negative, and the ambiguous middle is DROPPED from
  * training (the standard margin trick for weak supervision). Features are
  * hashed token counts (`HashingTF`, 4096 buckets) — the same
  * bag-of-hashed-words a fastText classifier reduces to for this purpose.
  *
  * Scale: HashingTF is a narrow map (no vocabulary build, no shuffle);
  * logistic regression is MLlib's L-BFGS — per iteration one tree-aggregated
  * gradient pass, the textbook 1000-executor shape. Scoring is a narrow
  * model broadcast. Like ALS (q60/q61), solver outputs are
  * iterative-float, so the registry entry is rows-only; the quality gate
  * is QualityClassifierSpec's held-out AUC envelope.
  */
object QualityClassifier {

  /** (doc_id, lang, toks, label): head tercile -> 1.0, tail -> 0.0,
    * middle absent. Tercile = ntile(3) over (avg_logprob DESC, doc_id)
    * within lang — q169's exact rank rule, so labels are deterministic. */
  def weakLabeled(docs: DataFrame): DataFrame = {
    val lp = TextAnalysis.unigramLogprob(docs).select("doc_id", "avg_logprob")
    val byLang = Window.partitionBy("lang").orderBy(desc("avg_logprob"), col("doc_id"))
    docs.join(lp, "doc_id")
      .withColumn("bucket", ntile(3).over(byLang))
      .filter(col("bucket") =!= 2)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokens(col("text")).as("toks"),
        when(col("bucket") === 1, 1.0).otherwise(0.0).as("label"))
  }

  /** The deterministic half of the classifier, certified (q193): weak
    * labels + the 80/20 hash split as a flat (doc_id, lang, label, split)
    * frame. Unlike the model scores (iterative L-BFGS floats → q186 is
    * rows-only), everything here is oracle-expressible — tercile ranks
    * over the ROUNDED corpus logprob with a doc_id tiebreak, and an md5
    * prefix gate — so the training-set construction itself gets the full
    * rows+schema+hash check, leaving only the solver outside the oracle's
    * reach (the strongest certification an iterative model admits). */
  def labeledSplits(docs: DataFrame): DataFrame =
    weakLabeled(docs)
      .select(col("doc_id"), col("lang"), col("label"),
        when(isHeldOut, lit("heldout")).otherwise(lit("train")).as("split"))

  private def featurize(labeled: DataFrame): DataFrame =
    new HashingTF().setInputCol("toks").setOutputCol("features")
      .setNumFeatures(4096).transform(labeled)

  /** Deterministic 80/20 split on md5(doc_id) — engine-portable and
    * rerun-stable, the q79 hash-gate idiom (a random split would make the
    * AUC envelope flaky). */
  private def isHeldOut = pmod(conv(substring(md5(concat(col("doc_id"),
    lit(":qc"))), 1, 6), 16, 10).cast("long"), lit(5)) === 0

  /** Train on the 80% gate of the weak-labeled set. */
  def train(docs: DataFrame, maxIter: Int = 20, regParam: Double = 0.01) = {
    val feat = featurize(weakLabeled(docs).filter(!isHeldOut))
    new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam)
      .setFeaturesCol("features").setLabelCol("label")
      .fit(feat)
  }

  /** Held-out AUC of the weak-label reconstruction (the envelope the spec
    * pins — the analogue of ALS's held-out RMSE). */
  def heldOutAuc(docs: DataFrame): Double = {
    val model = train(docs)
    val scored = model.transform(featurize(weakLabeled(docs).filter(isHeldOut)))
    new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC")
      .evaluate(scored)
  }

  /** Score EVERY document with the trained filter: (doc_id, quality_prob,
    * keep). Rows-only registry surface (q186). Degenerate-corpus guard
    * (the RegistryEmptySpec contract): with no trainable weak labels
    * (empty or <3-doc corpus) there is no model — every doc scores NaN /
    * keep=false instead of MLlib's fit throwing.
    *
    * One L-BFGS fit + corpus scoring per (JVM, dir, threshold)
    * ([[graft.io.TempDirs.once]]): q186 (the score surface) and q192 (the
    * composed capstone) share the identical tiny (doc_id, prob, keep)
    * frame instead of training twice; the localCheckpoint settles it so a
    * memo hit re-runs nothing. */
  def scoreDocs(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    graft.io.TempDirs.once(f"quality-scores#$dir#$threshold%.6f") {
      computeScoreDocs(spark, dir, threshold).localCheckpoint(true)
    }


  private def computeScoreDocs(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val docs = graft.io.Tables(spark, dir, "documents")
    val trainSet = weakLabeled(docs).filter(!isHeldOut)
    if (trainSet.isEmpty) {
      return docs.select(col("doc_id"), lit(Double.NaN).as("quality_prob"),
        lit(false).as("keep"))
    }
    val model = train(docs)
    val all = featurize(docs.select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("toks")))
    model.transform(all)
      .select(col("doc_id"),
        round(element_at(vector_to_array(col("probability")), 2), 4).as("quality_prob"))
      .withColumn("keep", (col("quality_prob") >= threshold).cast("boolean"))
  }
}
