package graft.ml

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real collaborative-filtering ALS (the north star's namesake): Spark
  * MLlib's alternating least squares over an implicit (user, item, rating)
  * COO — the same triple shape as the IPF cost matrix. MLlib's
  * implementation already embodies the 100 TB patterns (block
  * partitioning of factors, in/out link co-partitioning, checkpointing).
  */
object AlsRecommender {

  /** Ratings from the testdata: user = customer, item = part, rating =
    * total quantity ordered (orders ⋈ lineitem, two-key aggregation). */
  def ratingsFromLineitem(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.io.Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = graft.io.Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .groupBy(col("o_custkey").cast("int").as("user"),
        col("l_partkey").cast("int").as("item"))
      .agg(sum(col("l_quantity")).cast("float").as("rating"))
  }

  /** maxIter=6 (was 8): the held-out RMSE pin (AlsSpec, 29.464±3 at
    * sf0.001/seed 42) is unchanged at 6 sweeps, and the extra two bought no
    * measurable quality. Measured breakdown of the q60 cold path at sf0.1
    * local[32]: ratings join+agg ≈ train(6) ≈ recommendForAllUsers — so
    * iteration count is only ~a third of the bill; the rest is the input
    * build (memoized in [[trainedOn]]) and the blocked top-k scoring, both
    * irreducible for exact recommendations. */
  def train(ratings: DataFrame, rank: Int = 8, maxIter: Int = 6,
      regParam: Double = 0.1, seed: Long = 42L): ALSModel =
    new ALS()
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setRank(rank).setMaxIter(maxIter).setRegParam(regParam)
      .setSeed(seed).setColdStartStrategy("drop")
      .setNumBlocks(8)
      .fit(ratings)

  /** Top-k item recommendations per user, exploded to rows. */
  def recommendTopK(model: ALSModel, k: Int = 5): DataFrame =
    shapeRecs(model.recommendForAllUsers(k))

  private def shapeRecs(recs: DataFrame): DataFrame =
    recs.select(col("user").cast("long").as("user"),
        posexplode(col("recommendations")).as(Seq("rank0", "rec")))
      .select(col("user"), (col("rank0") + 1).cast("long").as("rank"),
        col("rec.item").cast("long").as("item"),
        round(col("rec.rating").cast("double"), 4).as("score"))

  /** Per-(JVM, dir) memo ([[graft.io.TempDirs.once]]) of the
    * empty-ratings probe, which both ALS surfaces ask: the head(1) LIMIT
    * short-circuits the result side, but the orders⋈lineitem aggregation
    * upstream still runs its full shuffle map side on every call (the
    * testdata dirs are read-only; a mutable-dir host would key on file
    * mtime like [[graft.streaming.Events]]'s staging notes). */
  private def ratingsEmpty(spark: SparkSession, dir: String): Boolean =
    graft.io.TempDirs.once(s"als-empty#$dir") {
      ratingsFromLineitem(spark, dir).head(1).isEmpty
    }

  /** [[recommendTopK]] from the shared training ([[trainedOn]]). */
  def recommendTopKOn(spark: SparkSession, dir: String, seed: Long = 42L,
      k: Int = 5): DataFrame = {
    // Empty-ratings guard: ALS.fit reads the first rating to infer block
    // layout and throws on zero rows (MLlib contract). Zero ratings is a
    // legitimate pipeline state (dry backfill window, fully-filtered
    // corpus) and means "no recommendations", not a crash. Checked BEFORE
    // the model memo so the degenerate case never occupies a memo slot.
    if (ratingsEmpty(spark, dir)) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("user", "rank", "item", "score")
    }
    recommendTopK(trainedOn(spark, dir, seed)._1, k)
  }

  /** One training per (JVM, dir, seed) ([[graft.io.TempDirs.once]]): the
    * model is fit once on the 0.8 train split and shared by the recommend
    * (q60) and eval (q61) surfaces. ALS training is by far the most expensive
    * single step in the registry; nothing about recommend-vs-eval needs two
    * models, and the held-out 0.2 split rides along for the evaluator.
    * The memoized model/split stay bound to the SparkSession that trained
    * them — valid here because the registry/test surfaces run one
    * session per JVM over read-only dirs; a multi-session host would key on
    * the session too (or invalidate on session stop). */
  def trainedOn(spark: SparkSession, dir: String, seed: Long = 42L): (ALSModel, DataFrame) =
    graft.io.TempDirs.once(s"als-model#$dir#$seed") {
      // Cache the ratings: the train/test splits both re-derive this
      // join+agg lineage on every materialization (ALS.fit reads train0,
      // the evaluator reads test0) — the aggregation is the single most
      // expensive piece of the q60 path, and its output is tiny (one row
      // per distinct (customer, part) pair), so keep it resident.
      val ratings = ratingsFromLineitem(spark, dir).cache()
      val Array(train0, test0) = ratings.randomSplit(Array(0.8, 0.2), seed)
      (train(train0, seed = seed), test0)
    }

  /** Reference-semantics fit quality on the shared train/test split.
    * Zero ratings → NaN (the conventional "no data, no error" RMSE — what
    * RegressionEvaluator itself yields on an empty prediction set), so an
    * empty corpus reports an undefined fit instead of an MLlib throw. */
  def evalRmse(spark: SparkSession, dir: String, seed: Long = 42L): Double = {
    if (ratingsEmpty(spark, dir)) return Double.NaN
    val (model, test0) = trainedOn(spark, dir, seed)
    val preds = model.transform(test0)
    new RegressionEvaluator().setMetricName("rmse")
      .setLabelCol("rating").setPredictionCol("prediction").evaluate(preds)
  }
}
