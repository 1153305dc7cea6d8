package graft.ml

import org.apache.spark.ml.feature.{PCA, PCAModel}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PCA dimensionality reduction over the embedding column — the compaction
  * stage a real similarity pipeline runs before ANN indexing (fewer dims →
  * smaller IVF cells, cheaper dots) and the standard whitening front end
  * for embedding-space analytics (q156 drift, q159 confusion, SemDeDup).
  *
  * MLlib's PCA computes the covariance by a tree-aggregated Gramian over
  * the distributed rows (one pass, map-side partials — the 1000-executor
  * shape) and eigendecomposes the small d×d matrix on the driver: at
  * 100 TB the row count is unbounded while d stays model-sized, which is
  * exactly the asymmetry this factorization exploits. Like ALS and the
  * quality classifier, eigensolver outputs are iterative-float, so the
  * registry entry (q190) is rows-only; EmbeddingPcaSpec pins the algebraic
  * contracts (orthonormal loadings, monotone variance spectrum, exact
  * reconstruction at full rank).
  */
object EmbeddingPca {

  private def asVec(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"),
      array_to_vector(transform(col("embedding"), x => x.cast("double"))).as("features"))

  def fit(emb: DataFrame, k: Int = 8): PCAModel =
    new PCA().setInputCol("features").setOutputCol("pc").setK(k).fit(asVec(emb))

  /** (vec_id, label, pc[k] rounded 6dp): every vector in the reduced
    * space. Degenerate corpora (no rows — PCA.fit throws) project to an
    * empty well-typed frame, the RegistryEmptySpec contract. */
  def project(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val emb = graft.io.Tables(spark, dir, "embeddings")
    if (emb.isEmpty) {
      return emb.select(col("vec_id"), col("label"),
        array().cast("array<double>").as("pc"))
    }
    val model = fit(emb, k)
    model.transform(asVec(emb))
      .select(col("vec_id"), col("label"),
        transform(vector_to_array(col("pc")), x => round(x, 6)).as("pc"))
  }

  /** Harness-facing layout of [[project]]: one row per (vector, component)
    * — `(vec_id, label, component, value)` — the same flat shape q92's
    * quantizer emits. The driver's rows-only canonicalization sorts every
    * column, which an `array<double>` column cannot survive (unhashable in
    * the comparator); per-component scalar rows can. */
  def projectFlat(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    project(spark, dir, k)
      .select(col("vec_id"), col("label"),
        posexplode(col("pc")).as(Seq("component", "value")))

  /** The compaction → index → query path this file's header motivates
    * (q191): project the corpus to `k` principal components, then run the
    * IVF coarse-quantized ANN ([[graft.llmdata.Similarity.ivfTopK]]) over
    * the REDUCED vectors. At 100 TB this is the production shape — the
    * d-dim corpus is read once into the k-dim index (k ≪ d shrinks every
    * IVF cell and every exact-cosine probe by d/k). The pinned quality
    * gate (EmbeddingPcaSpec) is recall against brute-force cosine IN the
    * reduced space — the quantity the index approximates; how faithfully
    * the reduced space preserves full-dim neighbors is a property of the
    * corpus spectrum, not the index (this fixture is isotropic noise, so
    * full-dim recall is ~k/n for any correct PCA — the spec documents the
    * measurement). Rows-only like q190/q62: eigensolver + k-means
    * floats. */
  def pcaIvfTopK(spark: SparkSession, dir: String, k: Int = 8,
      nQueries: Int = 10, topK: Int = 5, nCells: Int = 16,
      nProbe: Int = 6): DataFrame =
    graft.llmdata.Similarity.ivfTopK(
      project(spark, dir, k).select(col("vec_id"), col("pc").as("embedding")),
      nQueries = nQueries, k = topK, nCells = nCells, nProbe = nProbe)
}
