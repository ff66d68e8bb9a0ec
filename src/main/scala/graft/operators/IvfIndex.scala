package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Functions

/** IVF (inverted-file) ANN index: a k-means coarse quantizer plus the
  * broadcast-centroid assignment/probe query plan shared with p15.
  *
  * The reference engine has no ANN operator — this is part of the
  * training-data-pipeline extension (SURVEY.md §6). The design is the one a
  * 100-TB corpus needs end-to-end:
  *
  *  - TRAIN: MLlib's distributed Lloyd's iterations. The model is k×dim
  *    doubles — driver-sized by construction — while every data-sized step
  *    (assignment, per-cluster means) runs distributed. At full scale you
  *    train on a sample and apply the model map-side.
  *  - APPLY: centroids broadcast to every task; vector→centroid assignment
  *    is a map-side top-1 (no corpus shuffle); candidate generation is an
  *    equi-join on cluster id, turning the |corpus|² all-pairs problem into
  *    |corpus|/k-sized probed lists.
  */
object IvfIndex {

  /** Train k centroids with a few Lloyd iterations (deterministic under the
    * fixed seed). Returns (cent_id, centroid) pairs — the coarse quantizer
    * model, tiny by design. */
  def trainCentroids(embeddings: DataFrame, k: Int, maxIter: Int = 5,
      seed: Long = 42L): Array[(Int, Array[Double])] = {
    val feats = embeddings
      .select(array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setMaxIter(maxIter).setSeed(seed).fit(feats)
    model.clusterCenters.zipWithIndex.map { case (v, i) => (i, v.toArray) }
  }

  /** Centroids as a broadcast-sized DataFrame (cent_id, cvec). */
  def centroidsDf(spark: SparkSession, cents: Array[(Int, Array[Double])]): DataFrame = {
    import spark.implicits._
    cents.toSeq.toDF("cent_id", "cvec")
  }

  /** The IVF query plan: broadcast-centroid assignment, probed candidate
    * generation, exact rerank within the probed lists. The only corpus-side
    * shuffle is the equi-join on cluster id. Works with any centroid source
    * (quantizer or trained) — cosine casts cover float/double vectors. */
  def ivfTopK(e: DataFrame, cents: DataFrame, queryPred: Column,
      probes: Int, topK: Int): DataFrame = {
    def nearest(src: DataFrame, idCol: String, keep: Int): DataFrame = {
      val cos = Functions.cosineSimilarity(col("embedding"), col("cvec"))
      val w = Window.partitionBy(col(idCol)).orderBy(cos.desc, col("cent_id"))
      src.crossJoin(broadcast(cents))
        .select(col(idCol), col("cent_id"), row_number().over(w).as("rn"))
        .filter(col("rn") <= keep).drop("rn")
    }
    val assign = nearest(e, "vec_id", 1)
    val probesDf = nearest(
      e.filter(queryPred).withColumnRenamed("vec_id", "q_id"), "q_id", probes)
    val cand = probesDf.join(assign, "cent_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id")).distinct()
    val q = e.select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    val n = e.select(col("vec_id").as("n_id"), col("embedding").as("nvec"))
    val cos = Functions.cosineSimilarity(col("qvec"), col("nvec"))
    val w = Window.partitionBy(col("q_id")).orderBy(cos.desc, col("n_id"))
    cand.join(broadcast(q), "q_id").join(n, "n_id")
      .select(col("q_id"), col("n_id"), round(cos, 6).as("sim"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= topK)
      .orderBy(col("q_id"), col("rn"))
  }

  /** The exact cosine top-k ground truth [[ivfTopK]] is scored against:
    * (q_id, n_id) for the k nearest other vectors of each query vector
    * (rows of `e` where `isQuery` holds), ties by the lower id — the
    * oracle's `row_number() OVER (PARTITION BY q.vec_id ORDER BY
    * list_cosine_similarity(…) DESC, c.vec_id) <= k` over all pairs. The
    * query side is broadcast: queries are a small fixed set. */
  def exactTopK(e: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val q = e.filter(isQuery).alias("q")
    val c = e.alias("c")
    val cos = Functions.cosineSimilarity(col("q.embedding"), col("c.embedding"))
    val w = Window.partitionBy(col("q.vec_id")).orderBy(cos.desc, col("c.vec_id"))
    broadcast(q).join(c, col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("n_id"))
  }
}
