package graft.ops

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{HashingTF, IDF, MinHashLSH, Normalizer, RegexTokenizer}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, functions => F}

/** MLlib (`org.apache.spark.ml`) Pipeline integration — the stock Spark
  * ML surface next to the engine's hand-built operators, so a user can
  * stay inside `Pipeline`/`Transformer` land when they want to:
  *
  *  - [[tfidfPipeline]]: RegexTokenizer → HashingTF → IDF → Normalizer,
  *    the standard sparse-feature text vectorizer. Unlike an exact
  *    per-term TF-IDF aggregate, the ML pipeline trades exact term
  *    identity for a fixed-width hashed space that never shuffles a
  *    vocabulary — at 100 TB there is no driver-resident dictionary at
  *    all (HashingTF is stateless; only IDF carries a fitted
  *    `numFeatures`-wide vector, broadcast to executors).
  *  - [[minhashLshModel]]: `MinHashLSH` over binarized hashed shingles —
  *    an INDEPENDENT implementation of the same near-dup semantics as
  *    [[Dedup.minHashPairs]]; OpsSpec cross-checks the two find the same
  *    planted duplicates.
  *
  * Both are pure estimator/transformer graphs: `fit` runs one pass
  * (IDF's document-frequency aggregation / LSH's random-hyperplane init),
  * `transform` is narrow per-row work.
  */
object MlPipeline {

  /** Fitted TF-IDF vectorizer; output column `features` is an
    * L2-normalized SparseVector of width `numFeatures`.
    */
  def tfidfPipeline(docs: DataFrame, textCol: String,
      numFeatures: Int = 1 << 18): (DataFrame, Pipeline) = {
    val tok = new RegexTokenizer()
      .setInputCol(textCol).setOutputCol("ml_tokens")
      .setPattern("[^a-zA-Z0-9_]+").setToLowercase(true)
    val tf = new HashingTF()
      .setInputCol("ml_tokens").setOutputCol("ml_tf")
      .setNumFeatures(numFeatures)
    val idf = new IDF().setInputCol("ml_tf").setOutputCol("ml_tfidf")
    val norm = new Normalizer()
      .setInputCol("ml_tfidf").setOutputCol("features").setP(2.0)
    val pipe = new Pipeline().setStages(Array(tok, tf, idf, norm))
    val out = pipe.fit(docs).transform(docs)
      .drop("ml_tokens", "ml_tf", "ml_tfidf")
    (out, pipe)
  }

  /** Cosine similarity between two ml.linalg sparse/dense vectors —
    * driver-free, usable as a UDF on joined feature frames.
    */
  val cosineUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    F.udf { (a: Vector, b: Vector) =>
      var dot = 0.0
      val (s, l) = if (a.numNonzeros <= b.numNonzeros) (a, b) else (b, a)
      s.foreachActive((i, v) => if (v != 0.0) dot += v * l(i))
      // O(nnz) norms — a.toArray would materialize the full 2^18-wide
      // dense vector per row just to square a few hundred non-zeros
      val na = org.apache.spark.ml.linalg.Vectors.norm(a, 2.0)
      val nb = org.apache.spark.ml.linalg.Vectors.norm(b, 2.0)
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (na * nb)
    }

  /** Near-dup candidate pairs via stock `MinHashLSH` over binarized
    * hashed shingles. Returns (id_a, id_b, jaccard_distance) with
    * id_a < id_b, distance ≤ `maxDistance` (Jaccard distance = 1 −
    * Jaccard similarity). The approxSimilarityJoin is the same
    * band-bucket join shape as [[Dedup.minHashPairs]] under the hood.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDistance: Double = 0.7, numHashTables: Int = 8): DataFrame = {
    val tok = new RegexTokenizer()
      .setInputCol(textCol).setOutputCol("ml_tokens")
      .setPattern("[^a-zA-Z0-9_]+").setToLowercase(true)
    val tf = new HashingTF()
      .setInputCol("ml_tokens").setOutputCol("ml_set")
      .setNumFeatures(1 << 18).setBinary(true) // set semantics for Jaccard
    val lsh = new MinHashLSH()
      .setInputCol("ml_set").setOutputCol("ml_hashes")
      .setNumHashTables(numHashTables).setSeed(42L)
    val prepped = new Pipeline().setStages(Array(tok, tf))
      .fit(docs).transform(docs)
      // MinHashLSH requires ≥1 non-zero element: a token-less doc (empty
      // or all-punctuation text) hashes to a NON-null all-zero vector
      // that would crash approxSimilarityJoin at runtime — filter on
      // numNonzeros, not nullness
      .filter(F.udf((v: Vector) => v != null && v.numNonzeros > 0)
        .apply(F.col("ml_set")))
    val model = lsh.fit(prepped)
    model.approxSimilarityJoin(prepped, prepped, maxDistance, "jaccard_dist")
      .select(
        F.col(s"datasetA.$idCol").as("id_a"),
        F.col(s"datasetB.$idCol").as("id_b"),
        F.col("jaccard_dist"))
      .filter(F.col("id_a") < F.col("id_b"))
  }
}
