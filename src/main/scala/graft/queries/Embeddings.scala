package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The one loader of the `embeddings` table as (vec_id, v) with `v` the
  * exact double widening of the stored floats, plus its normed form.
  *
  * Input invariant: every vector has exactly `SimilarityQueries.Dim`
  * elements and no null element. The one-aggregate Lloyd updates
  * (`Round11bQueries.update`, `KnnGraph.fineLloydRound`) sum `v[i]`
  * for fixed positions `i < Dim`, so a short or null-holed vector would
  * silently skew a centroid; the loader fails the query instead.
  */
object Embeddings {

  /** (vec_id, v, extra...) — fails on a vector of the wrong length or
    * with a null element.
    */
  def load(s: SparkSession, dir: String, extra: String*): DataFrame = {
    val e = col("embedding")
    val bad = coalesce(size(e), lit(-1)) =!= SimilarityQueries.Dim ||
      exists(e, _.isNull)
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id") +: when(bad, raise_error(concat(
          lit("embeddings: vec_id "), col("vec_id").cast("string"),
          lit(s" must hold ${SimilarityQueries.Dim} non-null elements"))))
        .otherwise(VectorOps.toDouble(e)).as("v") +: extra.map(col): _*)
  }

  /** [[load]] plus the L2 norm `nrm`. */
  def normed(s: SparkSession, dir: String, extra: String*): DataFrame =
    load(s, dir, extra: _*).withColumn("nrm", VectorOps.norm(col("v")))

  /** DuckDB replay of [[load]]: the `vecs` CTE. */
  val duck: String =
    """vecs AS (
         SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         FROM embeddings)"""

  /** DuckDB replay of [[normed]]: `vecs` plus `nvecs`. */
  val normedDuck: String = duck + """,
       nvecs AS (
         SELECT vec_id, v, %s AS nrm FROM vecs)""".format(VectorOps.duckNorm("v"))
}
