package graft

import org.apache.spark.sql.functions._

import graft.queries.{Embeddings, SimilarityQueries}

/** The one embeddings loader's input invariant: every vector holds
  * exactly `SimilarityQueries.Dim` non-null elements. The one-aggregate
  * Lloyd updates sum fixed positions `v[i]`, so a short or null-holed
  * vector would silently skew a centroid — the loader must fail the
  * query instead.
  */
class EmbeddingsSpec extends SparkSpec {

  private val dim = SimilarityQueries.Dim

  /** A one-table corpus dir whose embeddings are `vecs` (vec_id = index). */
  private def corpus(vecs: Seq[Seq[java.lang.Float]]): String = {
    import spark.implicits._
    val dir = tmpDir("embeddings-invariant")
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def full(x: Float): Seq[java.lang.Float] =
    Seq.fill(dim)(java.lang.Float.valueOf(x))

  private def failure(dir: String): Throwable = {
    val e = intercept[Exception](Embeddings.normed(spark, dir).collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .find(_.getMessage.contains(s"must hold $dim non-null elements"))
      .getOrElse(fail(s"expected the loader's invariant failure, got $e"))
  }

  test("well-formed vectors load as exact double widenings") {
    val rows = Embeddings.normed(spark, corpus(Seq(full(0.5f), full(-2f))))
      .orderBy(col("vec_id")).collect()
    assert(rows.map(_.getSeq[Double](1)).toSeq ==
      Seq(Seq.fill(dim)(0.5), Seq.fill(dim)(-2.0)))
    assert(rows(0).getDouble(2) == math.sqrt(dim * 0.25))
  }

  test("a vector shorter than Dim fails the query") {
    val e = failure(corpus(Seq(full(1f), full(1f).take(dim - 1))))
    assert(e.getMessage.contains("vec_id 1"), e.getMessage)
  }

  test("a null element fails the query") {
    val e = failure(corpus(Seq(full(1f).updated(7, null), full(1f))))
    assert(e.getMessage.contains("vec_id 0"), e.getMessage)
  }
}
