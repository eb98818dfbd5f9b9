package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Staged
import vector.KnnGraph

/** Round-19 rows — the round-18 verdict's asks, closed:
  *
  *  - V21 `sim_knn_graph_recall`, V22 `sim_knn_graph_ivf`, V23
  *    `sim_knn_graph_ivf_kmeans`: the measured-recall audit of every
  *    kNN-graph build, and the IVF-cell graph builds over sampled and
  *    Lloyd-trained cells — now declared by the one build table in
  *    `vector.KnnGraph`;
  *  - ST28 `st_incremental_ann_ivf`: the batch twin of the streaming
  *    ANN dedup index over the TRAINED IVF quantizer (below).
  *
  * Building V22's probe legs also exposed (and fixed) the V2b
  * CELL-COLLAPSE bug: the dense-id sampled-point centroid rule
  * materialized 14 cells where K=142 was derived on offset-id corpora
  * — see ivfTopkAutoServe and BASELINE round 19.
  *
  * Reference scope note: alxmancilla/parquet-demo has no similarity
  * machinery (its compute surface is schema-driven Parquet I/O,
  * src/parquet_demo/io.py:7-80); all rows are [EXT] per SURVEY §2.7.
  */
object Round19Queries {

  /** The ST28 pair rule as a full statement (vec_a, vec_b, cosine) —
    * DIRECTIONAL by construction: resident a's HOME cell must be among
    * the later arrival b's PROBED cells (only home cells hold
    * residents online), a < b, exact cosine ≥ τ. Nested verbatim by
    * the twin's verdict oracle.
    */
  private def annIvfPairsDuckSql: String =
    s"""SELECT * FROM (
      WITH ${KnnGraph.trainedCellDuckCtes}
      SELECT a.vec_id AS vec_a, p.query_id AS vec_b,
        round(${VectorOps.duckDot("a.v", "p.qv")} / (a.nrm * p.qn), 6)
          AS cosine
      FROM assign a JOIN probes p
        ON a.pos = p.pos AND a.vec_id < p.query_id) t
    WHERE cosine >= ${DedupQueries.CosineTau}"""

  /** ST28 batch-twin pipeline over a prepared corpus: the trained-cell
    * pair rule reduced by the shared arrival-order verdict (dup_of =
    * min earlier τ-passing resident among the arrival's probed cells,
    * arrival order := vec_id order). StreamingIvfDedupSpec builds the
    * re-index contract's GENERATION-A twin from the accepted prefix
    * with it.
    */
  private[graft] def annIvfTrainedPlan(base: DataFrame): Staged = {
    val cells = KnnGraph.trainedCells(base)
    val homes = cells.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("nrm").as("na"), col("cells").getItem(0).as("cell"))
    val probes = cells.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("nrm").as("nb"), explode(col("cells")).as("cell"))
    val pairs = homes.join(probes.hint("shuffle_hash"), Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(VectorOps.cosine(col("va"), col("vb"), col("na"), col("nb")), 6)
          .as("cosine"))
      .filter(col("cosine") >= DedupQueries.CosineTau)
    Staged(Round17Queries.annVerdict(pairs, cells.select(col("vec_id"))),
      Seq(cells))
  }

  /** Attribution twin for the BASELINE round-19 recall table — NOT a
    * declared row: V2b's serving pipeline with the RETIRED dense-id
    * sampled-point centroid rule, plus its recall vs the exact panel
    * truth, so the probe can separate the honest-cells fix's recall
    * effect from a driver fixture redraw ON THE SAME corpus (the
    * rounds-16/17 drift-hunt lesson: attribute before narrating).
    */
  private[graft] def ivfOldCellsRecall(s: SparkSession, dir: String)
      : DataFrame = {
    import SimilarityQueries.IvfTopK
    val corpus = Embeddings.normed(s, dir)
      .transform(graft.operators.Layouts.spread)
      .persist()
    val width = Round17Queries.ivfAutoWidth(corpus, Round17Queries.IvfAutoMaxK)
    val all = corpus.crossJoin(broadcast(width))
    val cents = all
      .filter(col("vec_id") % col("stride") === 0 &&
        col("vec_id") < col("stride") * col("kk"))
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val approx = SimilarityQueries.ivfServe(all, cents, col("npr"))
      .select(col("query_id"), col("neighbor_id"))
    val truth = SimilarityQueries.bruteTopk(all, IvfTopK)
      .select(col("query_id"), col("neighbor_id"))
    val tn = truth.groupBy(col("query_id")).agg(count(lit(1)).as("t_n"))
    val hit = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
    Staged(tn.join(hit, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("h"), lit(0L)).as("hits"),
        (coalesce(col("h"), lit(0L)).cast("double") /
          col("t_n").cast("double")).as("recall"))
      .orderBy(col("query_id")), Seq(corpus)).materialize()
  }

  val defs: Seq[QueryDef] = Seq(

    // ── ST28: incremental ANN dedup over the TRAINED IVF index ───────
    // The round's measured serving conclusion carried to the ONLINE
    // index: the streaming dedup service worth running keeps a
    // Lloyd-trained quantizer (trained OFFLINE — the production
    // posture: a static broadcast centroid array, refreshed by a batch
    // re-index event) and per-cell resident state; an arrival assigns
    // to its KnnIvfNprobe nearest cells in one compiled pass, queries
    // the residents of all probed cells with exact cosine, and inserts
    // at its home cell (cells[0]). This twin declares those semantics
    // with arrival order := vec_id order: the pair rule is DIRECTIONAL
    // (resident a's HOME cell ∈ later arrival b's PROBED cells — only
    // home cells hold residents online), reduced by the shared
    // annVerdict. StreamingIvfDedupSpec pins IvfDedupStream ≡ this row
    // across multi-file RocksDB replay.
    QueryDef(
      "st_incremental_ann_ivf",
      (s, dir) => annIvfTrainedPlan(Embeddings.normed(s, dir)).materialize(),
      Some(DedupQueries.annVerdictDuckSqlOver(annIvfPairsDuckSql)),
      doc = "ST28 batch twin: per vector the smallest earlier resident " +
        "of its probed TRAINED-IVF cells (K = clamp(ceil(sqrt(n)), 4, " +
        s"1024) Lloyd quantizer, ${KnnGraph.KnnIvfNprobe} probed cells, home = " +
        "the argmin cell — the directional online candidate rule) " +
        "with exact cosine >= tau, arrival order := vec_id order; the " +
        "streaming ANN dedup index at the corpus-appropriate " +
        "(trained) quantizer, spec-pinned bit-for-bit against " +
        "IvfDedupStream."),
  )
}
