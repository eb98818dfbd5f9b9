package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import vector.KnnGraph
import vector.KnnGraph.Cells.IvfCoarse
import vector.KnnGraph.Refine

/** Round-20 rows — the production semantic-clusters composition
  * (V12g/V12h `sim_semantic_edges_ivf` / `sim_semantic_clusters_ivf`)
  * re-based from the measured-collapsed auto-width LSH build (V21: edge
  * recall 0.006 at ×104) onto the NN-Descent-refined bounded-load graph
  * — same shared τ-edge → CC → singleton-fill cluster stage, only the
  * kNN build feeding it changes (the V12 family's whole point). The
  * round's graph builds themselves (V24–V27) are declared by the build
  * table in `vector.KnnGraph`.
  *
  * Reference scope note: alxmancilla/parquet-demo has no similarity
  * machinery (its compute surface is schema-driven Parquet I/O,
  * src/parquet_demo/io.py:7-80); all rows are [EXT] per SURVEY §2.7.
  */
object Round20Queries {

  /** The refined graph, materialized — the production semantic-cluster
    * composition's kNN build.
    */
  private def prodGraph(s: SparkSession, dir: String): DataFrame =
    KnnGraph.build(s, dir, IvfCoarse, Refine.Nnd())

  val defs: Seq[QueryDef] = Seq(

    // ── V12g: canonical τ-edges of the refined graph ─────────────────
    QueryDef(
      "sim_semantic_edges_ivf",
      (s, dir) => Round13Queries.tauEdges(prodGraph(s, dir)),
      Some(Round13Queries.tauEdgesSqlOver(
        KnnGraph.duckCtes(IvfCoarse, Refine.Nnd()))),
      doc = "Canonical undirected tau-edges of the NN-Descent-refined " +
        "bounded-load kNN graph — the exact CC input of " +
        "sim_semantic_clusters_ivf; hash-green half of the V12h " +
        "oracle split (SURVEY §5 note 14)."),

    // ── V12h: semantic clusters over the refined graph ───────────────
    // The round-19 verdict's What's-wrong #2: the previous production
    // config (sim_semantic_clusters_auto) composes the auto-width LSH
    // build whose edge recall V21 measured at 0.006 at ×104 — at scale
    // the cluster stage would see ~0.6% of true semantic edges. The
    // cluster stage itself (τ-edges → shared CC → singleton fill) is
    // IDENTICAL; only the kNN build feeding it changes.
    QueryDef(
      "sim_semantic_clusters_ivf",
      (s, dir) => Round13Queries.clusterStage(s, dir, prodGraph(s, dir)),
      None,
      doc = "Semantic clusters over the NN-Descent-refined bounded-load " +
        "kNN graph: the V12 composition re-based onto the " +
        "highest-recall declared build (the auto-LSH build it replaces " +
        "measured 0.006 edge recall at x104 in sim_knn_graph_recall). " +
        "Same tau-edge -> shared-CC -> singleton-fill stage. Oracle " +
        "split (SURVEY §5 note 14): rows-only here; " +
        "sim_semantic_edges_ivf is the hash-green edge half, " +
        "Round20Spec union-finds the closure."),
  )
}
