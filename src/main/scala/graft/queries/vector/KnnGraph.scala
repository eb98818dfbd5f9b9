package graft.queries.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Layouts, Staged}
import graft.queries.{Embeddings, QueryDef, Round11bQueries, Round17Queries,
  SimilarityQueries, VectorOps}
import graft.queries.Hash60.{idHash60Duck, idHash60Spark}

/** The kNN-graph family: every declared build is ONE function of a
  * candidate-generation strategy ([[Cells]]) and an optional refinement
  * ([[Refine]]) over a prepared (vec_id, v, nrm) corpus.
  *
  *  - [[plan]] returns the un-materialized graph (vec_id, rank,
  *    neighbor_id, cosine) plus the stages it reads; declared rows
  *    `materialize()` it, plan dumps read `result`;
  *  - [[duckSql]] is the matching DuckDB oracle statement;
  *  - [[Builds]] is the one name table: it declares the nine graph rows
  *    and drives the `sim_knn_graph_recall` audit, so the audit cannot
  *    measure a drifted copy of a build.
  *
  * Every strategy ends in the same shape: candidates scored with the
  * exact rounded cosine, one (cosine desc, neighbor_id asc) top-k
  * window. The strategies differ only in which pairs meet:
  *  - sign-LSH buckets over two independent hash tables with Hamming-1
  *    multiprobe, at a declared width ([[Cells.Lsh]]) or at
  *    bits = clamp(⌈log2 n⌉, min, max) derived in-plan
  *    ([[Cells.LshAuto]]);
  *  - IVF cells: each vector homes at its nearest cell and probes its
  *    nearest few; a pair meets at most once (home cells are unique),
  *    so there is no multi-table dedup stage. Cells are a hash-residue
  *    centroid sample ([[Cells.IvfSampled]]), a Lloyd-trained quantizer
  *    ([[Cells.IvfTrained]]), or a two-level index whose fine cells hold
  *    a constant expected load, sampled ([[Cells.IvfCoarse]]) or
  *    Lloyd-trained per coarse cell ([[Cells.IvfHier]]) — candidate
  *    volume n·cnprobe·fnprobe·load is linear in n.
  * [[Refine.Nnd]] runs NN-Descent rounds (Dong et al., WWW 2011) over a
  * cell stage served at internal width K' = 2k.
  */
object KnnGraph {

  /** kNN graph degree. */
  final val KnnK = 5

  /** Auto-width sign-LSH signature bounds: bits = clamp(⌈log2 n⌉, min,
    * max), shared by [[Cells.LshAuto]] and the auto-width ANN serving
    * indexes. Max 18 keeps the per-vector sign pass at 2×18 codegen'd
    * dot products and covers corpora to ~262 k at per-bucket load ≤ 1
    * (beyond, raise the constant — one line, not a per-dataset retune;
    * the first probe run at max=16 showed exactly the documented
    * failure mode: flat to ×26, then the ×52 leg's 104 k vectors
    * crossed 2¹⁶ and candidates resumed growing ∝ n²/2¹⁶ — 10.7 →
    * 46.0 s; at max=18 the ×52 leg derives bits=17 and the trajectory
    * stays near-linear, BASELINE.md round-16 table); min 8 floors tiny
    * fixtures at the teaching width so the multiprobe join stays
    * exercised.
    */
  final val KnnAutoMaxBits = 18
  final val KnnAutoMinBits = 8

  /** Signature width of the scaled sign-LSH twin (2^12 buckets — the
    * log2 rule's setting for the ×26–×50 probe corpora).
    */
  final val KnnScaledBits = 12

  /** Probed cells per vector for the single-level IVF-cell builds — a
    * small declared constant, not the serving rule's ⌈√K⌉: in a graph
    * build every vector is a query, so nprobe multiplies the one
    * corpus-sized candidate join. 4 is the measured sweet spot
    * (BASELINE round 19 nprobe sweep).
    */
  final val KnnIvfNprobe = 4

  /** Query panel width of the recall audit: the KnnRecallPanel smallest
    * vec_ids × KnnK truth edges.
    */
  final val KnnRecallPanel = 32

  /** Declared expected per-fine-cell load of the two-level builds: fine
    * cell COUNT grows ∝ n, so per-cell candidate work is constant.
    */
  final val KnnCellLoad = 16

  /** NN-Descent refinement rounds (BASELINE round 20 rounds curve). */
  final val KnnNndRounds = 2

  /** Probed coarse cells per vector in the two-level builds. */
  final val KnnCoarseNprobe = 2

  /** Fine-level Lloyd rounds inside each coarse cell ([[Cells.IvfHier]]). */
  final val KnnFineIters = 2

  /** Packing base for hierarchical fine-cell ids: cell = c2·2³² + f. */
  private final val FineCellBase = 1L << 32

  /** Internal NN-Descent width K' — the paper's own discipline: k=5
    * lists are too narrow to propagate structure from a sparse seed.
    */
  def KnnNndWidth: Int = 2 * KnnK

  /** Two independent sign-LSH hyperplane tables (family offsets unused
    * by every other LSH consumer) — union-of-tables is the recall
    * amplifier when every vector is a query.
    */
  def knnTables(bits: Int): Seq[Seq[Seq[Double]]] =
    Seq(SimilarityQueries.hyperplaneSet(11, bits),
      SimilarityQueries.hyperplaneSet(12, bits))

  /** Candidate-generation strategy: which vectors meet. */
  sealed trait Cells
  object Cells {
    final case class Lsh(bits: Int) extends Cells
    case object LshAuto extends Cells
    /** The IVF strategies: each builds a persisted cell stage. */
    sealed trait Ivf extends Cells
    final case class IvfSampled(nprobe: Int = KnnIvfNprobe) extends Ivf
    case object IvfTrained extends Ivf
    case object IvfCoarse extends Ivf
    final case class IvfHier(fineIters: Int = KnnFineIters) extends Ivf
  }

  /** Optional refinement, typed by the strategies it accepts: `Off`
    * takes any, `Nnd` only an IVF strategy (it refines a cell stage), so
    * an LSH strategy with NN-Descent does not compile.
    */
  sealed trait Refine[-C <: Cells]
  object Refine {
    case object Off extends Refine[Cells]
    final case class Nnd(rounds: Int = KnnNndRounds) extends Refine[Cells.Ivf]
  }

  import Cells._

  // ════ Spark builds ═════════════════════════════════════════════════

  /** The graph over a prepared (vec_id, v, nrm) corpus, un-materialized,
    * plus its persisted stages.
    */
  def plan[C <: Cells](corpus: DataFrame, cells: C,
      refine: Refine[C] = Refine.Off): Staged =
    planWith(corpus, cells, refine, None)

  /** The materialized graph over the `embeddings` table. */
  def build[C <: Cells](s: SparkSession, dir: String, cells: C,
      refine: Refine[C] = Refine.Off): DataFrame =
    plan(Embeddings.normed(s, dir), cells, refine).materialize()

  /** `ca`: a caller-trained quantizer over the same corpus for the
    * trained strategies (None = self-train).
    */
  private def planWith[C <: Cells](corpus: DataFrame, cells: C,
      refine: Refine[C], ca: Option[DataFrame]): Staged = refine match {
    case Refine.Nnd(rounds) =>
      val st = cellStage(corpus, cells, ca)
      Staged(nndChainOver(st, rounds), st)
    case Refine.Off => cells match {
      case Lsh(bits) => lshPlan(corpus, bits)
      case LshAuto => lshAutoPlan(corpus)
      case ivf: Ivf =>
        val st = cellStage(corpus, ivf, ca)
        Staged(cellGraphServe(st.head), st)
    }
  }

  /** Two-table multiprobe sign-LSH at `bits`: per table the own bucket
    * plus the `bits` Hamming-1 flips, the table index folded into the
    * join key so tables never cross-match. Candidates are scored
    * IN-BUCKET before the pair dedup: a pair found by several
    * probes/tables scores identically each time, so max() dedups it and
    * the (query, neighbor) shuffle carries 8 bytes of cosine instead of
    * two vectors (the first draft shuffled vectors per candidate and
    * went quadratic in shuffle bytes — ×10 probe 241 s).
    */
  private def lshPlan(base: DataFrame, bits: Int): Staged = {
    val tables = knnTables(bits)
    def bucketCol(t: Int) = (0 until bits).map { b =>
      when(VectorOps.dot(col("v"), typedLit(tables(t)(b))) >= 0.0,
        lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
    val all = base
      .withColumn("b0", bucketCol(0)).withColumn("b1", bucketCol(1))
      .transform(Layouts.spread)
      .persist()
    def probeCol(bc: String, t: Int) = array(
      ((col(bc) + lit(t << bits)) +: (0 until bits).map(b =>
        col(bc).bitwiseXOR(lit(1 << b)) + lit(t << bits))): _*)
    val cand = Seq(("b0", 0), ("b1", 1)).map { case (bc, t) =>
      val corpus = all.select(col("vec_id"), col("v"), col("nrm"),
        (col(bc) + lit(t << bits)).as("bucket"))
      val q = all.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), explode(probeCol(bc, t)).as("bucket"))
      corpus.join(q.hint("shuffle_hash"), Seq("bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(VectorOps.cosine(col("v"), col("qv"), col("nrm"), col("qn")), 6)
            .as("cosine"))
    }.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
    Staged(topK(cand, KnnK).orderBy(col("vec_id"), col("rank")), Seq(all))
  }

  /** Sign-LSH at a width derived IN-PLAN: all KnnAutoMaxBits signs are
    * computed once per vector, a 1-row broadcast scalar carries
    * bits = clamp(bitlen(n−1), min, max) (length(bin(n−1)) — bit-exact
    * in both engines) and its low-bit mask, and the bucket is the
    * signature's low `bits` bits — masking IS the narrower index.
    * Multiprobe flips come from a runtime-length sequence, so only
    * active bits flip.
    */
  private def lshAutoPlan(base: DataFrame): Staged = {
    val tables = knnTables(KnnAutoMaxBits)
    def sigCol(t: Int) = (0 until KnnAutoMaxBits).map { b =>
      when(VectorOps.dot(col("v"), typedLit(tables(t)(b))) >= 0.0,
        lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
    val width = base.agg(count(lit(1)).as("n"))
      .select(
        greatest(lit(KnnAutoMinBits), least(lit(KnnAutoMaxBits),
          length(bin(col("n") - 1)))).cast("int").as("bits"))
      .withColumn("mask", expr("shiftleft(1, bits) - 1"))
    val all = base
      .crossJoin(broadcast(width))
      .withColumn("s0", sigCol(0))
      .withColumn("s1", sigCol(1))
      .transform(Layouts.spread)
      .persist()
    all.count()
    def cand(t: Int) = {
      val st = s"s$t"
      val corpus = all.select(col("vec_id"), col("v"), col("nrm"),
        (col(st).bitwiseAND(col("mask")) +
          lit(t) * (col("mask") + lit(1))).as("bucket"))
      val probes = expr(
        s"""transform(sequence(0, bits), i ->
           (CASE WHEN i = 0 THEN ($st & mask)
            ELSE ($st & mask) ^ shiftleft(1, i - 1) END)
           + $t * (mask + 1))""")
      val q = all.select(col("vec_id").as("query_id"),
        col("v").as("qv"), col("nrm").as("qn"),
        explode(probes).as("bucket"))
      corpus.join(q.hint("shuffle_hash"), Seq("bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(VectorOps.cosine(col("v"), col("qv"),
            col("nrm"), col("qn")), 6).as("cosine"))
    }
    val deduped = cand(0).unionByName(cand(1))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
    Staged(topK(deduped, KnnK).orderBy(col("vec_id"), col("rank")), Seq(all))
  }

  /** Top-k per query of scored (query_id, neighbor_id, cosine) rows,
    * ranked (cosine desc, neighbor_id asc) — the WindowGroupLimit-pruned
    * rollup every build ends in.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id").as("vec_id"), col("rank"),
        col("neighbor_id"), col("cosine"))
  }

  /** The persisted cell stage of an IVF strategy: (cells) for the
    * single-level strategies, (cells, corpus) for the two-level ones.
    * Each cells row is (vec_id, v, nrm, cells) with cells[0] the home.
    */
  private[graft] def cellStage(corpus: DataFrame, cells: Ivf,
      ca: Option[DataFrame] = None): Seq[DataFrame] = cells match {
    case IvfSampled(nprobe) => Seq(sampledCells(corpus, nprobe))
    case IvfTrained => Seq(trainedCells(corpus, ca))
    case IvfCoarse => coarseCells(corpus, ca)
    case IvfHier(fineIters) => hierCells(corpus, fineIters, ca)
  }

  /** Hash-residue sample (h60(vec_id) % stride = 0 — id-distribution-
    * free, so ~n/stride points whatever the id layout) as (cid, cv).
    */
  private def residueSample(df: DataFrame, stride: String): DataFrame =
    df.filter(expr(idHash60Spark("vec_id")) % col(stride) === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

  /** Each vector's `nprobe` nearest cells of a 1-row centroid array in
    * ONE compiled zero-shuffle pass (pq_argmin_k — ties to the lowest
    * position, positions cid-ordered, so the tiebreak is the oracle's
    * ORDER BY d2, pos); persisted, since both join sides read it.
    */
  private def probedCells(corpus: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val cells = corpus.crossJoin(broadcast(cents))
      .withColumn("cells", expr(s"pq_argmin_k(v, cents, $nprobe)"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cells"))
      .persist()
    cells.count()
    cells
  }

  /** ~K = clamp(⌈√n⌉, 4, 4096) hash-residue-sampled centroids. */
  private def sampledCells(base: DataFrame, nprobe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(base.sparkSession)
    val corpus = base.transform(Layouts.spread)
    val width = Round17Queries.ivfAutoWidth(corpus, Round17Queries.IvfAutoMaxK)
    val cents = residueSample(corpus.crossJoin(broadcast(width)), "stride")
    probedCells(corpus, Round11bQueries.centArray(cents), nprobe)
  }

  /** The Lloyd-trained count-derived quantizer's 1-row centroid array
    * (K = clamp(⌈√n⌉, 4, 1024), hash-residue init, KmIters shared Lloyd
    * rounds), materialized so its consumers (the graph builds, the ST28
    * dedup twin, the streaming index's static quantizer) read blocks,
    * not the Lloyd lineage.
    */
  private[graft] def trainedCentArray(base: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(base.sparkSession)
    val width = Round17Queries.ivfAutoWidth(
      base, Round17Queries.IvfKmeansAutoMaxK)
    val vecs = base
      .crossJoin(broadcast(width))
      .transform(Layouts.spread)
      .persist()
    vecs.count()
    val cents = Round11bQueries.kmeansTrainFrom(
      vecs.select(col("vec_id"), col("v")), residueSample(vecs, "stride"),
      Round11bQueries.KmIters)
    Staged(Round11bQueries.centArray(cents), Seq(vecs)).materialize()
  }

  /** Trained-cell stage (vec_id, v, nrm, cells) — shared by the
    * IvfTrained graph build and the ST28 dedup twin.
    */
  private[graft] def trainedCells(base: DataFrame,
      ca: Option[DataFrame] = None): DataFrame =
    probedCells(base.transform(Layouts.spread),
      ca.getOrElse(trainedCentArray(base)), KnnIvfNprobe)

  /** 1-row width table (n, fk, ck, fstride, cstride): fine cells target
    * n/KnnCellLoad, coarse cells n/KnnCellLoad²; integer math is
    * floor/ceil-explicit so DuckDB replays it bit-for-bit.
    */
  private[graft] def cellLoadWidth(vecs: DataFrame): DataFrame =
    vecs.agg(count(lit(1)).as("n"))
      .withColumn("fk", greatest(lit(4L),
        ceil(col("n") / lit(KnnCellLoad.toDouble))).cast("long"))
      .withColumn("ck", greatest(lit(4L),
        ceil(col("n") / lit((KnnCellLoad * KnnCellLoad).toDouble)))
        .cast("long"))
      .withColumn("fstride",
        greatest(lit(1L), floor(col("n") / col("fk")).cast("long")))
      .withColumn("cstride",
        greatest(lit(1L), floor(col("n") / col("ck")).cast("long")))

  /** Per-coarse fine sub-quantizers: each fine centroid routed to its
    * nearest coarse cell, collected into parallel (fids, fcvs) arrays in
    * cid order — pq_argmin_k positions map back to GLOBAL fine cids.
    */
  private def fineByCoarse(fine: DataFrame, coarseArr: DataFrame): DataFrame =
    fine.crossJoin(broadcast(coarseArr))
      .withColumn("c2", expr("pq_argmin(cv, cents)"))
      .select(col("c2"), col("cid"), col("cv"))
      .groupBy(col("c2"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("fs"))
      .select(col("c2"),
        expr("transform(fs, x -> x.cid)").as("fids"),
        expr("transform(fs, x -> x.cv)").as("fcvs"))

  /** The coarse-routed corpus (vec_id, v, nrm, cc): every vector's
    * KnnCoarseNprobe nearest trained coarse cells (cc[0] = home).
    */
  private[graft] def coarseRouted(corpus: DataFrame,
      ca0: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val ca = ca0.getOrElse(trainedCentArray(corpus))
    corpus.crossJoin(broadcast(ca))
      .withColumn("cc", expr(s"pq_argmin_k(v, cents, $KnnCoarseNprobe)"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cc"))
  }

  /** Two-level serving assignment over a coarse-routed corpus: one LEFT
    * broadcast join of the per-coarse fine arrays `fbc` per probed
    * coarse rank, KnnIvfNprobe fine cells each (`cellOf` maps a fine
    * position `p` to the global cell id), cells ordered (coarse rank,
    * fine rank). A probed coarse cell with no fine cell contributes an
    * empty slice; a vector with no reachable fine cell drops out on
    * both engines.
    */
  private def twoLevelCells(routed: DataFrame, fbc: DataFrame,
      cellOf: String): DataFrame = {
    val picked = (0 until KnnCoarseNprobe).foldLeft(routed) { (df, i) =>
      df.withColumn("c2", col("cc").getItem(i))
        .join(broadcast(fbc), Seq("c2"), "left")
        .withColumn(s"cells$i",
          coalesce(
            expr(s"transform(pq_argmin_k(v, fcvs, $KnnIvfNprobe), p -> $cellOf)"),
            expr("CAST(array() AS array<bigint>)")))
        .drop("c2", "fids", "fcvs")
    }
    val cells = picked
      .withColumn("cells",
        concat((0 until KnnCoarseNprobe).map(i => col(s"cells$i")): _*))
      .filter(size(col("cells")) > 0)
      .select(col("vec_id"), col("v"), col("nrm"), col("cells"))
      .persist()
    cells.count()
    cells
  }

  /** Trained-coarse bounded-load stage (cells, corpus): coarse = the
    * Lloyd-trained quantizer (structure), fine = a hash-residue sample
    * at constant expected load KnnCellLoad (cost).
    */
  private def coarseCells(base: DataFrame,
      ca0: Option[DataFrame]): Seq[DataFrame] = {
    graft.functions.GraftFunctions.register(base.sparkSession)
    val corpus = base.transform(Layouts.spread).persist()
    corpus.count()
    val ca = ca0.getOrElse(trainedCentArray(corpus))
    val fine = residueSample(
      corpus.crossJoin(broadcast(cellLoadWidth(corpus))), "fstride")
    Seq(twoLevelCells(coarseRouted(corpus, Some(ca)),
      fineByCoarse(fine, ca), "fids[p]"), corpus)
  }

  /** The SAMPLED-coarse twin of [[coarseCells]] — identical two-level
    * shape and cost with a hash-residue coarse level instead of the
    * trained quantizer; the attribution build behind the BASELINE
    * round-20 sampled-vs-trained-coarse recall table (ScaleProbe
    * `sim_knn_graph_scaled_sampled_recall`). Not a declared row.
    */
  private[graft] def sampledCoarseCells(base: DataFrame): Seq[DataFrame] = {
    graft.functions.GraftFunctions.register(base.sparkSession)
    val corpus = base.transform(Layouts.spread).persist()
    corpus.count()
    val all = corpus.crossJoin(broadcast(cellLoadWidth(corpus)))
    val coarseArr = Round11bQueries.centArray(residueSample(all, "cstride"))
    val fbc = fineByCoarse(residueSample(all, "fstride"), coarseArr)
    val cells = corpus.crossJoin(broadcast(coarseArr))
      .withColumn("c2", expr("pq_argmin(v, cents)"))
      .join(broadcast(fbc), Seq("c2"))
      .withColumn("cells",
        expr(s"transform(pq_argmin_k(v, fcvs, $KnnIvfNprobe), p -> fids[p])"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cells"))
      .persist()
    cells.count()
    Seq(cells, corpus)
  }

  /** One grouped fine-Lloyd round over the coarse-routed corpus: every
    * vector to the nearest fine centroid OF ITS HOME COARSE CELL (one
    * broadcast join + compiled pq_argmin pass), update = one hash
    * aggregate with a Dim-wide exact-decimal buffer (the
    * Round11bQueries.update reshape: order-free decimal sums, one double
    * division), positions re-indexed dense per coarse so empty fine
    * cells compact identically on both engines.
    */
  private[graft] def fineLloydRound(routed: DataFrame, fc: DataFrame)
      : DataFrame = {
    val dim = SimilarityQueries.Dim
    val assigned = routed
      .select(col("cc").getItem(0).as("c2"), col("v"))
      .join(broadcast(fineArr(fc)), Seq("c2"))
      .withColumn("f", expr("pq_argmin(v, fcvs)"))
      .select(col("c2"), col("f"), col("v"))
    val wRe = Window.partitionBy(col("c2")).orderBy(col("f"))
    val sums = (0 until dim).map { i =>
      sum(expr(s"cast(round(v[$i], 9) as decimal(28,9))")).as(s"s$i")
    } :+ count(lit(1)).as("cnt")
    val means = (0 until dim).map { i =>
      round(col(s"s$i").cast("double") / col("cnt"), 9)
    }
    assigned
      .groupBy(col("c2"), col("f"))
      .agg(sums.head, sums.tail: _*)
      .select(col("c2"), col("f"), array(means: _*).as("cv"))
      .select(col("c2"),
        ((row_number().over(wRe)) - 1).cast("int").as("fnew"),
        col("cv"))
      .withColumnRenamed("fnew", "f")
  }

  /** Fine INIT: the residue sample at expected load KnnCellLoad, each
    * sampled point homed to ITS nearest coarse cell; identity (c2, f)
    * with f = the sample's vec_id rank within the coarse cell.
    */
  private[graft] def fineInit(routed: DataFrame, corpus: DataFrame)
      : DataFrame = {
    val wInit = Window.partitionBy(col("c2")).orderBy(col("cid"))
    routed.crossJoin(broadcast(cellLoadWidth(corpus)))
      .filter(expr(idHash60Spark("vec_id")) % col("fstride") === 0)
      .select(col("cc").getItem(0).as("c2"), col("vec_id").as("cid"),
        col("v").as("cv"))
      .withColumn("f", (row_number().over(wInit) - 1).cast("int"))
      .select(col("c2"), col("f"), col("cv"))
  }

  /** Per-coarse fine-centroid arrays (c2, fcvs) in fine-position order
    * (f is dense per coarse, so position p = f and the pq_argmin
    * strict-< tiebreak is the oracle's ORDER BY d2, f).
    */
  private def fineArr(fcents: DataFrame): DataFrame =
    fcents.groupBy(col("c2"))
      .agg(sort_array(collect_list(struct(col("f"), col("cv")))).as("fs"))
      .select(col("c2"), expr("transform(fs, x -> x.cv)").as("fcvs"))

  /** Hierarchical stage (cells, corpus): the bounded-load stage with the
    * fine level Lloyd-TRAINED (`fineIters` grouped rounds) instead of
    * sampled; at zero rounds it IS [[coarseCells]] (Round20Spec pins
    * the edge-set equality). Fine cell count still grows ∝ n, so
    * candidate volume stays linear — training moves the centroids, not
    * the budget.
    */
  private def hierCells(base: DataFrame, fineIters: Int,
      ca0: Option[DataFrame]): Seq[DataFrame] = {
    graft.functions.GraftFunctions.register(base.sparkSession)
    val corpus = base.transform(Layouts.spread).persist()
    corpus.count()
    val routed = coarseRouted(corpus, ca0).persist()
    routed.count()
    var fc = fineInit(routed, corpus).localCheckpoint()
    for (_ <- 1 to fineIters)
      fc = fineLloydRound(routed, fc).localCheckpoint()
    val cells = twoLevelCells(routed, fineArr(fc),
      s"cast(c2 as bigint) * $FineCellBase + p")
    routed.unpersist(false)
    Seq(cells, corpus)
  }

  /** Cell-serving tail over a persisted (vec_id, v, nrm, cells) stage:
    * homes at cells[0], probes at every cell, ONE candidate equi-join (a
    * pair meets at most once), exact cosine, ONE WindowGroupLimit-pruned
    * top-k. `sorted = false` skips the presentation sort for internal
    * consumers (the NN-Descent seed repartitions immediately); same rows.
    */
  private[graft] def cellGraphServe(cells: DataFrame, k: Int = KnnK,
      sorted: Boolean = true): DataFrame = {
    val homes = cells.select(col("vec_id"), col("v"), col("nrm"),
      col("cells").getItem(0).as("cell"))
    val probes = cells.select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("nrm").as("qn"),
      explode(col("cells")).as("cell"))
    val scored = homes.join(probes.hint("shuffle_hash"), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorOps.cosine(col("v"), col("qv"), col("nrm"), col("qn")), 6)
          .as("cosine"))
    val res = topK(scored, k)
    if (sorted) res.orderBy(col("vec_id"), col("rank")) else res
  }

  /** One NN-Descent round over a materialized width-k edge table, as
    * (round result, persisted av stage): undirected co-neighbor
    * adjacency (forward lists k-bounded, reverse lists k-capped by
    * (cosine desc, id asc) — every adjacency ≤ 2k, no hub task),
    * vectors riding the adjacency so candidates are scored in-task and
    * the pair dedup shuffles cosines, never vectors.
    *
    * Exchange budget (5 per round): `av` is materialized once,
    * repartitioned by the shared endpoint, so the co-neighbor self-join
    * reads it co-partitioned with zero exchanges and the attach join
    * runs once; the adjacency dedup is repartition(nb) + distinct (also
    * the attach join's distribution); the candidate dedup is
    * repartition(query_id) + group-max (also the re-rank window's).
    */
  private[graft] def nndRoundStaged(corpus: DataFrame, edges: DataFrame,
      k: Int = KnnNndWidth): Staged = {
    val fwd = edges.select(col("vec_id").as("node"),
      col("neighbor_id").as("nb"))
    val wr = Window.partitionBy(col("neighbor_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val rev = edges.withColumn("rrn", row_number().over(wr))
      .filter(col("rrn") <= k)
      .select(col("neighbor_id").as("node"), col("vec_id").as("nb"))
    val adj = fwd.unionByName(rev).repartition(col("nb")).distinct()
    val av = adj.join(
      corpus.select(col("vec_id").as("nb"), col("v"), col("nrm"))
        .hint("shuffle_hash"), Seq("nb"))
      .select(col("node"), col("nb"), col("v"), col("nrm"))
      .repartition(col("node"))
      .persist() // lazy: the first task to touch a partition fills it,
                 // the self-join's second read of the same block hits it
    val co = av.as("x").join(av.as("y").hint("shuffle_hash"),
        col("x.node") === col("y.node"))
      .filter(col("x.nb") =!= col("y.nb"))
      .select(col("x.nb").as("query_id"), col("y.nb").as("neighbor_id"),
        round(VectorOps.cosine(col("y.v"), col("x.v"),
          col("y.nrm"), col("x.nrm")), 6).as("cosine"))
    val cand = co.unionByName(
        edges.select(col("vec_id").as("query_id"), col("neighbor_id"),
          col("cosine")))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
    Staged(topK(cand, k), Seq(av))
  }

  /** One NN-Descent round, checkpointed, its av stage released. */
  private[graft] def nndRound(corpus: DataFrame, edges: DataFrame,
      k: Int = KnnNndWidth): DataFrame =
    nndRoundStaged(corpus, edges, k).materialize()

  /** The refinement chain over a (cells[, corpus]) stage: the width-K'
    * seed (unsorted — round 1 repartitions it), `rounds` rounds at K',
    * then ranks 1..k of the final lists.
    */
  private def nndChainOver(stages: Seq[DataFrame], rounds: Int): DataFrame =
    nndChainOverSeed(stages.last,
      cellGraphServe(stages.head, KnnNndWidth, sorted = false)
        .localCheckpoint(true),
      rounds, releaseSeed = true)

  /** The refinement rounds over an already-materialized width-K' seed.
    * `releaseSeed` frees the seed once round 1 has materialized (the
    * recall audit owns its shared seeds and releases them itself).
    */
  private def nndChainOverSeed(corpus: DataFrame, seed: DataFrame,
      rounds: Int, releaseSeed: Boolean = false): DataFrame = {
    var g = seed
    for (r <- 1 to rounds) {
      g = nndRound(corpus, g)
      if (r == 1 && releaseSeed) Layouts.releaseCheckpoint(seed)
    }
    g.filter(col("rank") <= KnnK).orderBy(col("vec_id"), col("rank"))
  }

  // ════ DuckDB oracle ════════════════════════════════════════════════

  /** The oracle statement of `plan(corpus, cells, refine)` at degree `k`. */
  def duckSql[C <: Cells](cells: C, refine: Refine[C] = Refine.Off,
      k: Int = KnnK): String = {
    val ind = (cells, refine) match {
      case (_: IvfSampled | IvfTrained, Refine.Off) => "    "
      case _ => "      "
    }
    s"""WITH ${duckCtes(cells, refine)}
${ind}SELECT query_id AS vec_id, rank, neighbor_id, cosine FROM ranked
${ind}WHERE rank <= $k ORDER BY vec_id, rank"""
  }

  /** The oracle CTE chain ending in `ranked` (query_id, neighbor_id,
    * cosine, rank) with `nvecs` in scope for the LSH and NN-Descent
    * chains — what the τ-edge oracles nest.
    */
  def duckCtes[C <: Cells](cells: C, refine: Refine[C] = Refine.Off)
      : String = refine match {
    case Refine.Nnd(rounds) =>
      nndDuckCtes(duckSql(cells, Refine.Off, KnnNndWidth), rounds)
    case Refine.Off => cells match {
      case Lsh(bits) => lshDuckCtes(bits)
      case LshAuto => lshAutoDuckCtes
      case IvfSampled(nprobe) => sampledDuckCtes(nprobe)
      case IvfTrained => trainedDuckCtes
      case IvfCoarse => coarseDuckCtes
      case IvfHier(fineIters) => hierDuckCtes(fineIters)
    }
  }

  private val rankedDuck =
    """ranked AS (
        SELECT query_id, neighbor_id, cosine,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM sims)"""

  /** Distinct bucket-mate candidates, exact cosine, rank — the tail of
    * both sign-LSH chains.
    */
  private def lshTailDuck: String =
    s"""cand AS (
        SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id
        FROM corpus a JOIN q ON a.bucket = q.bucket
          AND a.vec_id <> q.query_id),
      sims AS (
        SELECT c.query_id, c.neighbor_id,
          round(${VectorOps.duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cosine
        FROM cand c
        JOIN nvecs b ON b.vec_id = c.query_id
        JOIN nvecs a ON a.vec_id = c.neighbor_id),
      $rankedDuck"""

  private def lshDuckCtes(bits: Int): String = {
    val tables = knnTables(bits)
    def bucketSql(t: Int) = (0 until bits).map { b =>
      val lits = tables(t)(b).mkString("[", ", ", "]")
      s"(CASE WHEN ${VectorOps.duckDot("v", lits)} >= 0.0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")
    def probes(t: Int) = (0 to bits).map {
      case 0 => s"b$t + ${t << bits}"
      case b => s"xor(b$t, ${1 << (b - 1)}) + ${t << bits}"
    }.mkString("[", ", ", "]")
    s"""${Embeddings.normedDuck},
      bucketed AS (
        SELECT vec_id, v, nrm, ${bucketSql(0)} AS b0, ${bucketSql(1)} AS b1
        FROM nvecs),
      corpus AS (
        SELECT vec_id, v, nrm, b0 AS bucket FROM bucketed
        UNION ALL
        SELECT vec_id, v, nrm, b1 + ${1 << bits} AS bucket FROM bucketed),
      q AS (
        SELECT vec_id AS query_id, unnest(${probes(0)}) AS bucket
        FROM bucketed
        UNION ALL
        SELECT vec_id AS query_id, unnest(${probes(1)}) AS bucket
        FROM bucketed),
      $lshTailDuck"""
  }

  private lazy val lshAutoDuckCtes: String = {
    val tables = knnTables(KnnAutoMaxBits)
    def sigSql(t: Int) = (0 until KnnAutoMaxBits).map { b =>
      val lits = tables(t)(b).mkString("[", ", ", "]")
      s"(CASE WHEN ${VectorOps.duckDot("v", lits)} >= 0.0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")
    val bitsSql =
      s"greatest($KnnAutoMinBits, least($KnnAutoMaxBits, length(bin(count(*) - 1))))"
    def probesSql(st: String, t: Int) =
      s"""list_transform(range(0, bits + 1), i ->
          (CASE WHEN i = 0 THEN ($st & mask)
           ELSE xor(($st & mask), (1 << (i - 1))) END) + $t * (mask + 1))"""
    s"""${Embeddings.normedDuck},
      width AS (
        SELECT $bitsSql AS bits, (1 << $bitsSql) - 1 AS mask FROM vecs),
      bucketed AS (
        SELECT vec_id, v, nrm, bits, mask,
          ${sigSql(0)} AS s0, ${sigSql(1)} AS s1
        FROM nvecs CROSS JOIN width),
      corpus AS (
        SELECT vec_id, (s0 & mask) AS bucket FROM bucketed
        UNION ALL
        SELECT vec_id, (s1 & mask) + (mask + 1) AS bucket FROM bucketed),
      q AS (
        SELECT vec_id AS query_id, unnest(${probesSql("s0", 0)}) AS bucket
        FROM bucketed
        UNION ALL
        SELECT vec_id AS query_id, unnest(${probesSql("s1", 1)}) AS bucket
        FROM bucketed),
      $lshTailDuck"""
  }

  /** Home (`assign`) and probed cells (`probes`) from `cellranks`. */
  private def assignProbesDuck(nprobe: Int): String =
    s"""assign AS (
        SELECT vec_id, v, nrm, pos FROM cellranks WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, v AS qv, nrm AS qn, pos
        FROM cellranks WHERE rn <= $nprobe)"""

  /** Within-probed-cell candidates joined on `key`, exact cosine, rank. */
  private def cellSimsDuck(key: String): String =
    s"""sims AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
          round(${VectorOps.duckDot("a.v", "p.qv")} / (a.nrm * p.qn), 6)
            AS cosine
        FROM assign a JOIN probes p
          ON a.$key = p.$key AND a.vec_id <> p.query_id),
      $rankedDuck"""

  /** The argmin/probe replay is the cross-join + row_number form (the
    * kmeans-auto oracle's parity with Spark's compiled argmin).
    */
  private def sampledDuckCtes(nprobe: Int): String = {
    val ad = VectorOps.duckDist2("a.v", "c.cv")
    s"""${Embeddings.normedDuck},
      width AS (${Round17Queries.ivfAutoWidthSql("nvecs",
        Round17Queries.IvfAutoMaxK)}),
      cents AS (
        SELECT vec_id AS pos, v AS cv
        FROM nvecs CROSS JOIN width
        WHERE ${idHash60Duck("vec_id")} % stride = 0),
      cellranks AS (
        SELECT a.vec_id, a.v, a.nrm, c.pos,
          row_number() OVER (PARTITION BY a.vec_id
            ORDER BY $ad ASC, c.pos ASC) AS rn
        FROM nvecs a CROSS JOIN cents c),
      ${assignProbesDuck(nprobe)},
      ${cellSimsDuck("pos")}"""
  }

  /** Trained-cell chain: the unrolled Lloyd prefix plus cell ranks,
    * ending in `assign` (vec_id, v, nrm, pos — the home cell) and
    * `probes` (query_id, qv, qn, pos). Nested by the IvfTrained graph
    * oracle and the ST28 dedup-twin oracle.
    */
  private[graft] def trainedCellDuckCtes: String = {
    val it = Round11bQueries.KmIters
    val ad = VectorOps.duckDist2("a.v", "c.cv")
    s"""${Round11bQueries.kmDuckPrefixFrom(
        Round17Queries.kmeansAutoC0Sql, it)},
      cellranks AS (
        SELECT a.vec_id, a.v, ${VectorOps.duckNorm("a.v")} AS nrm, c.pos,
          row_number() OVER (PARTITION BY a.vec_id
            ORDER BY $ad ASC, c.pos ASC) AS rn
        FROM vecs a CROSS JOIN c$it c),
      ${assignProbesDuck(KnnIvfNprobe)}"""
  }

  private def trainedDuckCtes: String =
    s"""$trainedCellDuckCtes,
      ${cellSimsDuck("pos")}"""

  /** The matching DuckDB width CTE body (over `src`). */
  private def cellLoadWidthSql(src: String): String =
    s"""SELECT n, fk, ck,
        greatest(1, CAST(floor(CAST(n AS DOUBLE) / fk) AS BIGINT)) AS fstride,
        greatest(1, CAST(floor(CAST(n AS DOUBLE) / ck) AS BIGINT)) AS cstride
      FROM (
        SELECT n,
          greatest(4, CAST(ceil(CAST(n AS DOUBLE) / $KnnCellLoad) AS BIGINT))
            AS fk,
          greatest(4, CAST(ceil(CAST(n AS DOUBLE) /
            ${KnnCellLoad * KnnCellLoad}) AS BIGINT)) AS ck
        FROM (SELECT count(*) AS n FROM $src))"""

  /** The two-level chain around its fine level: the shared unrolled
    * Lloyd coarse prefix, the width table and coarse ranks, then
    * `fineCtes` (the fine table), the probed coarse cells, `cellranks`
    * (per-(vector, probed-coarse) fine ranks), and `ordered` — the
    * Spark cells-array order (coarse rank, fine rank), so home =
    * overall rn 1 on both engines.
    */
  private def twoLevelDuckCtes(fineCtes: String, cellranks: String)
      : String = {
    val it = Round11bQueries.KmIters
    val cd = VectorOps.duckDist2("a.v", "c.cv")
    s"""${Round11bQueries.kmDuckPrefixFrom(
        Round17Queries.kmeansAutoC0Sql, it)},
      width AS (${cellLoadWidthSql("vecs")}),
      coarseranks AS (
        SELECT a.vec_id, a.v, c.pos,
          row_number() OVER (PARTITION BY a.vec_id
            ORDER BY $cd ASC, c.pos ASC) AS crn
        FROM vecs a CROSS JOIN c$it c),
      $fineCtes,
      vprobes AS (
        SELECT vec_id, v, pos AS c2, crn FROM coarseranks
        WHERE crn <= $KnnCoarseNprobe),
      $cellranks,
      ordered AS (
        SELECT vec_id, v, cell,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY crn ASC, frn ASC) AS rn
        FROM cellranks WHERE frn <= $KnnIvfNprobe),
      assign AS (
        SELECT vec_id, v, ${VectorOps.duckNorm("v")} AS nrm, cell
        FROM ordered WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, v AS qv, ${VectorOps.duckNorm("v")} AS qn,
          cell
        FROM ordered),
      ${cellSimsDuck("cell")}"""
  }

  private def coarseDuckCtes: String = {
    val it = Round11bQueries.KmIters
    val fcd = VectorOps.duckDist2("f.cv", "c.cv")
    val fd = VectorOps.duckDist2("p.v", "f.cv")
    twoLevelDuckCtes(
      s"""fine AS (
        SELECT vec_id AS cid, v AS cv FROM vecs CROSS JOIN width
        WHERE ${idHash60Duck("vec_id")} % fstride = 0),
      frouted AS (
        SELECT cid, cv, c2 FROM (
          SELECT f.cid, f.cv, c.pos AS c2,
            row_number() OVER (PARTITION BY f.cid
              ORDER BY $fcd ASC, c.pos ASC) AS rn
          FROM fine f CROSS JOIN c$it c) WHERE rn = 1)""",
      s"""cellranks AS (
        SELECT p.vec_id, p.v, p.crn, f.cid AS cell,
          row_number() OVER (PARTITION BY p.vec_id, p.crn
            ORDER BY $fd ASC, f.cid ASC) AS frn
        FROM vprobes p JOIN frouted f ON f.c2 = p.c2)""")
  }

  /** The two-level chain with the fine level's grouped Lloyd rounds
    * unrolled: f0 = the residue sample homed to its coarse cell, each
    * round = a per-vector argmin WITHIN the home coarse cell (d2 asc,
    * f asc), the round-9 decimal-mean update grouped by (c2, f), and a
    * dense per-coarse re-index; serving ranks the TRAINED fine table
    * with cell = c2·2³² + f.
    */
  private def hierDuckCtes(fineIters: Int): String = {
    val it = Round11bQueries.KmIters
    val scd = VectorOps.duckDist2("f.cv", "c.cv")
    val fad = VectorOps.duckDist2("a.v", "c.cv")
    val fd = VectorOps.duckDist2("p.v", "c.cv")
    val dim = SimilarityQueries.Dim
    val fineRounds = (1 to fineIters).map { i =>
      s"""fa$i AS (
          SELECT vec_id, v, c2, f FROM (
            SELECT a.vec_id, a.v, a.c2, c.f,
              row_number() OVER (PARTITION BY a.vec_id
                ORDER BY $fad ASC, c.f ASC) AS rn
            FROM hv a JOIN f${i - 1} c ON c.c2 = a.c2) WHERE rn = 1),
        fu$i AS (
          SELECT c2, f, u.j AS idx,
            round(CAST(sum(CAST(round(v[u.j + 1], 9) AS DECIMAL(28,9))) AS DOUBLE)
                  / count(*), 9) AS mn
          FROM fa$i, unnest(range(0, $dim)) u(j)
          GROUP BY c2, f, u.j),
        f$i AS (
          SELECT c2, CAST(row_number() OVER (PARTITION BY c2 ORDER BY f) - 1
            AS INT) AS f, cv
          FROM (
            SELECT c2, f, list(mn ORDER BY idx) AS cv FROM fu$i
            GROUP BY c2, f))"""
    }.mkString(",\n      ")
    twoLevelDuckCtes(
      s"""hv AS (
        SELECT vec_id, v, pos AS c2 FROM coarseranks WHERE crn = 1),
      fsamp AS (
        SELECT vec_id AS cid, v AS cv FROM vecs CROSS JOIN width
        WHERE ${idHash60Duck("vec_id")} % fstride = 0),
      f0r AS (
        SELECT cid, cv, c2 FROM (
          SELECT f.cid, f.cv, c.pos AS c2,
            row_number() OVER (PARTITION BY f.cid
              ORDER BY $scd ASC, c.pos ASC) AS rn
          FROM fsamp f CROSS JOIN c$it c) WHERE rn = 1),
      f0 AS (
        SELECT c2, CAST(row_number() OVER (PARTITION BY c2 ORDER BY cid) - 1
          AS INT) AS f, cv
        FROM f0r),
      $fineRounds""",
      s"""cellranks AS (
        SELECT p.vec_id, p.v, p.crn,
          p.c2 * $FineCellBase + c.f AS cell,
          row_number() OVER (PARTITION BY p.vec_id, p.crn
            ORDER BY $fd ASC, c.f ASC) AS frn
        FROM vprobes p JOIN f$fineIters c ON c.c2 = p.c2)""")
  }

  /** NN-Descent rounds over a width-K' seed statement (nested whole —
    * its own WITH scope, no CTE collisions): adjacency (UNION = the set
    * dedup), co-neighbor candidates ∪ incumbents, exact re-score, top-K'.
    */
  private def nndDuckCtes(seedSql: String, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""adj$r AS (
          SELECT query_id AS node, neighbor_id AS nb FROM e${r - 1}
          UNION
          SELECT node, nb FROM (
            SELECT neighbor_id AS node, query_id AS nb,
              row_number() OVER (PARTITION BY neighbor_id
                ORDER BY cosine DESC, query_id ASC) AS rrn
            FROM e${r - 1}) WHERE rrn <= $KnnNndWidth),
        cand$r AS (
          SELECT x.nb AS query_id, y.nb AS neighbor_id
          FROM adj$r x JOIN adj$r y ON x.node = y.node AND x.nb <> y.nb
          UNION
          SELECT query_id, neighbor_id FROM e${r - 1}),
        scored$r AS (
          SELECT c.query_id, c.neighbor_id,
            round(${VectorOps.duckDot("a.v", "q.v")} / (a.nrm * q.nrm), 6)
              AS cosine
          FROM cand$r c
          JOIN nvecs q ON q.vec_id = c.query_id
          JOIN nvecs a ON a.vec_id = c.neighbor_id),
        e$r AS (
          SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT query_id, neighbor_id, cosine,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored$r) WHERE rank <= $KnnNndWidth)"""
    }.mkString(",\n        ")
    s"""${Embeddings.normedDuck},
      e0 AS (
        SELECT vec_id AS query_id, neighbor_id, cosine
        FROM ($seedSql) seed),
      $roundCtes,
      ranked AS (
        SELECT query_id, neighbor_id, cosine, rank FROM e$rounds)"""
  }

  // ════ The build table and the recall audit ═════════════════════════

  /** One declared kNN-graph build: row name, recall-audit label,
    * strategy, doc.
    */
  final case class Build[C <: Cells](name: String, label: String, cells: C,
      refine: Refine[C], doc: String) {
    lazy val oracle: String = duckSql(cells, refine)
    def plan(corpus: DataFrame): Staged = KnnGraph.plan(corpus, cells, refine)
  }

  /** The nine declared builds, in recall-audit order. */
  val Builds: Seq[Build[_ <: Cells]] = Seq(
    // Every vector retrieves its top-k among multiprobe bucket-mates
    // over two independent tables; candidate volume is Σ bucket-load²
    // per table, never all-pairs.
    Build("sim_knn_graph", "lsh_fixture", Lsh(SimilarityQueries.NBits),
      Refine.Off,
      s"Sign-LSH kNN graph (k=$KnnK): every vector's top-k cosine " +
        "neighbors among multiprobe bucket-mates across TWO independent " +
        "hash tables (pair-level distinct, exact verify once); candidate " +
        "volume is sum of bucket-load^2 per table, never all-pairs; " +
        "width-scaled bits rule applies at growing corpus scale."),
    // Candidates grow as n²/2^bits per table: the fixture's 8-bit index
    // goes quadratic on probe corpora (×26: 133 s); 2^12 buckets cut
    // per-bucket load ~16×.
    Build("sim_knn_graph_scaled", "lsh_scaled", Lsh(KnnScaledBits),
      Refine.Off,
      s"Width-scaled kNN graph (bits=$KnnScaledBits ~ log2 of the " +
        "probe corpora): same two-table multiprobe recipe with a wider " +
        "signature — per-bucket load, hence candidate volume, stays " +
        "constant as the corpus grows."),
    Build("sim_knn_graph_auto", "lsh_auto", LshAuto, Refine.Off,
      s"Auto-width kNN graph (k=$KnnK): bits = " +
        s"clamp(ceil(log2 n), $KnnAutoMinBits, $KnnAutoMaxBits) derived " +
        "IN-PLAN from a 1-row broadcast count scalar via length(bin(n-1)) " +
        "(bit-exact in both engines); the bucket is a MaxBits signature " +
        "masked to its low `bits` bits, multiprobe flips generated from a " +
        "runtime-length sequence — per-bucket load stays ~1 at any corpus " +
        "size with no per-dataset retuning."),
    // Sign-LSH candidate generation collapses in the mid-cosine regime;
    // IVF cells follow the data. Candidate volume is n·nprobe·(n/K).
    Build("sim_knn_graph_ivf", "ivf_cell", IvfSampled(), Refine.Off,
      s"IVF-cell kNN graph (k=$KnnK): cells = " +
        "~K count-derived centroids (K = clamp(ceil(sqrt(n)), 4, " +
        "4096), the FAISS sizing rule in-plan) drawn by an " +
        "id-distribution-free hash-residue sample, every vector " +
        s"probes its $KnnIvfNprobe nearest " +
        "cells via one zero-shuffle broadcast-argmin pass (ties to " +
        "the lowest cell id), candidates = within-probed-cell pairs " +
        "(each pair meets at most once — no dedup stage), exact " +
        "cosine verify, one top-k rollup; the mid-cosine-regime " +
        "alternative to the sign-LSH graph builds, recall-priced by " +
        "sim_knn_graph_recall."),
    // Trained cells co-locate the corpus's neighbor structure, sampled
    // cells only tile it (serving recall 0.88–1.00 vs 0.24–0.44 through
    // ×104).
    Build("sim_knn_graph_ivf_kmeans", "ivf_kmeans_cell", IvfTrained,
      Refine.Off,
      s"Lloyd-trained IVF-cell kNN graph (k=$KnnK" +
        "): the V9b trained quantizer (K = clamp(ceil(sqrt(n)), 4, " +
        "1024), id-layout-free hash-residue init, 3 k-agnostic Lloyd " +
        s"rounds) feeding the shared cell-graph tail ($KnnIvfNprobe " +
        "probed cells per vector via compiled pq_argmin_k, " +
        "within-probed-cell candidates, exact cosine, one top-k " +
        "rollup); the trained twin of sim_knn_graph_ivf — the " +
        "round-19 audit measures what training the cells buys the " +
        "graph build's edge recall."),
    // Retires the K clamp: with fine cell count ∝ n the per-cell load is
    // constant; the sampled-coarse twin at identical cost read recall
    // 0.02 at ×10 where this build reads 0.16.
    Build("sim_knn_graph_ivf_scaled", "ivf_scaled_cell", IvfCoarse,
      Refine.Off,
      s"Trained-coarse bounded-load IVF-cell kNN graph " +
        s"(k=$KnnK): coarse = the V9b Lloyd " +
        "quantizer (K = clamp(ceil(sqrt(n)), 4, 1024) — assignment " +
        "one compiled pass, linear past the cap), fine = hash-residue " +
        s"sample at constant expected load $KnnCellLoad routed into " +
        "per-coarse cid-ordered sub-quantizer arrays (the D7b " +
        s"load-constant discipline); $KnnCoarseNprobe probed coarse " +
        s"cells x $KnnIvfNprobe fine cells each, " +
        "cells ordered (coarse rank, fine rank), shared " +
        "within-probed-cell candidate join and top-k rollup; " +
        "candidate volume n*cnprobe*fnprobe*load = LINEAR at any " +
        "corpus size (retires V22/V23's K clamp), recall-priced by " +
        "sim_knn_graph_recall."),
    // Cells only propose geometrically-close pairs; NN-Descent adds
    // neighbors-of-neighbors from the graph itself, linear per round.
    Build("sim_knn_graph_nnd", "nnd", IvfCoarse, Refine.Nnd(),
      s"NN-Descent-refined kNN graph (k=$KnnK, " +
        s"$KnnNndRounds rounds at internal width K'=$KnnNndWidth, Dong " +
        "et al. WWW 2011): seed = the bounded-load cell stage served " +
        "at K' (the paper's own discipline — k=5 lists are too narrow " +
        "to propagate structure), each round proposes co-neighbor " +
        "candidates from the CURRENT graph (self-join of the K'-edge " +
        "table on the shared endpoint, reverse lists K'-capped so " +
        "every adjacency is <= 2K'), scores them exactly in-task " +
        "(vectors ride the adjacency; the dedup shuffles cosines, not " +
        "vectors), unions the incumbents, re-ranks top-K'; output = " +
        "the top k of the final width-K' lists; the family's declared " +
        "100 TB path — linear seed + bounded refinement, recall-priced " +
        "per round by sim_knn_graph_recall."),
    // Training the fine level moves the fine centroids onto the local
    // neighbor structure at the same cell count and candidate budget.
    Build("sim_knn_graph_ivf_hier", "ivf_hier_cell", IvfHier(), Refine.Off,
      s"Hierarchical-k-means bounded-load IVF-cell kNN graph " +
        s"(k=$KnnK): V24's trained-coarse / " +
        "constant-load-fine stage with the FINE level Lloyd-TRAINED " +
        s"per coarse cell ($KnnFineIters grouped rounds — assignment " +
        "within the home coarse cell via one broadcast compiled " +
        "pq_argmin pass, the shared round-9 decimal-mean update " +
        "grouped by (coarse, fine), dense per-coarse re-index); fine " +
        "INIT = V24's residue sample (identical geometry at zero " +
        "rounds — Round20Spec pins the edge-set equality), fine cell " +
        "COUNT still grows with n so candidate volume stays " +
        "n*cnprobe*fnprobe*load = LINEAR; cell id = coarse*2^32 + " +
        "fine position, shared cellGraphServe tail; recall-priced by " +
        "sim_knn_graph_recall."),
    // Refinement amplifies seed signal, so the best linear seed gets the
    // same declared rounds.
    Build("sim_knn_graph_nnd_hier", "nnd_hier", IvfHier(), Refine.Nnd(),
      s"NN-Descent-refined hierarchical kNN graph " +
        s"(k=$KnnK, $KnnNndRounds rounds at internal " +
        s"width K'=$KnnNndWidth): the V25 refinement re-seeded on the " +
        "trained-fine bounded-load stage — same co-neighbor rounds, " +
        "same constants, better seed signal for the percolation to " +
        "amplify; the family's highest-recall fully-linear chain, " +
        "recall-priced per leg by sim_knn_graph_recall."))

  /** Exact cosine top-KnnK truth for the recall panel (the KnnRecallPanel
    * smallest vec_ids by rank — id-distribution-free), as
    * (query_id, neighbor_id).
    */
  private def bruteKnnPanel(all: DataFrame): DataFrame = {
    val panel = all.select(col("vec_id"))
      .orderBy(col("vec_id")).limit(KnnRecallPanel)
    val q = all.join(broadcast(panel), Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val scored = all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorOps.cosine(col("v"), col("qv"), col("nrm"), col("qn")), 6)
          .as("cosine"))
    topK(scored, KnnK).select(col("vec_id").as("query_id"), col("neighbor_id"))
  }

  /** The matching DuckDB panel truth (full statement). */
  private def bruteKnnPanelDuckSql: String =
    s"""WITH ${Embeddings.normedDuck},
      qsel AS (SELECT vec_id FROM nvecs
               ORDER BY vec_id LIMIT $KnnRecallPanel),
      q AS (SELECT n.vec_id AS query_id, n.v AS qv, n.nrm AS qn
            FROM nvecs n JOIN qsel USING (vec_id)),
      sims AS (
        SELECT q.query_id, a.vec_id AS neighbor_id,
          round(${VectorOps.duckDot("a.v", "q.qv")} / (a.nrm * q.qn), 6)
            AS cosine
        FROM nvecs a JOIN q ON a.vec_id <> q.query_id),
      $rankedDuck
    SELECT query_id, neighbor_id FROM ranked WHERE rank <= $KnnK"""

  /** Edge recall of any (label, build-over-corpus) set against the panel
    * truth, over ONE prepared corpus threaded through the truth and
    * every build. Safe to release the corpus in the finally: every build
    * materializes its graph, and the truth is a bounded collect
    * rebuilt as a local relation.
    */
  private[graft] def graphRecallOver(s: SparkSession, dir: String,
      builds: Seq[(String, DataFrame => DataFrame)]): DataFrame = {
    val base = Embeddings.normed(s, dir).persist()
    try {
      base.count()
      val truthRows = bruteKnnPanel(base).collect().toSeq
      val panelIds = truthRows.map(_.getLong(0)).distinct.sorted
      import s.implicits._
      val truth = broadcast(
        truthRows.map(r => (r.getLong(0), r.getLong(1)))
          .toDF("query_id", "neighbor_id"))
      val tn = truth.groupBy(col("query_id"))
        .agg(count(lit(1)).as("t_n"))
      builds.map { case (bld, f) =>
        val approx = f(base)
          .filter(col("vec_id").isin(panelIds: _*))
          .select(col("vec_id").as("query_id"), col("neighbor_id"))
        val hit = truth
          .join(approx, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
        tn.join(hit, Seq("query_id"), "left")
          .select(lit(bld).as("build"), col("query_id"),
            coalesce(col("h"), lit(0L)).as("hits"),
            (coalesce(col("h"), lit(0L)).cast("double") /
              col("t_n").cast("double")).as("recall"))
      }.reduce(_ unionByName _)
        .orderBy(col("build"), col("query_id"))
    } finally base.unpersist(false)
  }

  /** Corpus-scoped memo for the recall audit: the trained strategies
    * share ONE quantizer, and each refined strategy's cell stage is built
    * once and served once at width K' — its unrefined row is ranks 1..k
    * of that same window, its NN-Descent row refines that same seed.
    * Every memoized substrate is built over the ONE corpus the audit
    * threads through; a second corpus fails instead of reading stale
    * stages. `release` frees everything once the audit's graphs are
    * materialized.
    */
  private final class AuditMemo(refined: Set[Ivf]) {
    private var base0: DataFrame = null
    private var ca: Option[DataFrame] = None
    private val stages =
      scala.collection.mutable.LinkedHashMap.empty[Ivf, Seq[DataFrame]]
    private val seeds =
      scala.collection.mutable.LinkedHashMap.empty[Ivf, DataFrame]

    private def pinned(base: DataFrame): DataFrame = {
      if (base0 == null) base0 = base
      require(base0 eq base, "audit memo is corpus-scoped")
      base
    }

    private def trainedCa(base: DataFrame, cells: Cells): Option[DataFrame] =
      cells match {
        case IvfTrained | IvfCoarse | _: IvfHier =>
          if (ca.isEmpty) ca = Some(trainedCentArray(pinned(base)))
          ca
        case _ => None
      }

    private def stage(base: DataFrame, cells: Ivf): Seq[DataFrame] =
      stages.getOrElseUpdate(cells,
        cellStage(pinned(base), cells, trainedCa(base, cells)))

    private def seed(base: DataFrame, cells: Ivf): DataFrame =
      seeds.getOrElseUpdate(cells,
        cellGraphServe(stage(base, cells).head, KnnNndWidth, sorted = false)
          .localCheckpoint(true))

    def build[C <: Cells](base: DataFrame, b: Build[C]): DataFrame =
      b.refine match {
        case Refine.Nnd(rounds) =>
          nndChainOverSeed(stage(base, b.cells).last, seed(base, b.cells),
            rounds).localCheckpoint(true)
        case Refine.Off => b.cells match {
          case ivf: Ivf if refined(ivf) =>
            seed(base, ivf).filter(col("rank") <= KnnK).localCheckpoint(true)
          case cells =>
            planWith(base, cells, Refine.Off, trainedCa(base, cells))
              .materialize()
        }
      }

    def release(): Unit =
      (stages.values.flatten ++ seeds.values ++ ca)
        .foreach(Layouts.releaseCheckpoint)
  }

  /** The nine declared rows plus the recall audit. */
  val defs: Seq[QueryDef] = Builds.map { b =>
    QueryDef(b.name, (s, dir) => b.plan(Embeddings.normed(s, dir)).materialize(),
      Some(b.oracle), b.doc)
  } :+ QueryDef(
    "sim_knn_graph_recall",
    (s, dir) => {
      val memo = new AuditMemo(Builds.collect {
        case Build(_, _, ivf: Ivf, Refine.Nnd(_), _) => ivf }.toSet)
      try graphRecallOver(s, dir,
        Builds.map(b => b.label -> ((base: DataFrame) => memo.build(base, b))))
      finally memo.release()
    },
    Some {
      val buildCtes = Builds.map { b =>
        s"""b_${b.label} AS (
            SELECT vec_id AS query_id, neighbor_id
            FROM (${b.oracle}) s_${b.label}
            WHERE vec_id IN (SELECT vec_id FROM panel))"""
      }.mkString(",\n          ")
      val approxArms = Builds.map { b =>
        s"SELECT '${b.label}' AS build, query_id, neighbor_id FROM b_${b.label}"
      }.mkString("\n            UNION ALL\n            ")
      val buildRows = Builds.map(b => s"SELECT '${b.label}' AS build")
        .mkString(" UNION ALL ")
      s"""WITH truth AS (
            SELECT query_id, neighbor_id FROM ($bruteKnnPanelDuckSql) tt),
          panel AS (SELECT DISTINCT query_id AS vec_id FROM truth),
          $buildCtes,
          approx AS (
            $approxArms),
          tn AS (
            SELECT query_id, CAST(count(*) AS BIGINT) AS t_n
            FROM truth GROUP BY query_id),
          hit AS (
            SELECT x.build, x.query_id, CAST(count(*) AS BIGINT) AS h
            FROM truth t JOIN approx x
              ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id
            GROUP BY x.build, x.query_id),
          scaffold AS (
            SELECT b.build, n.query_id, n.t_n
            FROM ($buildRows) b CROSS JOIN tn n)
        SELECT s.build, s.query_id,
          CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
          CAST(coalesce(h.h, 0) AS DOUBLE) / CAST(s.t_n AS DOUBLE) AS recall
        FROM scaffold s LEFT JOIN hit h
          ON s.build = h.build AND s.query_id = h.query_id
        ORDER BY s.build, s.query_id"""
    },
    doc = s"Measured edge recall@$KnnK of the nine " +
      "declared kNN-graph builds (sign-LSH fixture/scaled/auto " +
      "widths, sampled-cell IVF, Lloyd-trained-cell IVF, " +
      "bounded-load IVF, hierarchical trained-fine IVF, and the " +
      "NN-Descent refinement over each) vs exact " +
      "brute-force truth on a " +
      s"$KnnRecallPanel-query panel (same rounding and tiebreak), " +
      "denominator = the per-query truth count computed in-plan, " +
      "ONE prepared corpus threaded through the truth and every " +
      "build (round 20): the τ-graph family's candidate generation " +
      "priced the way V18/V20 price the serving indexes — the " +
      "declared rows and the audit run the SAME build table (one plan " +
      "and one oracle statement per build), so the audit cannot " +
      "drift from what it measures.")
}
