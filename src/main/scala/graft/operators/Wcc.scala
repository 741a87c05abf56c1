package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{Aqe, CheckpointArena, LocalSolve, StepMetrics, Superstep}

/** Result handle for [[Wcc.run]]: the per-vertex components plus
  * [[release]] to unpersist the cached blocks backing [[components]] once
  * consumed (long-lived sessions otherwise accumulate storage blocks run
  * after run). The frame must not be used after release — checkpoint
  * lineage is truncated. Idempotent.
  */
final class WccRun(
    val components: DataFrame,
    val metrics: Vector[StepMetrics],
    releaseFn: () => Unit) {
  def release(): Unit = releaseFn()
}

/** Weakly connected components via alternating large-star / small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) — north-star capability (SURVEY.md §2.3) — finished locally
  * once the link set fits one task.
  *
  * State is an evolving undirected link set, not per-vertex labels: each
  * round rewires every vertex's larger neighbors to its minimum neighbor
  * (large-star), then its smaller neighbors to the minimum (small-star).
  * Converges in O(log² n) rounds with high probability — in practice ~5–15
  * on link sets above the local-solve budget — where naive min-label
  * flooding needs O(diameter) supersteps and even flooding + pointer-jumping
  * was measured at 169 supersteps on the reference's 46k-vertex `mid_tests`
  * graph (vs 10 rounds for this). Each phase is one groupBy + join +
  * distinct on the link set: all map-side-combinable hash aggregates, no
  * driver data, skew-tolerant (AQE splits the heavy min-groups).
  *
  * Local finish: star operations preserve connectivity, so the current
  * link set always has the input's components. Once its row count (which
  * rides every checkpoint) is within `localSolveEdgeThreshold` — the
  * budget [[Scc.components]] shares, [[LocalSolve.DefaultEdgeBudget]] —
  * contraction stops and [[LocalUnionFind]] labels the set in one task
  * (one shuffle, [[LocalSolve.whole]]). An input that already fits runs no
  * star round at all; the late rounds that only confirm the fixpoint never
  * run. Contraction drops redundant links but keeps about one per non-root
  * vertex, so an input above the budget finishes locally only when its
  * vertices (not just its edges) fit. Threshold 0 forces the pure star path.
  *
  * Canonical component id = min member id. On the star path convergence is
  * detected by a 64-bit content signature of the link set (xor of row
  * hashes + count) going stable — a checkpoint tap, so the check costs no
  * extra job per round.
  */
object Wcc {

  /** `roundsPerStep` large+small-star rounds run per driver action — the
    * checkpoint materialization and the convergence signature are the fixed
    * per-action latency, and composing rounds amortizes them (the composite
    * map has the same fixpoints, so signature-stability still detects
    * convergence; at worst the final action runs one already-converged
    * round, which is a no-op).
    *
    * `metrics` has one record per star step, plus a final record for the
    * local finish when it ran.
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      vertices: DataFrame,
      maxIter: Int = 50,
      roundsPerStep: Int = 1,
      snapshotDir: Option[String] = None,
      localSolveEdgeThreshold: Long = LocalSolve.DefaultEdgeBudget): WccRun = {

    val arena = new CheckpointArena
    def fits(rows: Long): Boolean = LocalSolve.fits(rows, localSolveEdgeThreshold)

    def largeStar(links: DataFrame): DataFrame = {
      val sym = links.select(col("u"), col("v"))
        .unionByName(links.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(links: DataFrame): DataFrame = {
      val oriented = links.select(
        greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = oriented.groupBy("u").agg(min("v").as("m"))
      oriented.join(mins, Seq("u"))
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // largeStar's first distinct dedupes anyway; an input distinct here
    // would be one more full shuffle of the edge table. The row count
    // rides this checkpoint, which the star loop reuses as its state0.
    val links0 = arena.checkpoint(edges
      .filter(col("src") =!= col("dst"))
      .select(col("src").as("u"), col("dst").as("v")))

    var linkRows = links0.rows
    val (links, starMetrics) =
      if (fits(links0.rows)) (links0.df, Vector.empty[StepMetrics])
      else {
        val harness = new Superstep(spark, "wcc", snapshotDir, arena = arena,
          tinyLoop = true)
        var prevSig: Option[(Long, Long)] = None
        var prevState: DataFrame = null
        // The (xor-hash, count) signature rides the checkpoint materialization
        // as a tap — round 6 removed the separate full-scan signature
        // aggregate job this used to cost per round. The same count stops
        // contraction once the link set fits the local finish.
        harness.run(links0.df, maxIter, state0Rows = Some(links0.rows),
          taps = Seq(bit_xor(xxhash64(col("u"), col("v"))))) { (st, _) =>
          prevState = st
          (0 until roundsPerStep).foldLeft(st)((s, _) => smallStar(largeStar(s)))
        } { next =>
          val rows = next.rows
          linkRows = rows
          val sig = (next.taps(0), rows)
          // The 64-bit signature alone leaves a ~2^-64/round early-termination
          // window (an xor-hash collision). On FIRST stability, one exact
          // confirmation closes it: counts already match (part of sig) and both
          // sides are distinct link sets, so one-direction set difference being
          // empty proves equality. Cost: one extra job per RUN, not per round.
          val changed =
            if (fits(rows)) 0L
            else if (!prevSig.contains(sig)) 1L
            else if (prevState != null &&
              !next.df.select("u", "v").except(prevState.select("u", "v")).isEmpty) {
              graft.Log.v("wcc: signature collision — exact check forced another round")
              1L
            } else 0L
          graft.Log.v(s"wcc round: links=$rows changed=$changed")
          prevSig = Some(sig)
          changed
        }
      }
    require(fits(linkRows) || starMetrics.lastOption.exists(_.changed == 0),
      s"WCC did not converge within $maxIter rounds")

    val t0 = System.nanoTime()
    val local = fits(linkRows)
    val comps =
      if (local) {
        graft.Log.v(s"wcc: local finish of $linkRows links")
        LocalSolve.whole(links.select(col("u").as("src"), col("v").as("dst")), LocalUnionFind)
      } else {
        // At fixpoint every link connects a vertex directly to its component
        // min. comp(v) = min neighbor (or self for roots/isolated vertices).
        links.select(col("u").as("id"), col("v").as("comp"))
          .unionByName(links.select(col("v").as("id"), col("u").as("comp")))
          .groupBy("id").agg(min("comp").as("comp"))
      }
    val out = vertices.select("id")
      .join(comps, Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("comp"), col("id"))).as("comp"))

    // AQE off for the local finish: its few tiny exchanges then run as one
    // job instead of one query-stage job each
    val result = (if (local) Aqe.off(spark)(arena.checkpoint(out)) else arena.checkpoint(out)).df
    arena.closeExcept(result)
    val metrics =
      if (!local) starMetrics
      else starMetrics :+ StepMetrics(starMetrics.size, 0L, (System.nanoTime() - t0) / 1000000)
    new WccRun(result, metrics, () => arena.closeExcept())
  }
}
