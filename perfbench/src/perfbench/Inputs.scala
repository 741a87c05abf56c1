package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.GraphSpec

/** Input generators, all a pure function of the workload seed. */
object Inputs {

  /** Web-shaped graph for the SCC query: 2-4-cycles glued by 6 random arcs
    * per vertex into one giant SCC. Large enough (> 250k edges) that graft's
    * whole-graph local solve does not apply, so the decomposition runs
    * round-0 BFS supersteps. The dense arcs keep the pivot's eccentricity
    * (8) and the pre-trim (1 sweep) the same for every seed; at 2.4 arcs per
    * vertex both varied with the seed (15-17 steps, 3-5 sweeps). */
  def sccWeb(seed: Long): GraphSpec =
    GraphSpec(numCycles = 10000, maxCycleLen = 4, extraArcsPerVertex = 6.0, seed = seed)

  /** Code table over blocks of 8 files, each block an import cycle of 2-8
    * files, plus 0.5 random cross-imports per file. */
  def codeTable(seed: Long): GraphSpec =
    GraphSpec(numCycles = 2000, maxCycleLen = 8, seed = seed)

  /** Clamped seed labels for label propagation: 1 vertex in 20, 8 labels. */
  def lpSeeds(verts: DataFrame, seed: Long): DataFrame =
    verts.filter(pmod(xxhash64(lit(seed + 7), col("id")), lit(20)) === 0)
      .select(col("id"), pmod(xxhash64(lit(seed + 8), col("id")), lit(8L)).as("label"))
}
