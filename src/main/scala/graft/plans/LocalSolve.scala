package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequential solver for one group of a graph, run inside a single task by
  * [[LocalSolve]] (e.g. `LocalTarjan` for SCC, `LocalUnionFind` for WCC).
  */
trait LocalKernel extends Serializable {
  /** Labels of one group: `ids` are its vertex rows, `src(i) → dst(i)` its
    * edges (never self-loops). Returns (id, label) for every member — the
    * vertex rows and every edge endpoint.
    */
  def solve(ids: Array[Long], src: Array[Long], dst: Array[Long]): Iterator[(Long, Long)]
}

object LocalKernel {
  /** Sorted distinct members of a group (vertex rows plus edge endpoints).
    * A member's position (found by binary search) is the dense index
    * kernels work on; ascending order makes the smallest index the smallest
    * id, so "min member" is a plain int comparison.
    */
  def members(ids: Array[Long], src: Array[Long], dst: Array[Long]): Array[Long] = {
    val all = new Array[Long](ids.length + src.length + dst.length)
    System.arraycopy(ids, 0, all, 0, ids.length)
    System.arraycopy(src, 0, all, ids.length, src.length)
    System.arraycopy(dst, 0, all, ids.length + src.length, dst.length)
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(all, n)
  }
}

/** The local phase of the hybrid operators: every group of rows whose edge
  * count fits the shared budget is sent to ONE task and finished there by a
  * sequential [[LocalKernel]] in a single shuffle, instead of paying one
  * Spark job per distributed superstep (Slota et al., IPDPS'14 — FW-BW for
  * the giant component, a sequential solve for everything that fits).
  *
  * Input frames: vertices `(key, id)` and edges `(key, src, dst)`, where
  * `key` names the group. Both SCC (per-pivot partitions, `LocalTarjan`)
  * and WCC (the contracted link set, `LocalUnionFind`) route through here.
  */
object LocalSolve {

  /** Per-task edge budget shared by every local finish: a group with at
    * most this many edges is solved in one task. 0 disables local solving.
    */
  val DefaultEdgeBudget: Long = 250000L

  /** Whether `edges` edges fit one task under `budget`. */
  def fits(edges: Long, budget: Long): Boolean = budget > 0 && edges <= budget

  /** Result of [[groups]]: the materialized (id, comp) labels, their row
    * count, and the materialized keys of the groups that were solved. */
  final case class Solved(labels: DataFrame, rows: Long, keys: DataFrame)

  /** Solve every group whose edge count fits `budget`. Two actions: the
    * fitting keys, then the labels (their count rides the checkpoint).
    */
  def groups(
      arena: CheckpointArena, vertices: DataFrame, edges: DataFrame,
      budget: Long, kernel: LocalKernel): Solved = {
    val edgeCounts = edges.groupBy("key").agg(count(lit(1)).as("ec"))
    val keys = arena.checkpoint(
      vertices.select("key").distinct()
        .join(edgeCounts, Seq("key"), "left")
        .filter(coalesce(col("ec"), lit(0L)) <= budget)
        .select("key")).df
    val labels = arena.checkpoint(grouped(
      Some(vertices.join(keys, Seq("key"), "left_semi")),
      edges.join(keys, Seq("key"), "left_semi"), kernel))
    Solved(labels.df, labels.rows, keys)
  }

  /** (id, comp) of a whole graph the caller knows fits one task: `edges`
    * `(src, dst)` and optional extra `vertices` `(id)` form one group.
    * Lazy — one shuffle when evaluated.
    */
  def whole(edges: DataFrame, kernel: LocalKernel,
      vertices: Option[DataFrame] = None): DataFrame =
    grouped(vertices.map(_.select(lit(0L).as("key"), col("id"))),
      edges.select(lit(0L).as("key"), col("src"), col("dst")), kernel)

  private def grouped(
      vertices: Option[DataFrame], edges: DataFrame, kernel: LocalKernel): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // A vertex row travels as the self-loop (id, id): self-loops change
    // neither strong nor weak connectivity, so one row shape carries both.
    val records = vertices.map(_.select(col("key"), col("id").as("src"), col("id").as("dst")))
      .foldLeft(edges.select("key", "src", "dst"))(_.unionByName(_))
    records.as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, rows) =>
        val ids = new mutable.ArrayBuilder.ofLong
        val src = new mutable.ArrayBuilder.ofLong
        val dst = new mutable.ArrayBuilder.ofLong
        rows.foreach { case (_, a, b) =>
          if (a == b) ids += a else { src += a; dst += b }
        }
        kernel.solve(ids.result(), src.result(), dst.result())
      }
      .toDF("id", "comp")
  }
}
