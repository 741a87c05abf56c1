package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CommonExpressionRef, UnsafeRow, With}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.execution.{AggregatingAccumulator, LogicalRDD}
import org.apache.spark.unsafe.Platform

/** Spark-internal access shim (hence the package) for one operation the
  * public Dataset API cannot express: an eager lineage-cutting checkpoint
  * that preserves the physical OUTPUT PARTITIONING but does NOT carry the
  * source plan's estimated statistics forward.
  *
  * Why not `Dataset.localCheckpoint`: it preserves the optimized plan's
  * stats on the resulting `LogicalRDD` (`originStats`). In an iterative
  * superstep, join-size estimation multiplies those stats every iteration —
  * and a self-join squares them — so the estimated `sizeInBytes` BigInt
  * doubles its bit length per superstep and Catalyst's
  * `SizeInBytesOnlyStatsPlanVisitor` ends up spending minutes per step in
  * `BigInteger.multiply` (observed via jstack: ~100 s/step by superstep 20
  * on a 50k-row state). Rebuilding from the materialized `InternalRow` RDD
  * resets the leaf to default stats; AQE re-plans join strategies from
  * runtime shuffle sizes anyway.
  *
  * Why not `createDataFrame(rdd)`: it loses `outputPartitioning`, so every
  * superstep re-shuffles the full state even when the step's joins are on
  * the same key the previous step hashed by. Passing the executed plan's
  * partitioning through the `LogicalRDD` leaf lets Catalyst prove
  * co-partitioning and skip the exchange — at 10^8-row states that is the
  * difference between O(frontier) and O(state) shuffle bytes per step.
  *
  * Round-6 storage change (guide §5 — memory pressure is the measured
  * limiter at bench scale): checkpointed partitions are cached as PACKED
  * byte batches ([[PackedRowBatch]]) — each batch one contiguous byte
  * array of concatenated UnsafeRows plus offset/length arrays, rows
  * re-materialized by `pointTo` into one reused UnsafeRow per scan. The
  * previous per-row `copy()` cache kept two heap OBJECTS per row (the
  * UnsafeRow + its byte[]) alive for the checkpoint's lifetime: at the
  * 61M-edge SCC point that is ~20M rows × 2 objects per superstep state,
  * and GC was 34% of executor task time. Packing stores the same bytes in
  * O(1) objects per batch — no serializer, no compression, just memcpy in
  * and pointer-bumping out. (The earlier MEMORY_AND_DISK_SER A/B paid
  * JavaSerializer CPU per row and measured 25% slower; this path has no
  * per-row serialization cost.)
  */
object GraftShims {

  /** Wrap a raw Catalyst Expression as a user-facing Column (Spark 4 made
    * Column node-based; the classic converter lives in a private[sql]
    * package, re-exposed here for graft's native expressions).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Inverse of [[column]]. */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Result of [[checkpoint]]: the materialized frame, its exact row count,
    * one value per tap (in tap order; a null aggregate — e.g. `max` of an
    * empty frame — reads 0), and the cached blocks backing `df`, to
    * unpersist once the frame is superseded.
    */
  final case class Checkpoint(df: DataFrame, rows: Long, taps: Vector[Long], blocks: RDD[_])

  /** Eagerly materialize `df` into cached, lineage-truncated packed batches
    * and wrap them in a fresh DataFrame with the same schema and output
    * partitioning/ordering but default (not inherited) stats. ONE Spark job.
    *
    * `taps` are aggregate Columns over `df`'s columns — `count_if(flag)`,
    * `sum("oc")`, `max("ic")`, `bit_xor(xxhash64(u, v))` — each cast to
    * Long and evaluated per row DURING the materialization pass by Spark's
    * own [[AggregatingAccumulator]] (the mechanism behind `Dataset.observe`),
    * so an iterative algorithm's convergence count, phase stats or content
    * signature costs zero extra jobs.
    *
    * EXACTNESS of the taps: the accumulator is updated only in the mapping
    * that packs each partition, i.e. inside the one job's ResultStage tasks.
    * Spark's scheduler applies a ResultTask's accumulator updates only on
    * the FIRST successful completion of each partition (retries of failed
    * attempts are discarded — countFailedValues=false — and a speculative
    * duplicate's updates are ignored because the partition is already
    * finished), so tap values are exactly-once per partition even under
    * task retry, stage retry, and speculation — unlike an accumulator in a
    * ShuffleMapStage, where re-executed map tasks DO double-count. The
    * other recompute path (a later job re-running this map after cache
    * eviction) is closed by the localCheckpoint: lineage is truncated, so
    * Spark reloads blocks or fails — never re-executes. The row count is
    * the job's own result. Callers may therefore use taps as exact tallies
    * (Scc's fragment-exactness requires do), not just convergence signals.
    */
  def checkpoint(df: DataFrame, taps: Column*): Checkpoint = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    val acc = if (taps.isEmpty) None else Some(tapAccumulator(df, taps))
    acc.foreach(session.sparkContext.register(_))
    val nf = qe.analyzed.output.size
    val packed = qe.toRdd.mapPartitions { it =>
      PackedRowBatch.pack(acc.fold(it)(a => it.map { r => a.add(r); r }), nf)
    }
    packed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    packed.localCheckpoint()
    val rows = packed.map(_.lens.length.toLong).fold(0L)(_ + _)
    val values = acc.fold(Vector.empty[Long]) { a =>
      val r = a.value
      taps.indices.map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).toVector
    }
    // AdaptiveSparkPlanExec reports UnknownPartitioning at the top even
    // after finalization — unwrap to the final physical plan or the
    // partitioning is silently lost and every downstream same-key join
    // re-exchanges the state (caught by PlanSpec).
    val physical = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.finalPhysicalPlan
      case p => p
    }
    val logical = LogicalRDD(physical.output,
      packed.mapPartitions(_.flatMap(_.rowIterator), preservesPartitioning = true),
      physical.outputPartitioning, physical.outputOrdering)(session)
    Checkpoint(classic.Dataset.ofRows(session, logical), rows, values, packed)
  }

  /** An accumulator evaluating `taps` (as Longs) over `df`'s rows. The taps
    * are analyzed as the aggregate list of a global aggregate over a leaf
    * carrying `df`'s output attributes — binding them to `df`'s rows
    * without re-analyzing `df`'s own (possibly deep) plan. Runtime-
    * replaceable aggregates (e.g. `count_if`) are swapped for the
    * declarative ones the accumulator evaluates, and the common-
    * subexpression `With` nodes those replacements introduce are inlined
    * (the optimizer would hoist them into a projection below the
    * aggregate, which a per-row accumulator does not have).
    */
  private def tapAccumulator(df: DataFrame, taps: Seq[Column]): AggregatingAccumulator = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val output = df.queryExecution.analyzed.output
    val longs = taps.map(_.cast(org.apache.spark.sql.types.LongType))
    val analyzed = classic.Dataset.ofRows(session, LocalRelation(output))
      .agg(longs.head, longs.tail: _*).queryExecution.analyzed
    val exprs = ReplaceExpressions(analyzed).asInstanceOf[Aggregate].aggregateExpressions
      .map(_.transformUp {
        case With(body, defs) =>
          val byId = defs.map(d => d.id -> d.child).toMap
          body.transformUp { case r: CommonExpressionRef => byId(r.id) }
      })
    AggregatingAccumulator(exprs, output)
  }

  /** Drain the listener bus so a task-metrics snapshot taken right after a
    * timed region includes every stage that completed inside it — stage
    * events post asynchronously and can otherwise land after the snapshot
    * (the bench's per-leg taskSec/cpuSec/gcSec attribution relies on this).
    * Best-effort: a timeout leaves the snapshot slightly short, never wrong
    * in sign.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: Throwable => () }
}

/** One cached checkpoint batch: up to [[PackedRowBatch.targetBytes]] of
  * concatenated UnsafeRow bytes in ONE array, plus per-row offset/length.
  * Rows re-materialize on scan via `pointTo` into a single reused UnsafeRow
  * (downstream Spark operators treat incoming InternalRows as reusable
  * buffers — the LogicalRDD scan's UnsafeProjection copies values out per
  * row, the same contract as rows read from shuffle or cache). The rare
  * non-UnsafeRow input row (no whole-stage-codegen top operator) is kept as
  * a copied object with a negative length marking its slot, preserving row
  * order exactly.
  */
private[sql] final class PackedRowBatch(
    val numFields: Int,
    val data: Array[Byte],
    val offsets: Array[Int],
    val lens: Array[Int],
    val others: Array[InternalRow]) extends Serializable {

  def rowIterator: Iterator[InternalRow] = new scala.collection.AbstractIterator[InternalRow] {
    private var i = 0
    private val row = new UnsafeRow(numFields)
    override def hasNext: Boolean = i < lens.length
    override def next(): InternalRow = {
      val l = lens(i)
      val out =
        if (l >= 0) {
          row.pointTo(data, Platform.BYTE_ARRAY_OFFSET + offsets(i), l)
          row
        } else others(-l - 1)
      i += 1
      out
    }
  }
}

private[sql] object PackedRowBatch {
  /** Per-batch data cap: bounds transient build memory and keeps any
    * disk-spill unit reasonable; multiple batches per partition are fine.
    */
  val targetBytes: Int = 32 << 20

  /** Pack a partition's rows into batches. */
  def pack(it: Iterator[InternalRow], numFields: Int): Iterator[PackedRowBatch] =
    new scala.collection.AbstractIterator[PackedRowBatch] {
      override def hasNext: Boolean = it.hasNext
      override def next(): PackedRowBatch = {
        var data = new Array[Byte](64 << 10)
        var used = 0
        val offsets = new scala.collection.mutable.ArrayBuilder.ofInt
        val lens = new scala.collection.mutable.ArrayBuilder.ofInt
        val others = scala.collection.mutable.ArrayBuffer[InternalRow]()
        var full = false
        while (it.hasNext && !full) {
          val r = it.next()
          r match {
            case u: UnsafeRow =>
              val sz = u.getSizeInBytes
              if (used + sz > data.length) {
                var cap = data.length.toLong
                while (cap < used + sz) cap *= 2
                data = java.util.Arrays.copyOf(data, math.min(cap, Int.MaxValue - 8).toInt)
              }
              Platform.copyMemory(u.getBaseObject, u.getBaseOffset,
                data, Platform.BYTE_ARRAY_OFFSET + used, sz.toLong)
              offsets += used
              lens += sz
              used += sz
            case other =>
              others += other.copy()
              offsets += 0
              lens += -others.size // -(index+1)
          }
          if (used >= targetBytes) full = true
        }
        new PackedRowBatch(numFields,
          if (used == data.length) data else java.util.Arrays.copyOf(data, used),
          offsets.result(), lens.result(), others.toArray)
      }
    }
}
