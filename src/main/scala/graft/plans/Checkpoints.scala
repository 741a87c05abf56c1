package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.GraftShims.Checkpoint

/** Tracks the stats-free checkpoints (see [[GraftShims.checkpoint]])
  * an iterative algorithm creates, so superseded superstep states can be
  * unpersisted promptly and everything else released when the algorithm
  * finishes — the cache-discipline half of SURVEY.md §4(c).
  *
  * Usage: `checkpoint(df, taps*)` to checkpoint, `release(df)` when a state
  * is superseded, `closeExcept(result)` at the end (the returned result's
  * blocks must outlive the arena).
  */
final class CheckpointArena {
  private val backing = new java.util.IdentityHashMap[DataFrame, RDD[_]]()

  /** [[GraftShims.checkpoint]]: materialize `df` in one job, with its row
    * count and every tap riding that job; the arena owns the blocks.
    */
  def checkpoint(df: DataFrame, taps: Column*): Checkpoint = {
    val c = GraftShims.checkpoint(df, taps: _*)
    backing.put(c.df, c.blocks)
    c
  }

  /** Unpersist the blocks behind a superseded state (no-op for unknown). */
  def release(df: DataFrame): Unit = {
    val rdd = backing.remove(df)
    if (rdd != null) rdd.unpersist(blocking = false)
  }

  /** Unpersist everything this arena still tracks except `keep`. */
  def closeExcept(keep: DataFrame*): Unit = {
    val keepSet = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())
    keep.foreach(keepSet.add)
    val it = backing.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (!keepSet.contains(e.getKey)) {
        e.getValue.unpersist(blocking = false)
        it.remove()
      }
    }
  }
}
