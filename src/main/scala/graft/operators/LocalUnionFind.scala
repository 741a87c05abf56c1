package graft.operators

import graft.plans.LocalKernel

/** Executor-side exact WCC solve for one link set that fits a single task —
  * [[Wcc]]'s local finish (see [[graft.plans.LocalSolve]]). Union-find over
  * dense indices in primitive arrays: union by the smaller root keeps every
  * root its component's minimum member (indices ascend with ids), path
  * halving keeps finds short. Edge direction is ignored.
  */
object LocalUnionFind extends LocalKernel {

  /** Weak components of the graph given by `ids` and the edges
    * `src(i) — dst(i)`. Returns (id, minMemberOfComponent) for every vertex
    * and edge endpoint.
    */
  def solve(ids: Array[Long], src: Array[Long], dst: Array[Long]): Iterator[(Long, Long)] = {
    val m = LocalKernel.members(ids, src, dst)
    val parent = Array.tabulate(m.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    var i = 0
    while (i < src.length) {
      val a = find(java.util.Arrays.binarySearch(m, src(i)))
      val b = find(java.util.Arrays.binarySearch(m, dst(i)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 1
    }
    Iterator.range(0, m.length).map(v => (m(v), m(find(v))))
  }
}
