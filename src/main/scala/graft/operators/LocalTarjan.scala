package graft.operators

import graft.plans.LocalKernel

/** Executor-side exact SCC solve for one small partition of the graph —
  * the "local phase" of the hybrid FW-BW design: the distributed supersteps
  * peel/split the graph (trim, pivot coloring), and any partition whose edge
  * count fits comfortably in one task is finished locally in a single pass
  * instead of burning one Spark job per BFS hop. This is the standard
  * production structure for distributed SCC (FW-BW for the giant component,
  * sequential Tarjan for the long tail of small ones — e.g. Slota et al.,
  * "BFS and Coloring-Based Parallel Algorithms for Strongly Connected
  * Components", IPDPS'14) and is what makes thousands-of-tiny-components
  * graphs cost O(1) jobs instead of O(max component diameter).
  *
  * Iterative (explicit stack) Tarjan over a CSR adjacency of primitive
  * arrays — partitions can be long cycles/chains, recursion would blow the
  * task stack. Returns canonical min-member ids.
  */
object LocalTarjan extends LocalKernel {

  /** SCCs of the subgraph given by `ids` and the edges `src(i) → dst(i)`.
    * Returns (id, minMemberOfScc) for every vertex and edge endpoint.
    */
  def solve(ids: Array[Long], src: Array[Long], dst: Array[Long]): Iterator[(Long, Long)] = {
    val m = LocalKernel.members(ids, src, dst)
    val n = m.length
    val e = src.length
    // CSR adjacency over dense indices
    val from = new Array[Int](e)
    val start = new Array[Int](n + 1)
    var i = 0
    while (i < e) {
      from(i) = java.util.Arrays.binarySearch(m, src(i))
      start(from(i) + 1) += 1
      i += 1
    }
    i = 0
    while (i < n) { start(i + 1) += start(i); i += 1 }
    val adj = new Array[Int](e)
    val fill = java.util.Arrays.copyOf(start, n)
    i = 0
    while (i < e) {
      adj(fill(from(i))) = java.util.Arrays.binarySearch(m, dst(i))
      fill(from(i)) += 1
      i += 1
    }

    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n)
    var sp = 0
    // DFS call stack: vertex and its next adjacency position
    val callV = new Array[Int](n)
    val callI = new Array[Int](n)
    var cp = 0
    val comp = new Array[Int](n)
    var counter = 0
    def visit(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack(sp) = v; sp += 1; onStack(v) = true
      callV(cp) = v; callI(cp) = start(v); cp += 1
    }

    var root = 0
    while (root < n) {
      if (index(root) < 0) visit(root)
      while (cp > 0) {
        val v = callV(cp - 1)
        val k = callI(cp - 1)
        if (k < start(v + 1)) {
          callI(cp - 1) = k + 1
          val w = adj(k)
          if (index(w) < 0) visit(w)
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          cp -= 1
          if (low(v) == index(v)) {
            // pop the SCC; indices ascend with ids, so the min index is
            // the canonical min member
            var b = sp
            var minIdx = v
            while ({ b -= 1; minIdx = math.min(minIdx, stack(b)); stack(b) != v }) ()
            var j = b
            while (j < sp) { comp(stack(j)) = minIdx; onStack(stack(j)) = false; j += 1 }
            sp = b
          }
          if (cp > 0) {
            val p = callV(cp - 1)
            low(p) = math.min(low(p), low(v))
          }
        }
      }
      root += 1
    }
    Iterator.range(0, n).map(v => (m(v), m(comp(v))))
  }
}
