package perfbench

import scala.collection.mutable

/** A directed graph collected into the benchmark's JVM, on dense vertex ids [0, n). */
final class LocalGraph(val n: Int, val src: Array[Int], val dst: Array[Int]) {
  def m: Int = src.length

  /** CSR adjacency: out-lists when `bySrc`, in-lists otherwise. */
  def csr(bySrc: Boolean): (Array[Int], Array[Int]) = {
    val (from, to) = if (bySrc) (src, dst) else (dst, src)
    val off = new Array[Int](n + 1)
    from.foreach(v => off(v + 1) += 1)
    for (i <- 0 until n) off(i + 1) += off(i)
    val fill = off.clone()
    val adj = new Array[Int](m)
    for (i <- 0 until m) { adj(fill(from(i))) = to(i); fill(from(i)) += 1 }
    (off, adj)
  }

  /** Sorted distinct undirected neighbour lists, self-loops dropped. */
  def undirected: Array[Array[Int]] = {
    val nb = Array.fill(n)(mutable.ArrayBuilder.make[Int])
    for (i <- 0 until m if src(i) != dst(i)) { nb(src(i)) += dst(i); nb(dst(i)) += src(i) }
    nb.map(_.result().sorted.distinct)
  }
}

object LocalGraph {
  def apply(n: Long, edges: Array[(Long, Long)]): LocalGraph = {
    require(n <= Int.MaxValue, s"$n vertices do not fit an in-memory oracle")
    new LocalGraph(n.toInt, edges.map(_._1.toInt), edges.map(_._2.toInt))
  }
}

/** Sequential reference algorithms the benchmark checks graft against.
  * None of them calls graft: each is the textbook sequential algorithm.
  */
object Oracles {

  /** Tarjan's SCC, iterative; label = min member id. */
  def scc(g: LocalGraph): Array[Int] = {
    val (off, adj) = g.csr(bySrc = true)
    val index = Array.fill(g.n)(-1)
    val low = new Array[Int](g.n)
    val onStack = new Array[Boolean](g.n)
    val comp = Array.fill(g.n)(-1)
    val stack = new Array[Int](g.n)
    var sp = 0
    val callV = new Array[Int](g.n)
    val callE = new Array[Int](g.n)
    var next = 0
    for (root <- 0 until g.n if index(root) < 0) {
      var depth = 0
      callV(0) = root; callE(0) = off(root)
      index(root) = next; low(root) = next; next += 1
      stack(sp) = root; sp += 1; onStack(root) = true
      while (depth >= 0) {
        val v = callV(depth)
        if (callE(depth) < off(v + 1)) {
          val w = adj(callE(depth)); callE(depth) += 1
          if (index(w) < 0) {
            index(w) = next; low(w) = next; next += 1
            stack(sp) = w; sp += 1; onStack(w) = true
            depth += 1; callV(depth) = w; callE(depth) = off(w)
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          if (low(v) == index(v)) {
            var k = sp - 1
            var mn = Int.MaxValue
            while (stack(k) != v) { mn = math.min(mn, stack(k)); k -= 1 }
            mn = math.min(mn, v)
            while (sp > k) { sp -= 1; val w = stack(sp); onStack(w) = false; comp(w) = mn }
          }
          depth -= 1
          if (depth >= 0) low(callV(depth)) = math.min(low(callV(depth)), low(v))
        }
      }
    }
    comp
  }

  /** misc/verify.py's acceptance rule on full-graph SCCs: S is accepted iff
    * |S| >= 2, S ⊆ U, and no U vertex outside S has an edge into S.
    * Returns the accepted component labels. */
  def acceptedComps(g: LocalGraph, comp: Array[Int], isU: Array[Boolean]): Set[Int] = {
    val size = mutable.Map[Int, Int]().withDefaultValue(0)
    val allU = mutable.Map[Int, Boolean]().withDefaultValue(true)
    for (v <- 0 until g.n) { size(comp(v)) += 1; if (!isU(v)) allU(comp(v)) = false }
    val killed = mutable.Set[Int]()
    for (i <- 0 until g.m) {
      val (u, v) = (g.src(i), g.dst(i))
      if (isU(u) && comp(u) != comp(v)) killed += comp(v)
    }
    size.keySet.filter(c => size(c) >= 2 && allU(c) && !killed(c)).toSet
  }

  /** Weakly connected components by union-find; label = min member id. */
  def wcc(g: LocalGraph): Array[Int] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    for (i <- 0 until g.m) {
      val (a, b) = (find(g.src(i)), find(g.dst(i)))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    Array.tabulate(g.n)(find)
  }

  /** PageRank by power iteration with dangling mass spread uniformly. */
  def pageRank(g: LocalGraph, alpha: Double, iters: Int): Array[Double] = {
    val outDeg = new Array[Int](g.n)
    g.src.foreach(u => outDeg(u) += 1)
    var rank = Array.fill(g.n)(1.0 / g.n)
    for (_ <- 0 until iters) {
      val contrib = new Array[Double](g.n)
      for (i <- 0 until g.m) contrib(g.dst(i)) += rank(g.src(i)) / outDeg(g.src(i))
      var dangling = 0.0
      for (v <- 0 until g.n if outDeg(v) == 0) dangling += rank(v)
      rank = Array.tabulate(g.n)(v =>
        (1 - alpha) / g.n + alpha * (contrib(v) + dangling / g.n))
    }
    rank
  }

  /** Seeded synchronous label propagation, unrolled: each round every
    * vertex takes the most frequent label among its labelled in-neighbours
    * (ties to the smallest label), seeds stay clamped, and a vertex no label
    * reaches keeps its previous one. Unlabelled at the end = -1. */
  def labelProp(g: LocalGraph, seeds: Map[Int, Long], rounds: Int): Array[Long] = {
    val none = Long.MinValue
    val (off, adj) = g.csr(bySrc = false)
    var label = Array.tabulate(g.n)(v => seeds.getOrElse(v, none))
    for (_ <- 0 until rounds) {
      val cur = label
      label = Array.tabulate(g.n) { v =>
        seeds.getOrElse(v, {
          val votes = (off(v) until off(v + 1)).map(i => cur(adj(i))).filter(_ != none)
          if (votes.isEmpty) cur(v)
          else votes.groupBy(identity).iterator.map { case (l, c) => (c.size, -l) }.max._2 * -1
        })
      }
    }
    label.map(l => if (l == none) -1L else l)
  }

  /** Triangles of the undirected simple view under degree ordering.
    * Returns (total, per-vertex counts, oriented wedges Σ C(d⁺, 2)). */
  def triangles(g: LocalGraph): (Long, Array[Long], Long) = {
    val nb = g.undirected
    def before(a: Int, b: Int): Boolean =
      nb(a).length < nb(b).length || (nb(a).length == nb(b).length && a < b)
    val out = Array.tabulate(g.n)(v => nb(v).filter(w => before(v, w)))
    val per = new Array[Long](g.n)
    var total = 0L
    var wedges = 0L
    for (u <- 0 until g.n) {
      val ou = out(u)
      wedges += ou.length.toLong * (ou.length - 1) / 2
      for (v <- ou) {
        val ov = out(v)
        var i = 0; var j = 0
        while (i < ou.length && j < ov.length) {
          if (ou(i) < ov(j)) i += 1
          else if (ou(i) > ov(j)) j += 1
          else {
            total += 1; per(u) += 1; per(v) += 1; per(ou(i)) += 1
            i += 1; j += 1
          }
        }
      }
    }
    (total, per, wedges)
  }

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def allClose(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-12 + 1e-6 * math.abs(b)
}

/** Input shape recorded with every result. */
final case class Shape(vertices: Long, edges: Long, maxDegree: Long, wedges: Long,
    largestScc: Long)

object Shape {
  def of(g: LocalGraph, comp: Array[Int]): Shape = {
    val nb = g.undirected
    val sizes = comp.groupBy(identity).values.map(_.length)
    Shape(g.n.toLong, g.m.toLong, nb.map(_.length).max.toLong,
      nb.map(a => a.length.toLong * (a.length - 1) / 2).sum,
      if (sizes.isEmpty) 0L else sizes.max.toLong)
  }
}
