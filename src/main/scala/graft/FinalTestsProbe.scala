package graft

import graft.operators.{LocalTarjan, Scc}
import graft.sources.{GraphGen, MidTestSpec}

/** final_tests-scale end-to-end smoke (the published final_tests graphs
  * under samples/final_tests are LFS pointers — 13.5–32.5 MB, ~1M+ edges —
  * so this generates the equivalent): the mid_tests recipe
  * (gen/generate.py:15-37) at the published cycle-length shape
  * (bounds ≈ CYCLES/60 .. 2·CYCLES/60) sized to ~1M edges, written in the
  * reference's `% m n` graph-file format, then the full CLI path
  * (GraphFile.read → Scc.accepted → answer) runs on the FILE — the exact
  * surface a reference user exercises, at their largest published scale.
  *
  * The U subset follows generate.py:146-147's shape (members of half the
  * chosen SCCs ∪ a random 1/20 of vertices) restricted to SMALL nontrivial
  * components. At ~1 random arc/node the recipe's organic graph merges into
  * one giant SCC (which receives U in-edges from everywhere and can never
  * be accepted), so on top of it the probe PLANTS eight disconnected
  * 20-cycles with members in U — sanctuary components with zero external
  * in-edges, hence provably accepted — making the >0 assertion
  * deterministic rather than density-dependent.
  *
  * The printed count is checked against a DRIVER-side oracle: sequential
  * [[LocalTarjan]] over the whole graph + the verify.py acceptance filter
  * (misc/verify.py:42-53) — an independent code path from the distributed
  * FW-BW the CLI runs. Not part of the driver contract; results recorded
  * in BASELINE.md.
  */
object FinalTestsProbe {
  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 32
    val spark = Sessions.local(cores)
    spark.sparkContext.setLogLevel("ERROR")

    // ~450k cycle nodes (avg len ~250) + 20% extra + ~1 random arc/node
    // ≈ 1M distinct edges — the sample_test_scc_* file size class
    val spec = MidTestSpec(numCycles = 1800, lenLo = 166, lenHi = 333)
    val (eDf, n0) = GraphGen.midTestEdges(spark, spec)
    val organic = eDf.collect().map(r => (r.getLong(0), r.getLong(1))) // ~1M rows, once
    // planted sanctuaries: 8 disconnected 20-cycles above the organic ids
    val sancCycles = 8
    val sancLen = 20L
    val sanctuary = (0 until sancCycles).flatMap { c =>
      val base = n0 + c * sancLen
      (0L until sancLen).map(i => (base + i, base + (i + 1) % sancLen))
    }
    val n = n0 + sancCycles * sancLen
    val edges = organic ++ sanctuary

    // driver-side decomposition for the U recipe AND the acceptance oracle
    val comps = LocalTarjan.solve((0L until n).toArray, edges.map(_._1).toArray,
      edges.map(_._2).toArray).toArray
    val members = comps.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val small = members.filter { case (_, ms) => ms.length >= 2 && ms.length <= 1000 }
      .keys.toSeq.sorted
    val sccU = small.zipWithIndex.collect { case (c, i) if i % 2 == 0 => c }.toSet
    val inSccU = comps.collect { case (v, c) if sccU(c) => v }.toSet
    val u = (0L until n).filter(v => v % 20 == 0 || inSccU(v) || v >= n0).toSet

    // verify.py filter: S accepted iff |S| >= 2, S ⊆ U, and no edge from a
    // U vertex outside S into S
    val compOf = comps.toMap
    val killed = edges.collect {
      case (s, d) if u(s) && compOf(s) != compOf(d) => compOf(d)
    }.toSet
    val expected = members.count { case (c, ms) =>
      ms.length >= 2 && ms.forall(u) && !killed(c)
    }

    val path = java.nio.file.Files.createTempFile("final_tests_scale_", ".txt")
    val w = java.nio.file.Files.newBufferedWriter(path)
    w.write(s"% ${edges.length} $n\n")
    edges.foreach { case (s, d) => w.write(s"$s $d\n") }
    u.toSeq.sorted.foreach(v => w.write(s"$v\n"))
    w.close()
    val mb = java.nio.file.Files.size(path) / 1e6

    val t0 = System.nanoTime()
    val out = SccCli.run(spark, path.toString, Scc.FullGraph)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"file=$path size=$mb%.1fMB edges=${edges.length} nodes=$n " +
      f"cores=$cores  '${out.head}'  expected=$expected  wall=$sec%.1fs")
    val expectedLine =
      if (expected == 0) "No SCCs found" else s"accepted SCCs: $expected"
    require(out.head == expectedLine,
      s"CLI disagreed with the driver Tarjan oracle: '${out.head}' vs '$expectedLine'")
    require(expected >= sancCycles,
      s"expected >= $sancCycles accepted (planted sanctuaries), got $expected")
    spark.stop()
  }
}
