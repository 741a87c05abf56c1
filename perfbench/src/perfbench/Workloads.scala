package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{LabelProp, PageRank, Scc, Triangles, Wcc}
import graft.sources.{CodeTable, GraphGen, TableCatalog}

/** What one job hands back after its timed region. */
trait JobResult {
  /** Oracle comparison; one message per failed check. Runs untimed. */
  def check(): Seq[String]
  /** Per-job layer counts (untimed, read from the returned handles). */
  def layer: Map[String, Double]
  def release(): Unit
}

/** One benchmark workload. `setup` builds and caches the inputs (timed as
  * part of setup_s); `job` is one closed-loop job (timed); the oracle and
  * the structural run happen outside both. */
trait Workload {
  /** Warm jobs a run measures at least: more where one job is noisier. */
  def minWarm: Int = 1
  def setup(spark: SparkSession, tr: Tracer): Unit
  def inputEdges: Long
  /** Sequential reference answers for the seed's input; returns its shape. */
  def prepareOracle(spark: SparkSession): Shape
  def job(spark: SparkSession, tr: Tracer): JobResult
  /** Counts from one extra untimed run on the same input (traced runs). */
  def structure(spark: SparkSession): Map[String, Double]
}

object Workload {
  val names: Seq[String] = Seq("scc-web", "code-pipeline")

  def apply(name: String, seed: Long, workDir: String): Workload = name match {
    case "scc-web" => new SccWeb(seed)
    case "code-pipeline" => new CodePipeline(seed, workDir)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${names.mkString(", ")})")
  }

  def persisted(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  def edgeArray(edges: DataFrame): Array[(Long, Long)] =
    edges.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The paper's SCC query on a web-shaped graph with one giant SCC, checked
  * against Tarjan's SCCs plus misc/verify.py's acceptance rule. */
final class SccWeb(seed: Long) extends Workload {
  private val spec = Inputs.sccWeb(seed)
  private var edges: DataFrame = _
  private var verts: DataFrame = _
  private var edgeCount = 0L
  private var comp: Array[Int] = _
  private var accepted: Set[Int] = _

  // one ~8 s job varies ~10% from run to run, and the JIT is still warming
  // over the first two: the median of three is steadier
  override def minWarm: Int = 3
  def inputEdges: Long = edgeCount

  def setup(spark: SparkSession, tr: Tracer): Unit = tr.setupSpan("sources.graphgen") {
    val (e, n) = Workload.persisted(GraphGen.edges(spark, spec))
    edges = e; edgeCount = n
    verts = Workload.persisted(GraphGen.vertices(spark, spec))._1
  }

  def prepareOracle(spark: SparkSession): Shape = {
    val g = LocalGraph(spec.numVertices, Workload.edgeArray(edges))
    val isU = new Array[Boolean](g.n)
    verts.select("id", "isU").collect().foreach(r => isU(r.getLong(0).toInt) = r.getBoolean(1))
    comp = Oracles.scc(g)
    accepted = Oracles.acceptedComps(g, comp, isU)
    Shape.of(g, comp)
  }

  def job(spark: SparkSession, tr: Tracer): JobResult = {
    // GraphGen edges stay inside the vertex set, as in the reference's file format
    val run = tr.span("operators.scc.accepted") {
      Scc.acceptedRun(spark, edges, verts, Scc.FullGraph, edgesWithinVertices = true)
    }
    val (answer, count) = tr.span("operators.scc.answer") {
      (Scc.answer(run.accepted).collect().map(_.getLong(0)).toSeq,
        Scc.countAccepted(run.accepted))
    }
    new JobResult {
      def check(): Seq[String] = {
        val rows = run.accepted.select("id", "comp", "accepted").collect()
        val bad = rows.count { r =>
          val v = r.getLong(0).toInt
          r.getLong(1) != comp(v) || r.getBoolean(2) != accepted(comp(v))
        }
        val expAnswer =
          if (accepted.isEmpty) Nil
          else comp.indices.filter(v => comp(v) == accepted.min).map(_.toLong)
        Seq(
          (rows.length != comp.length) ->
            s"scc: ${rows.length} labelled vertices, expected ${comp.length}",
          (bad > 0) -> s"scc: $bad vertices disagree with Tarjan + acceptance rule",
          (count != accepted.size) -> s"scc: countAccepted $count, expected ${accepted.size}",
          (answer != expAnswer) ->
            s"scc: answer has ${answer.size} members, expected ${expAnswer.size}"
        ).collect { case (true, msg) => msg }
      }
      def layer: Map[String, Double] = Map.empty
      def release(): Unit = run.release()
    }
  }

  /** Rounds, BFS supersteps, locally solved and trimmed vertices of
    * `Scc.components` on the query's input (acceptedRun does not expose them). */
  def structure(spark: SparkSession): Map[String, Double] = {
    val run = Scc.components(spark, edges, verts.select("id"), edgesWithinVertices = true)
    val m = run.metrics
    run.release()
    Map("operators.scc.rounds" -> m.size.toDouble,
      "operators.scc.bfs_steps" -> m.map(_.bfsSteps).sum.toDouble,
      "operators.scc.local_solved" -> m.map(_.localSolved).sum.toDouble,
      "operators.scc.trimmed" -> m.map(r => r.trimmed + r.pairTrimmed).sum.toDouble)
  }
}

/** The north-star pipeline: catalog write, catalog read and edge extraction,
  * then PageRank, WCC, label propagation and triangle counting on the
  * extracted edges. */
final class CodePipeline(seed: Long, workDir: String) extends Workload {
  private val spec = Inputs.codeTable(seed)
  private val table = Paths.get(workDir, "codetable").toAbsolutePath.toString
  private val prIters = 5
  private val lpRounds = 3
  private var files: DataFrame = _
  private var expEdges: Array[(Long, Long)] = _
  private var expRank: Array[Double] = _
  private var expWcc: Array[Int] = _
  private var expLabel: Array[Long] = _
  private var expTriangles: (Long, Array[Long], Long) = _

  /** Edges the table encodes; the pipeline must recover exactly these. */
  def inputEdges: Long = if (expEdges == null) 0L else expEdges.length.toLong

  def setup(spark: SparkSession, tr: Tracer): Unit = {
    files = tr.setupSpan("sources.codetable.generate") {
      Workload.persisted(CodeTable.generate(spark, spec))._1
    }
    // catalog prep: an empty table; the first job's overwrite is its first snapshot
    deleteTree(Paths.get(table))
    Files.createDirectories(Paths.get(table))
  }

  def prepareOracle(spark: SparkSession): Shape = {
    expEdges = Workload.edgeArray(GraphGen.edges(spark, spec)).sorted
    val g = LocalGraph(spec.numVertices, expEdges)
    expRank = Oracles.pageRank(g, 0.85, prIters)
    expWcc = Oracles.wcc(g)
    val ids = spark.range(spec.numVertices).toDF("id")
    val seeds = Inputs.lpSeeds(ids, seed).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    expLabel = Oracles.labelProp(g, seeds, lpRounds)
    expTriangles = Oracles.triangles(g)
    Shape.of(g, Oracles.scc(g))
  }

  def job(spark: SparkSession, tr: Tracer): JobResult = {
    val snap = tr.span("sources.catalog.commit") {
      TableCatalog.commitOverwrite(spark, table, files)
    }
    val (scanned, edges, verts) = tr.span("sources.catalog.ingest") {
      val scanned = TableCatalog.scan(spark, table)
      val edges = Workload.persisted(CodeTable.extractEdges(scanned))._1
      val verts = Workload.persisted(scanned.select(col("fileId").as("id")))._1
      (scanned, edges, verts)
    }
    val pr = tr.span("operators.pagerank") {
      PageRank.run(spark, edges, verts, tol = 0.0, maxIter = prIters)
    }
    val wcc = tr.span("operators.wcc") { Wcc.run(spark, edges, verts) }
    val lp = tr.span("operators.labelprop") {
      LabelProp.run(spark, edges, verts, Inputs.lpSeeds(verts, seed), lpRounds)
    }
    val triTotal = tr.span("operators.triangles.total") {
      Triangles.total(spark, edges).head().getLong(0)
    }
    val triPer = tr.span("operators.triangles.pervertex") { Triangles.perVertex(spark, edges) }

    new JobResult {
      def check(): Seq[String] = {
        val got = Workload.edgeArray(edges).sorted
        val shaBad = scanned.select("content", "sha").collect()
          .count(r => Oracles.sha256Hex(r.getString(0)) != r.getString(1))
        val ranks = pr.ranks.collect().map(r => r.getLong(0).toInt -> r.getDouble(1))
        val comps = wcc.components.collect().map(r => r.getLong(0).toInt -> r.getLong(1))
        val labels = lp.labels.collect().map(r => r.getLong(0).toInt -> r.getLong(1))
        val perVertex = triPer.collect().map(r => r.getLong(0).toInt -> r.getLong(1))
        val (expTotal, expPer, _) = expTriangles
        def whole[A](xs: Array[(Int, A)]): Boolean = xs.length == spec.numVertices
        Seq(
          (!java.util.Arrays.equals(got.map(_._1), expEdges.map(_._1)) ||
            !java.util.Arrays.equals(got.map(_._2), expEdges.map(_._2))) ->
            s"ingest: ${got.length} edges differ from GraphGen.edges (${expEdges.length})",
          (shaBad > 0) -> s"ingest: $shaBad rows with sha != sha2(content)",
          (!whole(ranks) || ranks.exists { case (v, r) => !Oracles.allClose(r, expRank(v)) }) ->
            "pagerank: ranks differ from power iteration",
          (pr.metrics.size != prIters) -> s"pagerank: ${pr.metrics.size} steps, expected $prIters",
          (!whole(comps) || comps.exists { case (v, c) => c != expWcc(v) }) ->
            "wcc: components differ from union-find",
          (!whole(labels) || labels.exists { case (v, l) => l != expLabel(v) }) ->
            "labelprop: labels differ from the unrolled recurrence",
          (triTotal != expTotal) -> s"triangles: total $triTotal, expected $expTotal",
          (perVertex.map(_._2).sum != 3 * triTotal) ->
            s"triangles: sum of perVertex != 3 * total ($triTotal)",
          (perVertex.length != expPer.count(_ > 0) ||
            perVertex.exists { case (v, c) => c != expPer(v) }) ->
            "triangles: perVertex differs from the sorted-adjacency count"
        ).collect { case (true, msg) => msg }
      }

      def layer: Map[String, Double] = {
        val entries = TableCatalog.snapshot(table, snap).entries
        val bytes = entries.map(e => Files.size(Paths.get(e.path))).sum
        def steps(op: String, ms: Seq[Long]) = Map(
          s"plans.$op.steps" -> ms.size.toDouble,
          s"plans.$op.step_ms_p50" -> Workload.median(ms.map(_.toDouble)))
        Map("sources.catalog.files_written" -> entries.size.toDouble,
          "sources.catalog.bytes_written_mb" -> bytes / 1048576.0,
          "sources.catalog.scan_files_frac" ->
            scanned.inputFiles.length.toDouble / entries.size) ++
          steps("pagerank", pr.metrics.map(_.wallMs)) ++
          steps("wcc", wcc.metrics.map(_.wallMs)) ++
          Map("operators.triangles.wedges" -> expTriangles._3.toDouble,
            "operators.triangles.found" -> triTotal.toDouble)
      }

      def release(): Unit = {
        pr.release(); wcc.release(); lp.release()
        edges.unpersist(false); verts.unpersist(false)
        TableCatalog.expireSnapshots(table, keepLast = 1)
      }
    }
  }

  def structure(spark: SparkSession): Map[String, Double] = Map.empty

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
