package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Closed-loop benchmark of graft's link-graph layers: one client, one JVM,
  * `local[4]`, jobs back to back.
  *
  * Per run: set-up (session start, input generation, caching, catalog prep)
  * is done [[setupRepeats]] times, each in a new session; the first job
  * after the first set-up is the cold job; warm jobs then run until
  * `--seconds` have been spent in them (at least the workload's `minWarm`).
  * Every job's output is checked against a sequential oracle outside the
  * timed region.
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` is the separate
  * traced run: spans wrap every layer call and the per-layer metrics come
  * from its warm jobs; its `trace.job_s` against an untraced run's `job_s`
  * is the tracing overhead.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  *        [--commit SHA] [--sources SHA256]
  */
object Main {
  val cores = 4
  val setupRepeats = 5

  /** Spans the benchmark records around layer calls inside a job. */
  val jobSpans: Seq[String] = Seq(
    "sources.catalog.commit", "sources.catalog.ingest",
    "operators.scc.accepted", "operators.scc.answer",
    "operators.pagerank", "operators.wcc", "operators.labelprop",
    "operators.triangles.total", "operators.triangles.pervertex")
  val setupSpans: Seq[String] =
    Seq("sources.graphgen", "sources.codetable.generate")
  val spanCounters: Seq[String] = Seq("wall_s", "self_s", "jobs", "tasks", "task_s",
    "gc_s", "shuffle_write_mb", "spill_mb", "driver_gap_s")
  val structural: Seq[String] = Seq(
    "operators.scc.rounds", "operators.scc.bfs_steps", "operators.scc.local_solved",
    "operators.scc.trimmed",
    "plans.pagerank.steps", "plans.wcc.steps",
    "plans.pagerank.step_ms_p50", "plans.wcc.step_ms_p50",
    "sources.catalog.files_written", "sources.catalog.bytes_written_mb",
    "sources.catalog.scan_files_frac",
    "operators.triangles.wedges", "operators.triangles.found")

  final case class JobRecord(idx: Int, wallS: Double, cpuS: Double, heapMb: Double,
      failures: Seq[String], layer: Map[String, Double], leaked: Int)

  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  /** Exits explicitly: threads a library leaves behind must not keep the
    * JVM alive past the result, and any failure must exit non-zero. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def need(k: String) = arg(args, k).getOrElse(sys.error(s"missing $k"))
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toDouble
    val trace = need("--trace") == "1"
    val out = Paths.get(need("--out"))
    val workDir = out.resolve(s"work-$workload-${ProcessHandle.current().pid()}")
    Files.createDirectories(workDir)
    val wl = Workload(workload, seed, workDir.toString)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val timeline = mutable.ArrayBuffer[(String, Double)]()
    def mark(what: String): Unit = timeline += what -> (System.nanoTime() - t0) / 1e9

    // Set-up 1 starts the SparkContext in the cold JVM. Set-ups 2.. drop
    // every cached input and start a new SparkSession on the same context,
    // so the warm jobs run in the context the cold job ran in.
    var s0 = System.nanoTime()
    var spark = graft.Sessions.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, t0)
    if (trace) tracer.enable()
    def setUp(): Double = {
      wl.setup(spark, tracer)
      (System.nanoTime() - s0) / 1e9
    }

    /** One timed job; `beforeCheck` runs after the timed region and the
      * heap sample, before the oracle comparison. */
    def runJob(idx: Int, beforeCheck: () => Unit = () => ()): JobRecord = {
      val sc = spark.sparkContext
      tracer.job = idx
      val before = sc.getPersistentRDDs.keySet
      val c0 = os.getProcessCpuTime
      val w0 = System.nanoTime()
      val res = try Right(tracer.span("job")(wl.job(spark, tracer)))
        catch { case NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      val heap = postGcHeapMb()
      mark(s"job $idx timed+gc")
      beforeCheck()
      mark(s"job $idx oracle")
      val (failures, layer) = res match {
        case Right(r) =>
          try {
            val f = r.check()
            val l = r.layer
            r.release()
            (f, l)
          } catch { case NonFatal(e) => (Seq(s"check: $e"), Map.empty[String, Double]) }
        case Left(e) => (Seq(s"job threw: $e"), Map.empty[String, Double])
      }
      // blocks a job leaves persisted after release(): counted, then freed
      // so they cannot pile up across the run
      val leaked = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      leaked.values.foreach(_.unpersist(blocking = false))
      mark(s"job $idx checked")
      JobRecord(idx, wall, cpu, heap, failures, layer, leaked.size)
    }

    val setups = mutable.ArrayBuffer(setUp())
    mark("setup 1")
    // the oracle is built after the cold job, so that job is the JVM's first
    var shape: Shape = null
    val cold = runJob(0, () => shape = wl.prepareOracle(spark))
    for (_ <- 1 until setupRepeats) {
      spark.catalog.clearCache()
      s0 = System.nanoTime()
      spark = spark.newSession()
      setups += setUp()
      mark(s"setup ${setups.size}")
    }
    val warm = mutable.ArrayBuffer[JobRecord]()
    var warmS = 0.0
    while (warm.size < wl.minWarm || warmS < seconds) {
      val r = runJob(warm.size + 1)
      warm += r
      warmS += r.wallS
    }
    val structure = if (trace) wl.structure(spark) else Map.empty[String, Double]
    spark.sparkContext.setLogLevel("OFF") // teardown noise from finished tasks
    spark.stop()
    mark("end")

    val jobs = cold +: warm.toSeq
    val failed = jobs.count(_.failures.nonEmpty)
    val ok = warm.filter(_.failures.isEmpty).toSeq
    val med = Workload.median _
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val jobS = med(ok.map(_.wallS))
        Seq(
          ("setup_s", med(setups.toSeq), "s"),
          ("cold_job_s", cold.wallS, "s"),
          ("job_s", jobS, "s"),
          ("edges_per_s", wl.inputEdges / jobS, "1/s"),
          ("cpu_s", med(ok.map(_.cpuS)), "s"),
          ("peak_heap_mb", (cold +: ok).map(_.heapMb).max, "MB"),
          ("ok_frac", (jobs.size - failed).toDouble / jobs.size, "frac"))
      } else layerMetrics(tracer, setups.size, ok, structure, shape)

    val detail = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "trace" -> (if (trace) "1" else "0"),
      "env" -> envJson(args),
      "shape" -> obj(Seq("vertices" -> shape.vertices, "edges" -> shape.edges,
        "max_degree" -> shape.maxDegree, "wedges" -> shape.wedges,
        "largest_scc" -> shape.largestScc).map { case (k, v) => k -> v.toString }),
      "setup_s" -> arr(setups.toSeq),
      "cold_job_s" -> Json.num(cold.wallS),
      "warm_job_s" -> arr(warm.map(_.wallS).toSeq),
      "timeline" -> timeline.map { case (k, v) => s"[${Json.str(k)},${Json.num(v)}]" }
        .mkString("[", ",", "]"),
      "job_s_samples" -> ok.size.toString,
      "job_s_tail" -> tail(ok.map(_.wallS)),
      "failures" -> jobs.flatMap(j => j.failures.map(f => Json.str(s"job ${j.idx}: $f")))
        .mkString("[", ",", "]"))
    val result = obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> jobs.size.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (k, v, u) =>
        k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" })))
    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    Files.write(out.resolve(s"$tag.json"),
      (obj(detail :+ ("result" -> result)) + "\n").getBytes(StandardCharsets.UTF_8))
    if (trace) Files.write(out.resolve(s"$tag.spans.jsonl"),
      tracer.jsonl.getBytes(StandardCharsets.UTF_8))
    println("detail " + obj(detail))
    println(result)
  }

  /** Per-layer metrics of a traced run: per-span counters (median over the
    * warm jobs), set-up span walls (median over set-ups), structural counts,
    * input shape, the traced job time and span coverage. */
  private def layerMetrics(tracer: Tracer, nSetups: Int, traced: Seq[JobRecord],
      structure: Map[String, Double], shape: Shape): Seq[(String, Double, String)] = {
    val med = Workload.median _
    val tracedIds = traced.map(_.idx).toSet
    val spans = tracer.spans.filter(s => tracedIds(s.job))
    def perJob(name: String)(f: Span => Double): Double =
      if (!spans.exists(_.name == name)) 0.0
      else med(traced.map(j => spans.filter(s => s.job == j.idx && s.name == name).map(f).sum))
    val counters = for (name <- jobSpans; k <- spanCounters) yield {
      val unit = k match {
        case "jobs" | "tasks" => "count"
        case "shuffle_write_mb" | "spill_mb" => "MB"
        case _ => "s"
      }
      val v = perJob(name) { s =>
        val c = s.counters.get
        k match {
          case "wall_s" => s.wallS
          case "self_s" => tracer.selfS(s)
          case "jobs" => c.jobs.toDouble
          case "tasks" => c.tasks.toDouble
          case "task_s" => c.taskMs / 1e3
          case "gc_s" => c.gcMs / 1e3
          case "shuffle_write_mb" => c.shuffleWriteBytes / 1048576.0
          case "spill_mb" => c.spillBytes / 1048576.0
          case "driver_gap_s" => s.gapS
        }
      }
      (s"$name.$k", v, unit)
    }
    val setupWalls = setupSpans.map { name =>
      val walls = tracer.spans.filter(_.name == name).map(_.wallS)
      (s"$name.wall_s", if (walls.isEmpty) 0.0 else med(walls.grouped(
        math.max(1, walls.size / nSetups)).map(_.sum).toSeq), "s")
    }
    def layer(k: String): Double = {
      val vs = traced.flatMap(_.layer.get(k)) ++ structure.get(k)
      if (vs.isEmpty) 0.0 else med(vs)
    }
    val structuralM = structural.map { k =>
      val unit = if (k.endsWith("_ms_p50")) "ms" else if (k.endsWith("_mb")) "MB"
        else if (k.endsWith("_frac")) "frac" else "count"
      (k, layer(k), unit)
    }
    def jobsPerStep(op: String): Double = {
      val steps = layer(s"plans.$op.steps")
      if (steps == 0) 0.0 else perJob(s"operators.$op")(_.counters.get.jobs.toDouble) / steps
    }
    val coverage = traced.map { j =>
      val js = spans.filter(_.job == j.idx)
      val root = js.find(_.name == "job").map(_.wallS).getOrElse(Double.NaN)
      js.filter(_.parent.contains("job")).map(_.wallS).sum / root
    }
    counters ++ setupWalls ++ structuralM ++ Seq(
      ("plans.pagerank.jobs_per_step", jobsPerStep("pagerank"), "count"),
      ("plans.wcc.jobs_per_step", jobsPerStep("wcc"), "count"),
      ("plans.blocks_leaked", (0 +: traced.map(_.leaked)).max.toDouble, "count"),
      ("input.vertices", shape.vertices.toDouble, "count"),
      ("input.edges", shape.edges.toDouble, "count"),
      ("input.max_degree", shape.maxDegree.toDouble, "count"),
      ("input.wedges", shape.wedges.toDouble, "count"),
      ("input.largest_scc", shape.largestScc.toDouble, "count"),
      ("trace.job_s", med(traced.map(_.wallS)), "s"),
      ("trace.span_coverage", if (coverage.isEmpty) 0.0 else coverage.min, "frac"))
  }

  /** Heap occupied after a full collection, in MB (the heap pools'
    * collection usage right after an explicit GC). */
  private def postGcHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Nearest-rank value of the highest percentile the sample count supports:
    * p = 100·(n−1)/n, i.e. the second-largest sample. */
  private def tail(xs: Seq[Double]): String = {
    val s = xs.sorted
    if (s.size < 2) "null"
    else {
      val p = 100.0 * (s.size - 1) / s.size
      s"""{"p":${Json.num(p)},"value":${Json.num(s(s.size - 2))}}"""
    }
  }

  private def envJson(args: Array[String]): String = {
    val rt = ManagementFactory.getRuntimeMXBean
    val memTotal = scala.util.Try(
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong * 1024).get)
      .getOrElse(-1L)
    val heapFlags = rt.getInputArguments.asScala
      .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:+Use"))
    obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "mem_total_bytes" -> memTotal.toString,
      "heap_flags" -> heapFlags.map(Json.str).mkString("[", ",", "]"),
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "master" -> Json.str(s"local[$cores]"),
      "git_commit" -> arg(args, "--commit").fold("null")(Json.str),
      "source_sha256" -> arg(args, "--sources").fold("null")(Json.str)))
  }

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  private def arr(xs: Seq[Double]): String = xs.map(Json.num).mkString("[", ",", "]")
}
