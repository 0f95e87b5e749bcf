package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** The benchmark program. `run.py` builds it and starts it with a fresh
  * run directory; see README.md for the workloads and metrics.
  *
  * Usage: Main --workload serve|ingest|curate --seed N --seconds S
  *   --trace 0|1 --run-dir DIR --record FILE
  */
object Main {
  val MiB = 1048576.0

  def main(args: Array[String]): Unit = println(run(args)._1)

  /** Runs one workload; returns the result line and the run record. */
  def run(args: Array[String]): (String, Map[String, Any]) = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val runDir = new File(a("run-dir"))
    // two task threads leave cores to the client thread, the JIT and GC (README.md)
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    val tr = new Tracer(trace)
    val b = new Bench(seed, a("seconds").toDouble, tr, runDir, cores)
    val rec = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> b.seconds, "trace" -> trace,
      "cores" -> cores, "loadavg_start" -> loadavg(), "cpu_s_start" -> cpuSeconds())

    // isolation: this run's tmpdir must be its own and start empty
    require(b.tmpDir.getCanonicalPath.startsWith(runDir.getCanonicalPath),
      s"java.io.tmpdir ${b.tmpDir} is not inside the run directory $runDir")
    require(Option(b.tmpDir.list()).forall(_.isEmpty), s"state from another run in ${b.tmpDir}")
    b.assertNoWarmIndex()

    val t0 = System.nanoTime()
    val (sessionMs, sessionSteal) = timed(tr.span("setup.session")(b.newSession()))
    val w: Workload = workload match {
      case "serve" => new Serve.Workload(b)
      case "ingest" => new Ingest.Workload(b)
      case "curate" => new Curate.Workload(b)
      case other => sys.error(s"unknown workload $other")
    }
    val g0 = System.nanoTime()
    w.prepare()
    rec("gen_s") = (System.nanoTime() - g0) / 1e9
    val (setupMs, setupSteal) = timed(w.setup())
    // like every timing in the result line, set-up is net of stolen time
    val (sessionNetMs, setupNetMs) = (sessionMs * (1 - sessionSteal), setupMs * (1 - setupSteal))
    rec("session_ms") = sessionMs
    rec("session_steal") = sessionSteal
    rec("setup_ms") = setupMs
    rec("setup_steal") = setupSteal
    rec("warm_s") = timed(w.warm())._1 / 1000

    rec("wall_s_before_measure") = (System.nanoTime() - t0) / 1e9
    rec("canary_ms_before") = canary(b)
    b.peakPinnedB = b.pinnedBytes()
    b.measuring = true
    rec("measure_steal") = timed(w.measure())._2
    b.measuring = false
    rec("canary_ms_after") = canary(b)
    rec("wall_s_after_measure") = (System.nanoTime() - t0) / 1e9

    val e2e = w.e2e ++ Map(
      "setup_s" -> (sessionNetMs + setupNetMs) / 1000,
      "cache_pinned_mb" -> b.peakPinnedB / MiB)
    val units = Map("setup_s" -> "s", "throughput_per_s" -> "1/s", "p50_ms" -> "ms", "cache_pinned_mb" -> "MB")
    rec("end_to_end") = e2e
    rec ++= w.extras
    val metrics: Map[String, (Double, String)] =
      if (!trace) e2e.map { case (k, v) => k -> (v, units(k)) }
      else {
        val (perLayer, modules) = layers(b, sessionNetMs, e2e("p50_ms"))
        rec("per_layer") = perLayer.map { case (k, (v, _)) => k -> v }
        rec("module_spans_ms") = modules
        Files.write(new File(a("record") + ".spans.json").toPath,
          tr.spansJson.getBytes(StandardCharsets.UTF_8))
        perLayer
      }
    rec("op_log") = b.ops.map(o => Seq(o.kind, o.rows)).toSeq
    rec("op_times") = b.ops.filter(_.measured).map(o => Seq(o.kind, o.ms, o.steal, o.cpuMs)).toSeq
    rec("attempted") = b.attempted
    rec("failed") = b.failed
    rec("failures") = b.failures.toSeq
    rec("loadavg_end") = loadavg()
    rec("cpu_s_end") = cpuSeconds()
    Files.write(new File(a("record")).toPath, Json(rec.toMap).getBytes(StandardCharsets.UTF_8))
    System.err.println("[graftbench] run record: " + Json(rec.toMap))
    b.clearCaches()
    b.spark.stop()
    (Json(Map(
      "correct" -> (b.failed == 0), "attempted" -> b.attempted, "failed" -> b.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })),
      rec.toMap)
  }

  /** Per-layer metrics of a traced run, over its measured ops, plus the
    * median of every graft-module span. */
  def layers(b: Bench, sessionMs: Double, p50: Double): (Map[String, (Double, String)], Map[String, Double]) = {
    val tr = b.tr
    val ops = b.ops.filter(_.measured).toSeq
    val n = ops.size.toDouble
    val cs = ops.map(o => tr.counters.getOrElse(o.id, new OpCounters))
    def perOp(f: OpCounters => Double): Double = cs.map(f).sum / n
    val measuredIds = ops.map(_.id).toSet
    def spanMs(name: String, inMeasured: Boolean): Seq[Double] =
      tr.spans.filter(s => s.name == name && measuredIds(s.op) == inMeasured).map(_.ms).toSeq
    val resultRows = math.max(1L, ops.map(_.rows).sum)
    val perLayer = Map(
      "setup.session_ms" -> (sessionMs, "ms"),
      "setup.warmup_ms" -> (Stats.median(spanMs("setup.warmup", inMeasured = false)), "ms"),
      "memo.fills_per_op" -> (b.memoFills / n, "count"),
      "memo.frames" -> (b.peakFrames.toDouble, "count"),
      "spark.qe_per_op" -> (perOp(_.qe), "count"),
      "spark.jobs_per_op" -> (perOp(_.jobs), "count"),
      "spark.stages_per_op" -> (perOp(_.stages), "count"),
      "spark.tasks_per_op" -> (perOp(_.tasks), "count"),
      "spark.analysis_ms" -> (perOp(_.analysisMs), "ms"),
      "spark.optimize_ms" -> (perOp(_.optimizeMs), "ms"),
      "spark.plan_ms" -> (perOp(_.planMs), "ms"),
      "spark.driver_ms" -> (ops.map(o => tr.driverMs(o.id, o.startMs, o.endMs)).sum / n, "ms"),
      "spark.job_ms" -> (perOp(_.jobSpans.map { case (s, e) => (e - s).toDouble }.sum), "ms"),
      "spark.exec_cpu_ms" -> (perOp(_.cpuNs / 1e6), "ms"),
      "spark.exec_run_ms" -> (perOp(_.runMs.toDouble), "ms"),
      "spark.task_wait_ms" -> (perOp(_.waitMs.toDouble), "ms"),
      "spark.shuffle_mb" -> (perOp(_.shuffleB / MiB), "MB"),
      "spark.input_mb" -> (perOp(_.inputB / MiB), "MB"),
      "spark.rows_examined_per_row" -> (cs.map(_.inputRecords).sum.toDouble / resultRows, "ratio"),
      "trace.p50_ms" -> (p50, "ms"))
    val modules = tr.spans.map(_.name).distinct
      .filterNot(n => n.startsWith("op.") || n.startsWith("setup."))
      .flatMap { name =>
        val inRun = spanMs(name, inMeasured = true)
        val xs = if (inRun.nonEmpty) inRun else spanMs(name, inMeasured = false)
        if (xs.isEmpty) None else Some(name + "_ms" -> Stats.median(xs))
      }.toMap ++ Map("spark.spill_mb" -> perOp(_.spillB / MiB)) ++
      // time inside an op outside every graft call and action: the benchmark's own glue
      Map("op.self_ms" -> Stats.median(tr.selfMs.filter(_._1.startsWith("op.")).values.flatten.toSeq))
    (perLayer, modules)
  }

  /** Runs a phase; returns its wall time in ms and the share of it the
    * hypervisor stole. */
  def timed(body: => Any): (Double, Double) = {
    val (h0, t0) = (Host.cpuTicks(), System.nanoTime())
    body
    ((System.nanoTime() - t0) / 1e6, Host.stealShare(h0, Host.cpuTicks()))
  }

  def canary(b: Bench): Double = {
    val s = System.nanoTime()
    b.spark.range(1000000L).count()
    (System.nanoTime() - s) / 1e6
  }

  def loadavg(): String =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath)).trim
    catch { case _: Throwable => "" }

  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }
}

/** Minimal JSON rendering for the run record and the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.sortBy(identity).mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}
