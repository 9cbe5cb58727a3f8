package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *                  --trace <0|1> --out <result.json> --work <dir>
  *                  --cache <dir>
  *
  * Writes the result (metrics, checks, host noise, details) to `--out`
  * and, when traced, the spans next to it. Exits 0 only when the run
  * completed, no unit failed and every output check passed. */
object Main {
  val workloads: Map[String, (Ctx, Result) => Unit] = Map(
    "candle_stream" -> CandleStream.run,
    "curation_funnels" -> CurationFunnels.run,
    "history_ingest" -> HistoryIngest.run)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val work = new File(a("work"))
    work.mkdirs()
    val ctx = Ctx(a("seed").toLong, a("seconds").toInt, a.getOrElse("trace", "0") == "1",
                  work, new File(a("cache")), Runtime.getRuntime.availableProcessors)
    if (a.contains("record")) {
      CurationFunnels.record(ctx, a("record")); sys.exit(0)
    }
    val r = new Result
    var ok = false
    try {
      graft.Sessions.quietBenchLogs()
      run(ctx, r)
      ok = true
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $workload run failed: $e")
        e.printStackTrace()
    } finally {
      ctx.listeners.foreach { l => l.exec.drain(); l.close() }
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .foreach(Setup.stop)
    }
    ctx.listeners.foreach(l => execLayers(ctx, r, l))
    // every query has terminated and the session is down: nothing can
    // still be writing into the scratch tree
    Files2.rmTree(work.toPath)
    r.detail("peak_rss_mb", Host.peakRssMb())
    if (ctx.trace) {
      for ((n, u) <- Metrics.layers if !r.layer.contains(n)) r.layer(n) = (0.0, u)
      Files.write(new File(a("out") + ".spans.json").toPath,
                  ctx.tracer.toJson.getBytes(UTF_8))
    }
    val metrics = if (ctx.trace) r.layer else r.e2e
    def ms(m: Iterable[(String, (Double, String))]) = Json.obj(m.toSeq.map {
      case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val checks = r.checks.map { case (n, pass, d) =>
      Json.obj(Seq("name" -> Json.str(n), "pass" -> pass.toString, "detail" -> Json.str(d)))
    }.mkString("[", ",", "]")
    val out = Json.obj(Seq(
      "completed" -> ok.toString,
      "correct" -> (ok && r.correct).toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> ms(metrics),
      "end_to_end" -> ms(r.e2e),
      "checks" -> checks,
      "details" -> Json.obj(r.details.toSeq)))
    Files.write(new File(a("out")).toPath, (out + "\n").getBytes(UTF_8))
    sys.exit(if (ok && r.correct && r.failed == 0) 0 else 1)
  }

  /** Execution metrics over the measured stretches, per unit of work
    * (query or micro-batch) unless they are a fraction or a task
    * percentile. */
  private def execLayers(ctx: Ctx, r: Result, l: Listeners): Unit = {
    val es = ExecStats.over(l.exec, ctx.windows.toSeq)
    val u = math.max(1L, r.units).toDouble
    val wallS = ctx.windows.map(w => w._2 - w._1).sum / 1e3
    def put(n: String, v: Double): Unit =
      if (!r.layer.contains(n)) r.layer(n) = (v, Metrics.layers.toMap.apply(n))
    put("exec.ms", es.jobMs / u)
    put("exec.jobs", es.jobs / u)
    put("exec.stages", es.stages / u)
    put("exec.tasks", es.tasks / u)
    put("exec.task_run_s", es.runS / u)
    put("exec.task_cpu_s", es.cpuS / u)
    put("exec.gc_s", es.gcS / u)
    put("exec.sched_delay_s", es.schedS / u)
    put("exec.core_busy_frac", if (wallS > 0) es.runS / (wallS * ctx.cpus) else 0.0)
    put("exec.task_ms_p50", if (es.taskMs.isEmpty) 0.0 else Stats.median(es.taskMs))
    put("exec.task_ms_max", if (es.taskMs.isEmpty) 0.0 else es.taskMs.max)
    put("exec.shuffle_read_mb", es.shuffleReadMb / u)
    put("exec.shuffle_write_mb", es.shuffleWriteMb / u)
    put("exec.spill_mb", es.spillMb / u)
    put("tables.scan_mb", es.scanMb / u)
    put("tables.scan_rows", es.scanRows / u)
    put("par.concurrent_jobs_max", es.maxConcurrentJobs.toDouble)
    r.detail("exec_jobs_total", es.jobs)
  }
}
