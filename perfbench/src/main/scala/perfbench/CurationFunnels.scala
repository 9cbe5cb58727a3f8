package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `curation_funnels`: the four `graft.ext.Funnel` queries over the
  * gate corpus (`documents`, sf0.01), each run once per pass in an order
  * the seed permutes, one at a time. An untimed warm-up pass precedes
  * the measured passes. A unit is one query: its plan is built by the
  * engine call (eager jobs included) and its result collected. Every
  * result is checked against the reference digests. */
object CurationFunnels {

  val DataDir = "perfbench/data/sf0.01"
  /** Host-wide CPU steal above which a measured pass is not reported. */
  val StealThreshold = 0.02
  /** A pass is four samples and one pass takes longer than a run's
    * seconds; two passes halve the share of one slow query in the
    * medians. */
  val MinPasses = 2
  val RefFile = "perfbench/reference/funnel_digests.json"

  def queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    graft.ext.Funnel.queries.toSeq.sortBy(_._1)

  /** The seed's query order: a seeded shuffle of the sorted names. */
  def order(seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(queries.map(_._1))

  /** name → digest, from the flat JSON object in [[RefFile]]. */
  def references(path: String): Map[String, String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  private case class Timed(name: String, wallMs: Double, buildMs: Double,
                           startMs: Double, buildEndMs: Double, endMs: Double,
                           phases: Map[String, (Double, Double)],
                           pins: Int, cachedMb: Double)

  private case class Pass(units: Seq[Timed], startMs: Double, endMs: Double, steal: Double)

  def run(ctx: Ctx, r: Result): Unit = {
    val dir = new java.io.File(DataDir).getAbsolutePath
    val refs = references(RefFile)
    val spark = Setup.repeated(ctx, r) { s =>
      graft.Tables.documents(s, dir).write.format("noop").mode("overwrite").save()
    }
    Host.calibrate(r)
    val fns = queries.toMap
    // warm-up pass, untimed: first-touch JIT and code generation for
    // every query (outputs are checked all the same)
    for (name <- order(ctx.seed))
      r.attempt(name)(one(ctx, spark, name, fns(name), dir, refs, r, measured = false))
    // whole measured passes until the run's seconds are used (at least
    // MinPasses), each in its own seeded order; a pass that ran under
    // host CPU steal is measuring the neighbour, so only passes below the
    // steal threshold are reported when any are
    val passes = ArrayBuffer.empty[Pass]
    val t0 = Clock.ms()
    def stolen = passes.forall(_.steal > StealThreshold)
    while (passes.size < MinPasses || Clock.ms() - t0 < ctx.seconds * 1000.0) {
      val p0 = Clock.ms()
      val s0 = graft.HostCal.stealTicks()
      val units = order(ctx.seed + 1 + passes.size).flatMap(name =>
        r.attempt(name)(one(ctx, spark, name, fns(name), dir, refs, r, measured = true)))
      val p1 = Clock.ms()
      passes += Pass(units, p0, p1, graft.HostCal.stealFrac(s0, graft.HostCal.stealTicks(),
                                                           (p1 - p0) / 1e3))
    }
    val kept = if (stolen) passes else passes.filter(_.steal <= StealThreshold)
    kept.foreach(p => ctx.windows += ((p.startMs, p.endMs)))
    val timed = kept.flatMap(_.units)
    r.detail("host.steal_frac", Stats.median(kept.map(_.steal).toSeq))
    r.detailStr("pass_steal", passes.map(p => f"${p.steal}%.4f").mkString(","))
    r.detail("passes_reported", kept.size)
    r.units = timed.size
    val walls = timed.map(_.wallMs).toSeq
    r.e2e("unit_ms_p50") = (Stats.median(walls), "ms")
    val (tail, pct) = Stats.tail(walls, 90)
    r.detail("unit_ms_tail", tail)
    val docs = graft.Tables.documents(spark, dir).count()
    r.e2e("rows_per_s") = (docs * timed.size / (walls.sum / 1e3), "rows/s")
    r.detail("pass_s", Stats.median(kept.map(p => (p.endMs - p.startMs) / 1e3).toSeq))
    r.detail("passes", passes.size)
    r.detail("unit_samples", walls.size)
    r.detail("unit_ms_tail_percentile", pct)
    for (t <- timed) r.detail(s"query_ms.${t.name}", t.wallMs)
    if (ctx.trace) traceLayers(ctx, r, timed.toSeq)
  }

  /** One query: build (the engine call), then collect; digest checked. */
  private def one(ctx: Ctx, spark: SparkSession, name: String,
                  fn: (SparkSession, String) => DataFrame, dir: String,
                  refs: Map[String, String], r: Result, measured: Boolean): Timed = {
    graft.CacheScope.release(spark)
    spark.catalog.clearCache()
    val s = Clock.ms()
    val (df, rows, b) = ctx.tracer.span("query", name) {
      val df = ctx.tracer.span("operator.build", name)(fn(spark, dir))
      val b = Clock.ms()
      val rows = ctx.tracer.span("action", name)(df.collect())
      (df, rows, b)
    }
    val e = Clock.ms()
    // what the query retains (its pins among it) before the release
    if (measured) r.liveHeap(Host.liveHeapMb())
    val got = Digest.of(rows.toSeq)
    r.check(s"digest $name", refs.get(name).contains(got),
            s"got $got, want ${refs.getOrElse(name, "none")}")
    val phases =
      if (!ctx.trace) Map.empty[String, (Double, Double)]
      else df.queryExecution.tracker.phases.map { case (k, v) =>
        k -> ((v.startTimeMs.toDouble, v.endTimeMs.toDouble)) }
    val (pins, mb) =
      if (!ctx.trace) (0, 0.0)
      else (graft.CacheScope.livePinned(spark),
            spark.sparkContext.getRDDStorageInfo
              .map(i => i.memSize + i.diskSize).sum / 1048576.0)
    Timed(name, e - s, b - s, s, b, e, phases, pins, mb)
  }

  private def traceLayers(ctx: Ctx, r: Result, ts: Seq[Timed]): Unit = {
    val l = ctx.listeners.get
    l.exec.drain()
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def phase(t: Timed, p: String) = t.phases.get(p).map(x => x._2 - x._1).getOrElse(0.0)
    val buildJobs = ts.map(t => ExecStats.over(l.exec, Seq((t.startMs, t.buildEndMs))))
    val actionJobs = ts.map(t => ExecStats.over(l.exec, Seq((t.buildEndMs, t.endMs))))
    r.layer("operator.build_ms") = (med(ts.map(_.buildMs)), "ms")
    r.layer("operator.build_jobs") = (med(buildJobs.map(_.jobs.toDouble)), "count")
    r.layer("plans.analysis_ms") = (med(ts.map(phase(_, "analysis"))), "ms")
    r.layer("plans.optimization_ms") = (med(ts.map(phase(_, "optimization"))), "ms")
    r.layer("plans.planning_ms") = (med(ts.map(phase(_, "planning"))), "ms")
    r.layer("cachescope.live_pins") = (med(ts.map(_.pins.toDouble)), "count")
    r.layer("cachescope.cached_mb") = (med(ts.map(_.cachedMb)), "MB")
    // wall = build + action-side planning + action-side execution + rest
    val rest = ts.zip(actionJobs).map { case (t, a) =>
      val plan = t.phases.values.filter(_._1 >= t.buildEndMs - 1)
        .map(x => x._2 - x._1).sum
      val rem = t.wallMs - t.buildMs - plan - a.jobMs
      r.detailStr(s"breakdown.${t.name}",
        f"build ${t.buildMs}%.1f + plan $plan%.1f + exec ${a.jobMs}%.1f + remainder $rem%.1f = wall ${t.wallMs}%.1f ms")
      rem
    }
    r.layer("query.remainder_ms") = (med(rest), "ms")
  }

  /** Write the digests of one pass as the reference file
    * (`perfbench.Main ... --record <file>`); record only from outputs
    * that passed tools/check.py against DuckDB. */
  def record(ctx: Ctx, out: String): Unit = {
    val dir = new java.io.File(DataDir).getAbsolutePath
    val spark = Setup.session(ctx.cpus)
    val ds = queries.map { case (n, f) =>
      graft.CacheScope.release(spark); spark.catalog.clearCache()
      n -> Digest.of(f(spark, dir).collect().toSeq)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (Json.obj(ds.map { case (n, d) => n -> Json.str(d) }) + "\n").getBytes("UTF-8"))
    Setup.stop(spark)
  }
}
