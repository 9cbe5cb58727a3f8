package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Closed-loop driving of one streaming query: the rate-micro-batch
  * source fires the next trigger as soon as the previous one commits,
  * so every trigger is one unit of work. */
object Streams {

  /** Poll `q` until `done` says so (or the query dies), keeping every
    * progress report by batch id. `recentProgress` only keeps the last
    * hundred, so it is read often. */
  def follow(q: StreamingQuery, seen: mutable.TreeMap[Long, StreamingQueryProgress],
             deadlineMs: Long)(done: => Boolean): Unit = {
    while (q.isActive && !done && System.currentTimeMillis() < deadlineMs) {
      q.recentProgress.foreach(p => seen(p.batchId) = p)
      Thread.sleep(100)
    }
    q.recentProgress.foreach(p => seen(p.batchId) = p)
  }

  /** Drive `q` through `warmup` triggers, then until `measureMs` have
    * passed and at least `minMeasured` further triggers completed; stop
    * it and record the heap it left live. Returns every completed
    * trigger, the measured ones (those after the warm-up) and the
    * measured stretch in epoch ms. */
  def drive(q: StreamingQuery, warmup: Int, measureMs: Double, minMeasured: Int,
            ctx: Ctx, r: Result)
      : (Seq[StreamingQueryProgress], Seq[StreamingQueryProgress], (Double, Double)) = {
    val seen = mutable.TreeMap.empty[Long, StreamingQueryProgress]
    val deadline = System.currentTimeMillis() + 120000L
    def measured = seen.valuesIterator.filter(_.batchId >= warmup)
    try {
      follow(q, seen, deadline)(seen.size >= warmup)
      val m0 = Clock.ms()
      follow(q, seen, deadline)(
        Clock.ms() - m0 >= measureMs && measured.size >= minMeasured)
    } finally stopChecked(q)
    // a trigger may have committed between the last poll and the stop;
    // a traced run also has every report the listener received
    q.recentProgress.foreach(p => seen(p.batchId) = p)
    for (l <- ctx.listeners; p <- l.progress.progress.asScala if p.id == q.id)
      seen(p.batchId) = p
    r.liveHeap(Host.liveHeapMb())
    val all = seen.values.toSeq
    val ms = all.filter(_.batchId >= warmup)
    require(ms.nonEmpty, "no measured micro-batch completed")
    (all, ms, (startMs(ms.head), startMs(ms.last) + triggerMs(ms.last)))
  }

  /** Stop `q`, wait for it to terminate, and fail loudly if it died. */
  def stopChecked(q: StreamingQuery): Unit = {
    val died = q.exception
    q.stop()
    q.awaitTermination(60000L)
    died.foreach(e => throw new IllegalStateException(s"streaming query died: $e", e))
    require(!q.isActive, "streaming query still active after stop")
  }

  def triggerMs(p: StreamingQueryProgress): Double =
    p.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(Double.NaN)

  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** Median of each per-trigger phase over `ps`, as layer metrics. */
  def phases(r: Result, ps: Seq[StreamingQueryProgress]): Unit =
    for (ph <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
                   "walCommit", "commitOffsets")) {
      val xs = ps.map(_.durationMs.asScala.get(ph).map(_.toDouble).getOrElse(0.0))
      r.layer(s"trigger.${ph}_ms") = (if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }

  /** Record each trigger as a span (start from the progress timestamp,
    * length from its triggerExecution time). */
  def triggerSpans(ctx: Ctx, leg: String, ps: Seq[StreamingQueryProgress]): Unit =
    if (ctx.trace) for (p <- ps) {
      val s = startMs(p)
      ctx.tracer.spans += Span(ctx.tracer.spans.size, s"$leg.trigger", s,
        s + triggerMs(p), -1, s"batch ${p.batchId}")
    }

  def rateSource(spark: SparkSession, rowsPerBatch: Long, cpus: Int) =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("numPartitions", cpus.toLong)
      .option("startTimestamp", 0L)
      .option("advanceMillisPerBatch", 1000L)
      .load()
}
