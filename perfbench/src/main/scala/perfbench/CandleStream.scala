package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TickGen
import graft.stream.CandlePipeline

/** `candle_stream`: generated ticks → `TickGen.ticksFromEvents` →
  * `CandlePipeline.candles` (1-minute windows, 5-minute watermark) on a
  * rate-micro-batch source, one micro-batch at a time.
  *
  * Each micro-batch carries [[RowsPerBatch]] ticks over
  * [[Instruments]] instruments and one minute of event time, so from the
  * sixth batch on every trigger closes a window: candles are emitted
  * and their state is evicted during the measured stretch. */
object CandleStream {

  val RowsPerBatch = 10000L
  val Instruments = 100
  val EventMsPerBatch = 60000L
  /** Triggers run before the clock starts: state fills and emission
    * begins (the watermark trails event time by 5 minutes). On a 4-core
    * host, after 12 triggers the next ones still ran about 8% slower
    * than the last ones of an 8-second stretch; 20 leave it warmer. */
  val WarmupBatches = 20

  /** Seed → (id offset, event-time origin in epoch ms). Any seed maps
    * into a bounded range (ids below 1e15, origins within ten years of
    * 2024-01-01), so no seed overflows a long or a timestamp. */
  def seedOffsets(seed: Long): (Long, Long) = {
    val k = Math.floorMod(seed, 1000000L)
    (k * 1000000000L, 1704067200000L + Math.floorMod(seed, 3653L) * 86400000L)
  }

  /** The event rows TickGen renders, as a pure function of the
    * generator position `value` (0, 1, 2, … across all batches). */
  def events(rows: DataFrame, seed: Long): DataFrame = {
    val (idOff, t0) = seedOffsets(seed)
    val id = col("value") + lit(idOff)
    val ms = lit(t0) + expr(s"value * $EventMsPerBatch div $RowsPerBatch")
    rows.select(
      id.as("event_id"),
      timestamp_millis(ms).cast(TimestampNTZType).as("ts"),
      pmod(id, lit(50L)).as("user_id"),
      concat(lit("INS"), pmod(id, lit(Instruments.toLong)).cast(StringType))
        .as("event_type"),
      (lit(100.0) + pmod(xxhash64(id), lit(10000L)).cast(DoubleType) / 100.0)
        .as("value"),
      concat(lit("""{"k": """), (pmod(id * 31, lit(100L)) + 1).cast(StringType),
             lit("}")).as("props"))
  }

  def ticks(events: DataFrame): DataFrame =
    TickGen.ticksFromEvents(events).select("json_str")

  /** The same inputs as a static frame: generator positions [0, n). */
  def staticTicks(spark: SparkSession, n: Long, seed: Long): DataFrame =
    ticks(events(spark.range(n).toDF("value"), seed))

  private val TieFree = Seq("window_start", "window_end", "instrument", "high",
    "low", "buy_volume", "sell_volume", "total_volume", "delta")

  def run(ctx: Ctx, r: Result): Unit = {
    // set-up = session start + one static micro-batch through the
    // pipeline (first touch of TickGen, parse and aggregation code)
    val spark = Setup.repeated(ctx, r) { s =>
      CandlePipeline.candles(staticTicks(s, RowsPerBatch / 10, ctx.seed))
        .write.format("noop").mode("overwrite").save()
    }
    Host.calibrate(r)
    // the sink keeps each trigger's candles under its batch id, so the
    // check can take exactly the triggers whose commit was reported
    val out = new java.util.concurrent.ConcurrentHashMap[Long, Array[Row]]()
    val q = ctx.tracer.span("candlepipeline.build") {
      CandlePipeline.candles(ticks(events(
          Streams.rateSource(spark, RowsPerBatch, ctx.cpus), ctx.seed)))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ctx.dir("candles-ckpt"))
        .foreachBatch { (b: DataFrame, id: Long) => out.put(id, b.collect()); () }
        .start()
    }
    val (all, measured, window) = Host.stealOver(r, "host.steal_frac") {
      Streams.drive(q, WarmupBatches, ctx.seconds * 1000.0, 5, ctx, r)
    }
    ctx.windows += window
    r.attempted += all.size
    r.units = measured.size
    val durs = measured.map(Streams.triggerMs)
    r.e2e("unit_ms_p50") = (Stats.median(durs), "ms")
    val (tail, pct) = Stats.tail(durs, 90)
    r.detail("unit_ms_tail", tail)
    r.e2e("rows_per_s") = (measured.map(_.numInputRows).sum / (durs.sum / 1e3), "rows/s")
    r.detail("unit_samples", durs.size)
    r.detailStr("unit_ms_samples", durs.map(_.toLong).mkString(","))
    r.detail("unit_ms_tail_percentile", pct)
    r.detail("rows_per_batch", RowsPerBatch)
    r.detail("instruments", Instruments)

    // ---- output check: streamed candles ≡ batch candles over the same
    // ticks, for the windows the final watermark closed
    val emitted = all.flatMap(p => Option(out.get(p.batchId)).toSeq.flatten)
    val nEmitted = emitted.size.toLong
    val rowsIn = all.map(_.numInputRows).sum
    val wm = all.last.eventTime.get("watermark")
    val wmTs = java.sql.Timestamp.from(java.time.Instant.parse(wm))
    val batch = CandlePipeline.candles(staticTicks(spark, rowsIn, ctx.seed))
      .filter(col("window_end") <= lit(wmTs))
    val got = Digest.of(emitted.map(c => Row.fromSeq(TieFree.map(c.getAs[Any](_)))))
    val want = Digest.of(batch.select(TieFree.map(col): _*).collect().toSeq)
    r.check("candles.emitted > 0", nEmitted > 0, s"$nEmitted candles")
    r.check("stream candles = batch candles", got == want, s"stream $got, batch $want")
    r.detail("candles.emitted", nEmitted)
    r.detail("ticks_generated", rowsIn)

    if (ctx.trace) {
      Streams.phases(r, measured)
      Streams.triggerSpans(ctx, "candle_stream", all)
      val st = measured.flatMap(_.stateOperators.headOption)
      def med(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
        if (st.isEmpty) 0.0 else Stats.median(st.map(f))
      r.layer("state.rows_total") = (med(_.numRowsTotal.toDouble), "rows")
      r.layer("state.rows_updated") = (med(_.numRowsUpdated.toDouble), "rows")
      r.layer("state.mem_mb") = (med(_.memoryUsedBytes / 1048576.0), "MB")
      r.layer("state.commit_ms") = (med(_.commitTimeMs.toDouble), "ms")
      r.layer("state.rows_dropped_by_watermark") =
        (st.map(_.numRowsDroppedByWatermark).sum.toDouble, "rows")
      r.layer("candles.emitted") = (nEmitted.toDouble, "rows")
      layers(spark, ctx, r)
      spark.sqlContext.clearCache()
    }
    r.detail("measure_window_ms", window._2 - window._1)
  }

  /** TickGen, parse and aggregation timed one at a time on a static
    * frame the size of one micro-batch (median of three). */
  private def layers(spark: SparkSession, ctx: Ctx, r: Result): Unit = {
    def noop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    val ev = events(spark.range(RowsPerBatch).toDF("value"), ctx.seed).cache()
    ev.count()
    val gen = (1 to 3).map(_ => ctx.tracer.span("tickgen")(noop(ticks(ev))))
    val tk = ticks(ev).cache()
    tk.count()
    val parse = (1 to 3).map(_ =>
      ctx.tracer.span("candlepipeline.parse")(noop(CandlePipeline.parseAndClassify(tk))))
    val agg = (1 to 3).map(_ =>
      ctx.tracer.span("candlepipeline.candles")(noop(CandlePipeline.candles(tk))))
    val kept = CandlePipeline.parseAndClassify(tk).count().toDouble / RowsPerBatch
    r.layer("tickgen.ms_per_batch") = (Stats.median(gen), "ms")
    r.layer("candlepipeline.parse_ms_per_batch") = (Stats.median(parse), "ms")
    r.layer("candlepipeline.agg_ms_per_batch") =
      (math.max(0.0, Stats.median(agg) - Stats.median(parse)), "ms")
    r.layer("candlepipeline.rows_kept_frac") = (kept, "ratio")
    tk.unpersist(); ev.unpersist()
  }
}
