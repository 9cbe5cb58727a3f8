package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one invocation was asked to do. `work` is a private scratch
  * directory inside the checkout, deleted when the run ends; `cache`
  * keeps inputs that later runs of the same build may reuse. */
final case class Ctx(seed: Long, seconds: Int, trace: Boolean, work: File,
                     cache: File, cpus: Int) {
  val tracer = new Tracer(trace)
  /** Measured stretches (epoch ms); execution metrics cover these. */
  val windows = ArrayBuffer.empty[(Double, Double)]
  /** Spark and streaming listeners, attached in traced runs only. */
  var listeners: Option[Listeners] = None
  def dir(name: String): String = {
    val d = new File(work, name); d.mkdirs(); d.getAbsolutePath
  }
}

/** Everything a run reports. End-to-end metrics are measured in every
  * run; layer metrics are filled only by traced runs. */
final class Result {
  var attempted = 0L
  var failed = 0L
  /** Units of work (queries or micro-batches) behind the timings. */
  var units = 0L
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val details = mutable.LinkedHashMap.empty[String, String]

  def correct: Boolean = checks.nonEmpty && checks.forall(_._2)
  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += ((name, ok, detail))
  def detail(k: String, v: Double): Unit = details(k) = Json.num(v)
  /** Keep the largest live-heap reading of the run. */
  def liveHeap(mb: Double): Unit =
    details("live_heap_mb") = Json.num(math.max(mb,
      details.get("live_heap_mb").map(_.toDouble).getOrElse(0.0)))
  def detailStr(k: String, v: String): Unit = details(k) = Json.str(v)

  /** Count one unit of work; a unit that throws is counted as failed
    * and contributes no timing (`None`). */
  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }
}

/** Session set-up, the part of a run that `setup_s` times. */
object Setup {
  /** Start the engine's session the way its own harnesses do. */
  def session(cpus: Int): SparkSession = {
    val spark = graft.Sessions.local(cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set-up rounds per run. The first is JVM-cold; with four warm
    * rounds after it the median no longer follows one slow warm round. */
  val Rounds = 5

  /** Set up [[Rounds]] times, keeping the last session: each round
    * starts a session and runs `warm` on it, and every round but the
    * last stops its session again. The median round is the reported
    * set-up time. */
  def repeated(ctx: Ctx, r: Result)(warm: SparkSession => Unit): SparkSession = {
    val total = ArrayBuffer.empty[Double]
    val starts = ArrayBuffer.empty[Double]
    val warms = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to Rounds) {
      val t0 = System.nanoTime()
      spark = session(ctx.cpus)
      val t1 = System.nanoTime()
      warm(spark)
      val t2 = System.nanoTime()
      starts += (t1 - t0) / 1e9; warms += (t2 - t1) / 1e9
      total += (t2 - t0) / 1e9
      if (i < Rounds) stop(spark)
    }
    r.e2e("setup_s") = (Stats.median(total.toSeq), "s")
    r.layer("sessions.start_s") = (Stats.median(starts.toSeq), "s")
    r.layer("tables.warm_s") = (Stats.median(warms.toSeq), "s")
    r.detailStr("setup_rounds_s", total.map(x => f"$x%.3f").mkString(","))
    if (ctx.trace) ctx.listeners = Some(new Listeners(spark))
    spark
  }
}

/** Host noise recorded with every run, so a run that shared the
  * machine with a busy neighbour is identifiable from its own output. */
object Host {
  def calibrate(r: Result): Unit = {
    r.detail("host.cal_single_s", graft.HostCal.calSingle())
    r.detail("host.cal_par_s", graft.HostCal.calPar())
  }

  /** Run `body` and record the host-wide CPU-steal fraction over it. */
  def stealOver[A](r: Result, key: String)(body: => A): A = {
    val s0 = graft.HostCal.stealTicks()
    val t0 = System.nanoTime()
    try body
    finally r.detail(key, graft.HostCal.stealFrac(s0, graft.HostCal.stealTicks(),
                                                 (System.nanoTime() - t0) / 1e9))
  }

  /** Heap still live after a full collection, in MB: what the run
    * retains (cached blocks, pins, state, results), independent of when
    * the collector last ran. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The JVM's resident-set high-water mark (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

object Files2 {
  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq
      all.reverseIterator.foreach(Files.deleteIfExists(_))
    }

  /** (files, bytes) of the regular files under `dir`, skipping Spark's
    * checksum and marker files. */
  def sizeOf(dir: String): (Long, Long) = {
    val p = new File(dir).toPath
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .filter { f =>
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }.toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }
  }
}
