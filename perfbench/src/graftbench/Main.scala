package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Records ops (single statements) and units (what one loop step does:
  * a query, a write with its read-back, or a compaction cycle). A unit
  * fails when any of its ops throws or any of its answers is wrong. */
final class Recorder(traced: Boolean, probe: () => Map[String, Double], tracer: Option[Tracer]) {
  final case class Op(span: Span, kind: String, var ok: Boolean, gcMs: Long,
      counts: mutable.Map[String, Double])

  final case class UnitRec(kind: String, ms: Double, ok: Boolean)

  val ops = mutable.ArrayBuffer[Op]()
  val units = mutable.ArrayBuffer[UnitRec]()
  private var unitOk = true
  private var unitMs = 0.0

  def unit(kind: String)(body: => Unit): Unit = {
    unitOk = true
    unitMs = 0.0
    try body catch {
      case e: Exception =>
        unitOk = false
        System.err.println(s"FAILED op: $e")
    }
    units += UnitRec(kind, unitMs, unitOk)
  }

  /** Whether some of `kinds` has no unit yet. */
  def lacks(kinds: Iterable[String]): Boolean = kinds.exists(k => !units.exists(_.kind == k))

  /** Mix-weighted per-kind statistic over the units that succeeded: the
    * declared mix, not the one a short run happened to draw. Undefined, so
    * the run fails, when a kind has no successful unit. */
  def mixed(weights: Map[String, Double])(stat: Seq[Double] => Double): Double =
    weights.map { case (k, w) =>
      val xs = units.collect { case u if u.ok && u.kind == k => u.ms }.toSeq
      if (xs.isEmpty) throw new IllegalStateException(s"no successful $k unit to measure")
      w * stat(xs)
    }.sum

  def op[T](kind: String)(body: => T): T = {
    val gc0 = if (traced) Gc.totalMs else 0L
    val start = Clock.nowMs
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val end = Clock.nowMs
      unitMs += end - start
      val id = tracer.map(_.newId()).getOrElse(ops.size)
      val counts = mutable.Map[String, Double]()
      if (traced) counts ++= probe()
      ops += Op(Span(id, s"op.$kind", start, end, -1, id), kind, ok,
        if (traced) Gc.totalMs - gc0 else 0L, counts)
      if (!ok) unitOk = false
    }
  }

  /** Attaches counts (rows returned, compaction output, ...) to the last op. */
  def note(kv: (String, Double)*): Unit = ops.last.counts ++= kv

  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    unitOk = false
    ops.lastOption.foreach(_.ok = false)
    System.err.println(s"WRONG answer: $what")
  }
}

/** A fixed pure-JVM loop the program cannot speed up: a yardstick for how
  * hot the host is, recorded beside the metrics and never gated on. */
object Canary {
  @volatile private var sink = 0L
  private def once(): Double = {
    val t = System.nanoTime()
    var h = 0L
    var i = 0
    while (i < 20000000) { h = Gen.mix(h + i); i += 1 }
    sink ^= h
    (System.nanoTime() - t) / 1e6
  }
  def sample(): Seq[Double] = Seq.fill(5)(once())
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Main {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, work: String = "", scale: String = "full",
      spans: String = "", perturb: Boolean = false, digest: Boolean = false)

  private def parse(argv: Array[String]): Args = argv.grouped(2).foldLeft(Args()) {
    case (a, Array("--workload", v)) => a.copy(workload = v)
    case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
    case (a, Array("--seconds", v)) => a.copy(seconds = v.toInt)
    case (a, Array("--trace", v)) => a.copy(trace = v == "1")
    case (a, Array("--work", v)) => a.copy(work = v)
    case (a, Array("--scale", v)) => a.copy(scale = v)
    case (a, Array("--spans", v)) => a.copy(spans = v)
    case (a, Array("--perturb", v)) => a.copy(perturb = v == "1")
    case (a, Array("--digest", v)) => a.copy(digest = v == "1")
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** What one measured run leaves for the report. */
  final case class Run(stagingS: Double, warmS: Double, warm: Recorder, rec: Recorder,
      wl: Workload, tracer: Option[Tracer], finalFailures: Int, stored: Double)

  /** Stages the inputs, runs the warm pass, then the closed loop for
    * `a.seconds` (and on until every kind of the mix has a unit), then the
    * end-of-run checks. */
  def measure(spark: SparkSession, a: Args): Run = {
    val t0 = System.nanoTime()
    val wl = Workload(a.workload, spark, s"cat_${a.workload}", s"${a.work}/cat", a.seed, Sizes(a.scale), a.perturb)
    wl.setup()
    val stagingS = (System.nanoTime() - t0) / 1e9
    val warm = new Recorder(false, () => Map.empty, None)
    val t = System.nanoTime()
    wl.warm(warm)
    val warmS = (System.nanoTime() - t) / 1e9
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val rec = new Recorder(a.trace, () => wl.catalogCounts(), tracer)
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while ((System.nanoTime() < deadline || rec.lacks(wl.weights.keys)) && !wl.exhausted) {
      val kind = wl.nextKind()
      rec.unit(kind)(wl.step(rec, kind))
    }
    tracer.foreach(_.drain())
    tracer.foreach(_.uninstall())
    val finalFailures = wl.finish()
    Run(stagingS, warmS, warm, rec, wl, tracer, finalFailures, wl.storedBytesPerLiveRow())
  }

  /** Any failure ends the JVM with a non-zero code and no result line. */
  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }

  def run(a: Args): Unit = {
    if (a.digest) {
      // inputs and op mix of this seed, for the seed-sensitivity self-test
      println(Workload.digest(a.workload, a.seed, Sizes(a.scale)))
      return
    }
    if (a.workload == "train") {
      // one short tiny run of each measured workload: loads the classes
      // the build's class-data-sharing archive records
      val spark = session(a.work)
      Seq("compact", "read").foreach(w => measure(spark,
        a.copy(workload = w, scale = "tiny", seconds = 1, work = s"${a.work}/$w")))
      spark.stop()
      return
    }
    val canary0 = Canary.sample()
    val t0 = System.nanoTime()
    val spark = session(a.work)
    spark.range(1).collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val Run(stagingS, warmS, warm, rec, wl, tracer, finalFailures, stored) = measure(spark, a)
    val canary1 = Canary.sample()
    spark.stop()
    System.err.println(f"session ${sessionS}%.2f s, staging $stagingS%.2f s, warm pass $warmS%.2f s")

    val attempted = warm.units.size + rec.units.size + 1
    val failed = (warm.units ++ rec.units).count(!_.ok) + (if (finalFailures > 0) 1 else 0)
    val okMs = rec.units.collect { case u if u.ok => u.ms }.toSeq
    System.err.println("units (kind ms): " +
      rec.units.map(u => f"${u.kind} ${u.ms}%.0f").mkString(", "))
    val canaryMs = Stats.median(canary0 ++ canary1)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", sessionS + stagingS + warmS, "s"),
        ("op_ms_p50", rec.mixed(wl.weights)(Stats.median), "ms"),
        ("ops_per_s", 1000.0 / rec.mixed(wl.weights)(xs => xs.sum / xs.size), "1/s"),
        ("stored_bytes_per_live_row", stored, "B"))
      else {
        val (layers, report) = Report.layers(a.workload, a.seed, rec, tracer.get.spans)
        if (a.spans.nonEmpty) Files.write(Paths.get(a.spans), report.getBytes(StandardCharsets.UTF_8))
        layers ++ Seq(
          ("trace.op_ms_p50", rec.mixed(wl.weights)(Stats.median), "ms"),
          ("trace.op_ms_p90", Stats.quantile(okMs, 0.9), "ms"),
          ("host.canary_ms", canaryMs, "ms"))
      }

    println(f"workload ${a.workload} seed ${a.seed}: ${rec.units.size} units, " +
      f"${rec.ops.size} statements, $failed failed of $attempted attempted")
    println(f"host.canary_ms start ${Stats.median(canary0)}%.2f end ${Stats.median(canary1)}%.2f " +
      "(fixed JVM loop; a rise means a hot host, not slower code)")
    metrics.foreach { case (n, v, u) => println(f"  $n%-48s $v%16.4f $u") }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Report.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }
}
