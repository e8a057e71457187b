package graftbench

import java.lang.management.ManagementFactory
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in epoch milliseconds. `parent` is the id of the
  * enclosing span (-1 for an op), `op` the id of the op it belongs to. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    var parent: Int, var op: Int, counts: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** A clock in epoch milliseconds with sub-millisecond resolution, so the
  * benchmark's own spans line up with Spark's listener timestamps. */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans from Spark's public listeners. The benchmark runs one op at a
  * time on one client thread, so a listener span belongs to the op whose
  * interval holds its midpoint; the asynchronous listener bus only has to
  * be drained once, at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  private val events = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private def id() = nextId.getAndIncrement()

  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, mutable.Map[String, Double]]()

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  /** One span per QueryExecution (`catalyst.query`) with its three
    * phases as children. */
  private def phases(qe: QueryExecution): Unit = {
    val qid = id()
    val ps = Seq("analysis", "optimization", "planning").flatMap { p =>
      qe.tracker.phases.get(p).map(s =>
        Span(id(), s"catalyst.$p", s.startTimeMs.toDouble, s.endTimeMs.toDouble, qid, -1))
    }
    if (ps.nonEmpty) {
      events.add(Span(qid, "catalyst.query", ps.map(_.start).min, ps.map(_.end).max, -1, -1))
      ps.foreach(events.add)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      jobTasks.put(e.jobId, mutable.Map.empty[String, Double])
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val job = stageJob.get(e.stageId)
      val acc = jobTasks.get(job)
      if (m != null && acc != null) acc.synchronized {
        def add(k: String, v: Double): Unit = acc(k) = acc.getOrElse(k, 0.0) + v
        add("executor_run_ms", m.executorRunTime.toDouble)
        add("executor_cpu_ms", m.executorCpuTime / 1e6)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("input_records", m.inputMetrics.recordsRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("output_records", m.outputMetrics.recordsWritten.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Option(jobStart.remove(e.jobId)).map(_.longValue()).getOrElse(e.time)
      val acc = Option(jobTasks.remove(e.jobId)).map(a => a.synchronized(a.toMap))
        .getOrElse(Map.empty[String, Double])
      events.add(Span(id(), "spark.job", start.toDouble, e.time.toDouble, -1, -1, acc))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      d.get("triggerExecution").foreach { trig =>
        val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
        events.add(Span(id(), "stream.trigger", start, start + trig, -1, -1, Map(
          "add_batch_ms" -> d.getOrElse("addBatch", 0L).toDouble,
          "rows" -> p.numInputRows.toDouble)))
      }
    }
  }

  def install(): Unit = {
    spark.listenerManager.register(queryListener)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until the listener bus has been quiet for a while: every event
    * of the ops already run has then been delivered. */
  def drain(): Unit = {
    var last = -1
    var quiet = 0
    while (quiet < 5) {
      Thread.sleep(100)
      val n = events.size()
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
  }

  def spans: Seq[Span] = events.asScala.toSeq
  def newId(): Int = id()
}

/** GC time so far, over every collector. */
object Gc {
  def totalMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
}

/** Splits each op's wall time into layers. The split is a partition of the
  * op's interval, so the parts add up to the wall time exactly: a moment
  * inside a Spark job is `spark.jobs.busy` (scan planning runs jobs inside
  * Catalyst's planning phase), else inside a Catalyst phase is that
  * phase's, else it is driver time before the first job, between jobs,
  * after the last job, or (for an op that ran no job) `other`.
  * Streaming triggers and GC are overlapping views, not parts.
  */
object Layers {
  val Parts: Seq[String] = Seq(
    "spark.catalyst.analysis_ms", "spark.catalyst.optimization_ms",
    "spark.catalyst.planning_ms", "spark.jobs.busy_ms", "driver.pre_job_ms",
    "driver.between_jobs_ms", "driver.post_job_ms", "other_ms")

  private val PhaseOrder = Seq("catalyst.analysis", "catalyst.optimization", "catalyst.planning")

  /** Assigns listener spans to ops (and stream jobs to their trigger). */
  def link(ops: Seq[Span], children: Seq[Span]): Unit = {
    val sorted = ops.sortBy(_.start).toArray
    val starts = sorted.map(_.start)
    def owner(t: Double): Option[Span] = {
      val i = java.util.Arrays.binarySearch(starts, t)
      val k = if (i >= 0) i else -i - 2
      if (k >= 0 && t <= sorted(k).end) Some(sorted(k)) else None
    }
    children.foreach(c => owner((c.start + c.end) / 2).foreach(o => c.op = o.id))
    val triggers = children.filter(t => t.name == "stream.trigger" && t.op >= 0)
    children.filter(c => c.op >= 0 && c.parent == -1).foreach { c =>
      c.parent = triggers.find(t => t.op == c.op && c.name != "stream.trigger" &&
        t.start <= c.start && c.end <= t.end).map(_.id).getOrElse(c.op)
    }
  }

  /** Layer milliseconds of one op, from its children. */
  def split(op: Span, kids: Seq[Span]): Map[String, Double] = {
    def clip(s: Span) = (math.max(op.start, s.start), math.min(op.end, s.end))
    val timed = kids.filter(k => k.name.startsWith("catalyst.") && k.name != "catalyst.query" ||
        k.name == "spark.job")
      .map(k => (k.name, clip(k))).filter { case (_, (a, b)) => b > a }
    val jobs = timed.filter(_._1 == "spark.job").map(_._2)
    val firstJob = if (jobs.isEmpty) Double.NaN else jobs.map(_._1).min
    val lastJob = if (jobs.isEmpty) Double.NaN else jobs.map(_._2).max
    val cuts = (Seq(op.start, op.end) ++ timed.flatMap { case (_, (a, b)) => Seq(a, b) })
      .distinct.sorted
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val m = (a + b) / 2
        def covers(n: String) = timed.exists { case (k, (x, y)) => k == n && x <= m && m <= y }
        val part = (if (covers("spark.job")) Some("spark.jobs.busy_ms") else None)
          .orElse(PhaseOrder.find(covers).map(p => s"spark.$p" + "_ms"))
          .getOrElse {
            if (jobs.isEmpty) "other_ms"
            else if (m < firstJob) "driver.pre_job_ms"
            else if (m > lastJob) "driver.post_job_ms"
            else "driver.between_jobs_ms"
          }
        out(part) += b - a
      case _ =>
    }
    Parts.map(p => p -> out(p)).toMap
  }

  /** Self time: duration minus the part of it covered by child spans. */
  def selfMs(s: Span, kids: Seq[Span]): Double = {
    val iv = kids.map(k => (math.max(s.start, k.start), math.min(s.end, k.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    s.dur - covered
  }
}
