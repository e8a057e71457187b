package graft.sources

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The commit paths' no-read-back probe: `(result, jobs started, data
  * records read)` while `body` runs. A write job reads its source once, so
  * records == source rows proves no read-back; the job count pins a
  * commit to its write job.
  */
object JobProbe {

  def apply[T](spark: SparkSession)(body: => T): (T, Int, Long) = {
    val jobs = new AtomicInteger()
    val records = new AtomicLong()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          records.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    val r =
      try { val v = body; awaitListenerBus(spark); v }
      finally spark.sparkContext.removeSparkListener(l)
    (r, jobs.get(), records.get())
  }

  /** `(result, stray jobs, data records read)` while `body` runs, where a
    * stray job is one started after `body`'s file write began that belongs
    * to a DIFFERENT SQL execution than that write — a read-back of the
    * written output shows up here, while the write's own stages (a
    * broadcast, the write job) and any planning before it do not.
    */
  def afterWrite[T](spark: SparkSession)(body: => T): (T, Int, Long) = {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    // in listener-bus order: Left(a write execution's id) / Right(a job's execution id)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[Either[Long, Option[Long]]]()
    val l = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: SparkListenerSQLExecutionStart
              if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
            events.add(Left(s.executionId))
          case _ => ()
        }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        events.add(Right(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)))
    }
    spark.sparkContext.addSparkListener(l)
    val (r, _, records) =
      try apply(spark)(body)
      finally spark.sparkContext.removeSparkListener(l)
    val seen = events.asScala.toSeq
    val stray = seen.collectFirst { case Left(id) => id } match {
      case None => throw new AssertionError("the probed body ran no file write")
      case Some(write) =>
        seen.dropWhile(_ != Left(write)).count {
          case Right(exec) => !exec.contains(write)
          case Left(_) => false
        }
    }
    (r, stray, records)
  }

  /** Drain the async listener bus before reading the counters — a fixed
    * sleep under-counts on a loaded box. `listenerBus` / `waitUntilEmpty`
    * are `private[spark]` (public bytecode), so reflection; the sleep stays
    * only as the fallback if either ever disappears.
    */
  private def awaitListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods.find(m =>
        m.getName == "waitUntilEmpty" && m.getParameterCount == 0) match {
        case Some(m) => m.invoke(bus); ()
        case None => Thread.sleep(500)
      }
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(500) }
}
