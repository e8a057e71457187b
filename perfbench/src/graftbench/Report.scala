package graftbench

import scala.collection.mutable

/** Turns the traced run's ops and listener spans into the per-layer
  * metrics, a per-op-kind breakdown, and the span side file. */
object Report {
  /** Every per-layer metric, in the order printed. */
  val PerLayer: Seq[(String, String)] = Seq(
    "trace.statement_ms" -> "ms",
    "spark.catalyst.analysis_ms" -> "ms", "spark.catalyst.optimization_ms" -> "ms",
    "spark.catalyst.planning_ms" -> "ms", "spark.catalyst.query_count" -> "count",
    "spark.jobs.job_count" -> "count", "spark.jobs.busy_ms" -> "ms",
    "spark.jobs.executor_run_ms" -> "ms", "spark.jobs.executor_cpu_ms" -> "ms",
    "spark.jobs.input_bytes" -> "B", "spark.jobs.input_records" -> "count",
    "spark.jobs.shuffle_write_bytes" -> "B", "spark.jobs.output_bytes" -> "B",
    "spark.jobs.output_records" -> "count", "spark.jobs.spill_bytes" -> "B",
    "driver.pre_job_ms" -> "ms", "driver.between_jobs_ms" -> "ms",
    "driver.post_job_ms" -> "ms", "other_ms" -> "ms",
    "graft.sources.dsv2.rows_scanned_per_row_returned" -> "ratio",
    "graft.sources.GraftCatalog.data_files" -> "count",
    "graft.sources.GraftCatalog.delete_files" -> "count",
    "graft.sources.GraftCatalog.snapshot_count" -> "count",
    "graft.sources.GraftCatalog.stored_bytes" -> "B",
    "graft.sources.CompactionRunner.rows_in" -> "count",
    "graft.sources.CompactionRunner.rows_out" -> "count",
    "graft.sources.CompactionRunner.rows_masked" -> "count",
    "graft.sources.CompactionRunner.rewritten_files" -> "count",
    "graft.sources.CompactionRunner.added_files" -> "count",
    "graft.sources.CompactionRunner.rewritten_bytes" -> "B",
    "graft.sources.CompactionRunner.failed_files" -> "count",
    "graft.sources.CompactionRunner.bytes_written_per_live_byte" -> "ratio",
    "graft.sources.CompactionRunner.rows_per_s" -> "rows/s",
    "graft.streaming.trigger_ms" -> "ms", "graft.streaming.add_batch_ms" -> "ms",
    "graft.streaming.overhead_ms" -> "ms", "graft.streaming.batches" -> "count",
    "graft.streaming.rows_per_s" -> "rows/s",
    "jvm.gc_ms" -> "ms")

  private val JobCounts = Seq("executor_run_ms", "executor_cpu_ms", "input_bytes",
    "input_records", "shuffle_write_bytes", "output_bytes", "output_records", "spill_bytes")

  /** Layer values of one op: the wall-time partition plus the counts. */
  private def perOp(op: Recorder#Op, kids: Seq[Span]): Map[String, Double] = {
    val jobs = kids.filter(_.name == "spark.job")
    val triggers = kids.filter(_.name == "stream.trigger")
    val trig = triggers.map(_.dur).sum
    val add = triggers.map(_.counts.getOrElse("add_batch_ms", 0.0)).sum
    Layers.split(op.span, kids) ++
      JobCounts.map(k => s"spark.jobs.$k" -> jobs.map(_.counts.getOrElse(k, 0.0)).sum) ++
      Map(
        "trace.statement_ms" -> op.span.dur,
        "spark.catalyst.query_count" -> kids.count(_.name == "catalyst.query").toDouble,
        "spark.jobs.job_count" -> jobs.size.toDouble,
        "graft.streaming.trigger_ms" -> trig,
        "graft.streaming.add_batch_ms" -> add,
        "graft.streaming.overhead_ms" -> (trig - add),
        "graft.streaming.batches" -> triggers.size.toDouble,
        "stream_rows" -> triggers.map(_.counts.getOrElse("rows", 0.0)).sum,
        "jvm.gc_ms" -> op.gcMs.toDouble) ++
      op.counts
  }

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def layers(workload: String, seed: Long, rec: Recorder, spans: Seq[Span])
      : (Seq[(String, Double, String)], String) = {
    val ops = rec.ops.toSeq
    Layers.link(ops.map(_.span), spans)
    val kidsOf = spans.groupBy(_.op)
    val vals = ops.map(o => o -> perOp(o, kidsOf.getOrElse(o.span.id, Nil)))
    def avg(sel: Seq[(Recorder#Op, Map[String, Double])], k: String) =
      mean(sel.map(_._2.getOrElse(k, 0.0)))
    def sum(sel: Seq[(Recorder#Op, Map[String, Double])], k: String) =
      sel.map(_._2.getOrElse(k, 0.0)).sum
    def rate(sel: Seq[(Recorder#Op, Map[String, Double])], k: String) = {
      val s = sel.map(_._1.span.dur).sum / 1000.0
      if (s > 0) sum(sel, k) / s else 0.0
    }
    val compact = vals.filter(_._1.kind == "compact")
    val ingest = vals.filter(_._1.kind == "ingest")
    val reads = vals.filter(_._2.contains("rows_returned"))
    val last = vals.lastOption.map(_._2).getOrElse(Map.empty)
    val c = "graft.sources.CompactionRunner."
    // rows the compaction's jobs read, as Spark's listener counts them
    val rowsIn = sum(compact, "spark.jobs.input_records")
    val liveInBytes = sum(compact, "rewritten_bytes") *
      (if (rowsIn > 0) sum(compact, "rows_out") / rowsIn else 0.0)
    val special: Map[String, Double] = Map(
      "graft.sources.dsv2.rows_scanned_per_row_returned" -> {
        val ret = sum(reads, "rows_returned")
        if (ret > 0) sum(reads, "spark.jobs.input_records") / ret else 0.0
      },
      s"${c}rows_in" -> avg(compact, "spark.jobs.input_records"),
      s"${c}rows_out" -> avg(compact, "rows_out"),
      s"${c}rows_masked" -> (avg(compact, "spark.jobs.input_records") - avg(compact, "rows_out")),
      s"${c}rewritten_files" -> avg(compact, "rewritten_files"),
      s"${c}added_files" -> avg(compact, "added_files"),
      s"${c}rewritten_bytes" -> avg(compact, "rewritten_bytes"),
      s"${c}failed_files" -> avg(compact, "failed_files"),
      s"${c}bytes_written_per_live_byte" ->
        (if (liveInBytes > 0) sum(compact, "added_bytes") / liveInBytes else 0.0),
      s"${c}rows_per_s" -> rate(compact, "rows_out"),
      "graft.streaming.trigger_ms" -> avg(ingest, "graft.streaming.trigger_ms"),
      "graft.streaming.add_batch_ms" -> avg(ingest, "graft.streaming.add_batch_ms"),
      "graft.streaming.overhead_ms" -> avg(ingest, "graft.streaming.overhead_ms"),
      "graft.streaming.batches" -> avg(ingest, "graft.streaming.batches"),
      "graft.streaming.rows_per_s" -> rate(ingest, "stream_rows")) ++
      PerLayer.map(_._1).filter(_.startsWith("graft.sources.GraftCatalog."))
        .map(k => k -> last.getOrElse(k, 0.0))
    val metrics = PerLayer.map { case (k, u) => (k, special.getOrElse(k, avg(vals, k)), u) }

    // per op kind: the partition, which sums to the wall time exactly
    val kinds = vals.groupBy(_._1.kind).toSeq.sortBy(_._1)
    val kindRows = kinds.map { case (kind, sel) =>
      val parts = Layers.Parts.map(p => p -> avg(sel, p))
      val wall = avg(sel, "trace.statement_ms")
      System.err.println(f"$kind%-9s n=${sel.size}%4d wall ${wall}%9.2f ms = " +
        parts.filter(_._2 > 0).map { case (p, v) => f"$p $v%.2f" }.mkString(" + ") +
        f" (sum ${parts.map(_._2).sum}%.2f)")
      s""""$kind": {"n": ${sel.size}, "wall_ms": ${num(wall)}, """ +
        (parts ++ Seq("jvm.gc_ms", "spark.jobs.job_count", "spark.catalyst.query_count")
          .map(k => k -> avg(sel, k))).map { case (p, v) => s""""$p": ${num(v)}""" }
          .mkString(", ") + "}"
    }
    val selfOf = spans.groupBy(_.parent)
    val spanRows = (ops.map(_.span) ++ spans.filter(_.op >= 0)).map { s =>
      val kind = ops.find(_.span.id == s.op).map(_.kind).getOrElse("")
      s"""{"id": ${s.id}, "name": "${s.name}", "kind": "$kind", "start": ${num(s.start)}, """ +
        s""""end": ${num(s.end)}, "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""self_ms": ${num(Layers.selfMs(s, selfOf.getOrElse(s.id, Nil)))}}"""
    }
    val side = s"""{"workload": "$workload", "seed": $seed, "kinds": {${kindRows.mkString(", ")}},\n""" +
      s""""spans": [\n${spanRows.mkString(",\n")}\n]}\n"""
    (metrics, side)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric value $v")
    else java.lang.Double.toString(v)
}
