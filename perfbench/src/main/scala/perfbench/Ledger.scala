package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkBridge

import Main.Ctx

/** Per-layer ledger of a traced run. Values noted by the workloads
  * (probe timings, write ledgers, ratios) and values derived from the
  * tracer (jobs, tasks, stages, job time per layer, Spark-driver time) are
  * averaged over the run's traced operations.
  */
object Ledger {

  /** Every per-layer metric, with its unit. Metrics of a layer a workload
    * does not reach read 0 on it.
    */
  val Units: Seq[(String, String)] = Seq(
    "EntitySource.catalog_s" -> "s",
    "EntitySource.column_types_s" -> "s",
    "EntitySource.calls_per_run" -> "count",
    "ExtractPipeline.jobs_per_run" -> "count",
    "ExtractPipeline.tasks_per_run" -> "count",
    "ExtractPipeline.driver_s" -> "s",
    "ExtractPipeline.loop_write_s" -> "s",
    "Transforms.rows_per_s" -> "rows/s",
    "BulkWriter.job_s" -> "s",
    "BulkWriter.files_written" -> "count",
    "BulkWriter.bytes_written" -> "bytes",
    "BulkWriter.bytes_per_row" -> "bytes",
    "BulkWriter.empty_fragments" -> "count",
    "BulkWriter.shuffle_write_bytes" -> "bytes",
    "BulkWriter.spill_bytes" -> "bytes",
    "MetadataSink.incremental_s" -> "s",
    "MetadataSink.full_rebuild_s" -> "s",
    "MetadataSink.prune_s" -> "s",
    "MetadataSink.fragments" -> "count",
    "fs.write_ops" -> "count",
    "fs.bytes_read" -> "bytes",
    "fs.bytes_written" -> "bytes",
    "rerun.jobs" -> "count",
    "rerun.fs_write_ops" -> "count",
    "spark.jobs_per_op" -> "count",
    "spark.busy_share" -> "ratio",
    "spark.stages_per_run" -> "count",
    "spark.task_gc_s" -> "s",
    "jvm.gc_s" -> "s",
    "jvm.peak_rss_mb" -> "MB",
    "IngestionPipeline.jobs_per_batch" -> "count",
    "IngestionPipeline.admitted_share" -> "ratio",
    "IngestionPipeline.admitted_base" -> "count",
    "Dedup.job_s" -> "s",
    "Dedup.candidate_groups_per_doc" -> "ratio",
    "Dedup.candidate_groups_base" -> "count",
    "trace.ops" -> "count",
    "trace.overhead_share" -> "ratio",
    "trace.attributed_share" -> "ratio",
    "trace.span_fallback_share" -> "ratio") ++
    Funnels.Queries.flatMap(q => Seq(
      s"dedup_funnels.$q.build_s" -> "s", s"dedup_funnels.$q.plan_s" -> "s",
      s"dedup_funnels.$q.exec_s" -> "s", s"dedup_funnels.$q.jobs" -> "count"))

  def note(ctx: Ctx, metric: String, value: Double): Unit =
    ctx.notes.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += value

  final case class Snap(fsBytes: (Long, Long), gcMs: Long)

  def snapshot(t: Tracer): Snap = Snap(t.fsBytes(), t.gcMs())

  /** FS byte and GC deltas of one traced operation. */
  def noteDelta(ctx: Ctx, before: Snap): Unit = {
    val now = snapshot(ctx.tracer)
    note(ctx, "fs.bytes_read", now.fsBytes._1 - before.fsBytes._1)
    note(ctx, "fs.bytes_written", now.fsBytes._2 - before.fsBytes._2)
    note(ctx, "jvm.gc_s", (now.gcMs - before.gcMs) / 1e3)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Length of the union of intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }

  /** Derives the tracer-side metrics, writes the span and job dump to
    * `spansFile`, and returns the traced ledger as JSON.
    */
  def report(ctx: Ctx, workload: String, spansFile: String): String = {
    val t = ctx.tracer
    SparkBridge.drainListeners(ctx.spark.sparkContext)
    val spans = t.spans.toSeq
    val allJobs = t.jobs.values.asScala.toSeq.filter(_.endMs >= 0).sortBy(_.id)
    val cores = ctx.spark.sparkContext.defaultParallelism
    val msNs = 1000000L
    def jobNs(j: Tracer.Job) = (j.startMs * msNs, j.endMs * msNs)
    /** Innermost span open when a job started (spans nest, so the latest
      * starting one that contains the job's start).
      */
    def spanOf(j: Tracer.Job): Option[Tracer.Span] =
      spans.filter(s => s.startNs - msNs <= j.startMs * msNs && j.startMs * msNs <= s.endNs + msNs)
        .maxByOption(_.startNs)
    def layerFromSpans(s: Option[Tracer.Span]): String = {
      // a benchmark span names its layer as "Layer.call"; op spans and
      // the funnel build/plan/exec spans stand for the workload's layer
      var cur = s
      var found = ""
      while (found.isEmpty && cur.isDefined) {
        val n = cur.get.name
        if (n.contains('.') && !n.contains(':')) found = n.takeWhile(_ != '.')
        else cur = spans.lift(cur.get.parent)
      }
      if (found.nonEmpty) found
      else workload match {
        case "dedup_funnels" => "Dedup"
        case "ingest_admission" => "IngestionPipeline"
        case _ => "ExtractPipeline"
      }
    }
    def within(s: Tracer.Span)(j: Tracer.Job) =
      j.startMs * msNs >= s.startNs - msNs && j.startMs * msNs <= s.endNs
    // timed calls: "op:<name>" and "rerun:<name>" spans
    val calls = spans.filter(_.name.contains(':'))
    // the listener saw every job of the run; the traced ones started
    // inside a span
    val jobs = allJobs.filter(j => spanOf(j).isDefined)
    // a job with no engine frame (one the benchmark's own action started,
    // such as a funnel query's noop write) takes the layer most of its
    // call's other jobs have, else the span's
    def opOf(j: Tracer.Job) = calls.find(within(_)(j)).map(_.id)
    val framed = jobs.filter(_.frame.nonEmpty).groupBy(opOf).collect {
      case (Some(op), js) => op -> js.groupBy(j => Tracer.layerOf(j.frame)).maxBy(_._2.size)._1 }
    val jobLayer: Map[Int, (String, Boolean)] = jobs.map { j =>
      val l = Tracer.layerOf(j.frame)
      j.id -> (if (l.nonEmpty) (l, true)
        else (opOf(j).flatMap(framed.get).getOrElse(layerFromSpans(spanOf(j))), false))
    }.toMap

    def stagesOf(js: Seq[Tracer.Job]) =
      js.flatMap(_.stageIds).flatMap(id => Option(t.stages.get(id)))
    def jobS(js: Seq[Tracer.Job]) = js.map(j => (j.endMs - j.startMs) / 1e3).sum

    val extract = workload.startsWith("extract")
    val ops = spans.filter(_.name.startsWith("op:"))
    ops.foreach { s =>
      val js = jobs.filter(within(s))
      val st = stagesOf(js)
      val durS = (s.endNs - s.startNs) / 1e9
      val driverS = (s.endNs - s.startNs -
        covered(js.map(jobNs).map { case (a, b) =>
          (math.max(a, s.startNs), math.min(b, s.endNs)) })) / 1e9
      def layerJobs(l: String) = js.filter(j => jobLayer(j.id)._1 == l)
      note(ctx, "spark.jobs_per_op", js.size)
      note(ctx, "spark.stages_per_run", st.size)
      note(ctx, "spark.busy_share", st.map(_.runMs).sum / 1e3 / (durS * cores))
      note(ctx, "spark.task_gc_s", st.map(_.gcMs).sum / 1e3)
      val bw = layerJobs("BulkWriter")
      note(ctx, "BulkWriter.job_s", jobS(bw))
      note(ctx, "BulkWriter.shuffle_write_bytes", stagesOf(bw).map(_.shuffleWrite).sum)
      note(ctx, "BulkWriter.spill_bytes", stagesOf(bw).map(_.spill).sum)
      note(ctx, "Dedup.job_s", jobS(layerJobs("Dedup")))
      if (extract) {
        val src = spans.filter(c => c.name.startsWith("EntitySource.") &&
          c.startNs >= s.startNs && c.endNs <= s.endNs)
        def srcS(n: String) = src.filter(_.name == n).map(c => (c.endNs - c.startNs) / 1e9).sum
        note(ctx, "EntitySource.catalog_s", srcS("EntitySource.catalog"))
        note(ctx, "EntitySource.column_types_s", srcS("EntitySource.columnTypes"))
        note(ctx, "EntitySource.calls_per_run", src.size)
        note(ctx, "ExtractPipeline.jobs_per_run", js.size)
        note(ctx, "ExtractPipeline.tasks_per_run", st.map(_.tasks).sum)
        note(ctx, "ExtractPipeline.driver_s", driverS)
        note(ctx, "ExtractPipeline.loop_write_s", jobS(layerJobs("ExtractPipeline")))
      }
      if (workload == "ingest_admission")
        note(ctx, "IngestionPipeline.jobs_per_batch", js.size)
      if (workload == "dedup_funnels")
        note(ctx, s"dedup_funnels.${s.name.stripPrefix("op:")}.jobs", js.size)
    }
    spans.filter(_.name.startsWith("rerun:")).foreach(s =>
      note(ctx, "rerun.jobs", jobs.count(within(s))))
    note(ctx, "trace.ops", ops.size)
    note(ctx, "jvm.peak_rss_mb", peakRssMb())

    // tracing overhead: per operation name, traced median over untraced
    // median, summed over names seen both ways
    val byName = ctx.samples.filter(_.kind == "op").groupBy(_.name).values.toSeq
    val pairs = byName.flatMap { xs =>
      val (tr, un) = xs.partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some((median(tr.map(_.seconds).toSeq), median(un.map(_.seconds).toSeq)))
    }
    if (pairs.nonEmpty) note(ctx, "trace.overhead_share", pairs.map(_._1).sum / pairs.map(_._2).sum - 1)

    // attribution over the jobs of every traced call: a job counts as
    // attributed when it has an engine frame, its own or its SQL
    // execution's; the rest are given a layer by the span fallback above
    val callJobs = jobs.filter(j => calls.exists(s => within(s)(j)))
    val totalS = jobS(callJobs)
    if (totalS > 0) {
      val framedS = jobS(callJobs.filter(j => jobLayer(j.id)._2))
      note(ctx, "trace.attributed_share", framedS / totalS)
      note(ctx, "trace.span_fallback_share", 1 - framedS / totalS)
    }

    // self time per layer: a span's duration minus what its child spans
    // and the jobs started inside it cover
    val selfByLayer = mutable.LinkedHashMap.empty[String, Double]
    val kids = spans.groupBy(_.parent)
    val jobsBySpan = jobs.groupBy(j => spanOf(j).map(_.id).getOrElse(-1))
    spans.foreach { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)) ++
        jobsBySpan.getOrElse(s.id, Nil).map(jobNs)
      val clipped = iv.map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
        .filter { case (a, b) => b > a }
      val self = (s.endNs - s.startNs - covered(clipped)) / 1e9
      val layer = if (s.name.contains(':')) "benchmark" else s.name.takeWhile(_ != '.')
      selfByLayer(layer) = selfByLayer.getOrElse(layer, 0.0) + self
    }
    val jobByLayer = jobs.groupBy(j => jobLayer(j.id)._1).view
      .mapValues(js => jobS(js)).toSeq.sortBy(-_._2)

    val dump = Json.obj(
      "spans" -> Json.arr(spans.map(s => Json.obj("id" -> Json.num(s.id),
        "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
        "start_ns" -> Json.num(s.startNs.toDouble), "end_ns" -> Json.num(s.endNs.toDouble)))),
      "jobs" -> Json.arr(jobs.map(j => Json.obj("id" -> Json.num(j.id),
        "start_ms" -> Json.num(j.startMs.toDouble), "end_ms" -> Json.num(j.endMs.toDouble),
        "frame" -> Json.str(j.frame), "layer" -> Json.str(jobLayer(j.id)._1),
        "span" -> Json.num(spanOf(j).map(_.id).getOrElse(-1).toDouble)))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(spansFile), dump)

    val metrics = Units.map { case (n, u) =>
      val v = ctx.notes.get(n).filter(_.nonEmpty).map(xs => xs.sum / xs.size).getOrElse(0.0)
      n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
    }
    val unknown = ctx.notes.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"ledger metrics without a unit: $unknown")
    Json.obj(
      "metrics" -> Json.obj(metrics: _*),
      "self_time_s" -> Json.obj(selfByLayer.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "job_time_s" -> Json.obj(jobByLayer.map { case (k, v) => k -> Json.num(v) }: _*),
      "spans" -> Json.num(spans.size),
      "jobs" -> Json.num(jobs.size))
  }
}
