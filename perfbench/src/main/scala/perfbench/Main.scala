package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload, time its closed loop for the
  * given number of seconds, check its outputs, and write the run's
  * samples and ledger as JSON for `run.py` to summarize.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --result <file>
  * }}}
  */
object Main {

  /** One timed call: `kind` is "op" (the workload's operation) or
    * "rerun" (the same operation on unchanged inputs); `rows` is the
    * input rows it handled.
    */
  final case class Sample(iter: Int, kind: String, name: String,
      seconds: Double, rows: Long, traced: Boolean)

  /** Shared state of one run. `traced` is flipped per loop iteration in a
    * traced run, so traced and untraced operations interleave.
    */
  final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
      val tracer: Tracer) {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val failures = mutable.ArrayBuffer.empty[String]
    /** Per-layer values noted in traced iterations, by metric name. */
    val notes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val extra = mutable.LinkedHashMap.empty[String, Double]
    var iter = 0

    def dir(rel: String): String = s"$work/$rel"

    /** Times `body` as one sample; in a traced iteration also wraps it in
      * a span and records its ledger row.
      */
    def timed[T](kind: String, name: String, rows: T => Long)(body: => T): T = {
      val traced = tracer.on
      val before = if (traced && kind == "op") Some(Ledger.snapshot(tracer)) else None
      val t0 = System.nanoTime()
      val out = tracer.span(s"$kind:$name")(body)
      val secs = (System.nanoTime() - t0) / 1e9
      samples += Sample(iter, kind, name, secs, rows(out), traced)
      before.foreach(Ledger.noteDelta(this, _))
      out
    }

    def fail(msg: String): Unit = { failures += msg; System.err.println(s"[perfbench] FAIL $msg") }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val workload = Workloads.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))

    val t0 = System.nanoTime()
    val spark = graft.Sessions.local("perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(record = trace)
    spark.sparkContext.addSparkListener(tracer)
    val ctx = new Ctx(spark, seed, work, tracer)
    try {
      // set-up: the inputs are generated several times (the figure is
      // their median; two of them also prove generation byte-identical),
      // then one warm-up
      val gens = (0 until Workloads.GenReps).map { rep =>
        val s0 = System.nanoTime()
        workload.generate(ctx, rep)
        (System.nanoTime() - s0) / 1e9
      }
      val digests = (0 until 2).map(workload.inputDigest(ctx, _))
      if (digests.distinct.size != 1)
        ctx.fail(s"same seed gave different inputs: ${digests.mkString(" ")}")
      val w0 = System.nanoTime()
      workload.warmUp(ctx)
      val warmS = (System.nanoTime() - w0) / 1e9

      val loop0 = System.nanoTime()
      var iter = 0
      // at least two iterations, so every call name has two samples even
      // when one iteration outlasts the run; a traced run alternates
      // untraced and traced iterations, starting untraced
      while (iter < 2 || (System.nanoTime() - loop0) / 1e9 < seconds) {
        tracer.on = trace && iter % 2 == 1
        ctx.iter = iter
        try workload.iterate(ctx, iter)
        finally tracer.on = false
        iter += 1
      }
      val loopS = (System.nanoTime() - loop0) / 1e9
      workload.check(ctx)
      if (trace) workload.negativeCheck(ctx)

      val out = Json.obj(
        "workload" -> Json.str(name),
        "seed" -> Json.num(seed.toDouble),
        "session_s" -> Json.num(sessionS),
        "generate_s" -> Json.arr(gens.map(Json.num)),
        "warmup_s" -> Json.num(warmS),
        "loop_s" -> Json.num(loopS),
        "iterations" -> Json.num(iter.toDouble),
        "samples" -> Json.arr(ctx.samples.toSeq.map(s => Json.obj(
          "iter" -> Json.num(s.iter), "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
          "seconds" -> Json.num(s.seconds), "rows" -> Json.num(s.rows.toDouble),
          "traced" -> Json.bool(s.traced)))),
        "failures" -> Json.arr(ctx.failures.toSeq.map(Json.str)),
        "extra" -> Json.obj(ctx.extra.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
        "peak_rss_mb" -> Json.num(Ledger.peakRssMb()),
        "trace" -> (if (trace) Ledger.report(ctx, name, s"$work/trace_spans.json")
          else Json.obj()))
      Files.writeString(Paths.get(opts("result")), out)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Runtime.getRuntime.halt(1)
    }
    // exit without Spark's shutdown, which deletes its block-manager
    // directories: unlinking thousands of files is slow on disks mounted
    // with online discard, and would stall the next run
    Runtime.getRuntime.halt(0)
  }
}

/** Minimal JSON writer (the run's result file is read by `run.py`). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
