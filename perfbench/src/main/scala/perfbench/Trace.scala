package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.extract.{CatalogEntry, EntitySource}

/** Out-of-program tracing: spans the benchmark opens around each call it
  * makes into the engine, Spark jobs seen by a listener (each attributed
  * to the innermost `graft.` frame of its call site), Hadoop FileSystem
  * statistics and JVM GC time. Everything is kept in memory and written
  * once at the end. Spans are opened only while `on`, so the same code
  * path runs traced and untraced operations. With `record` the listener
  * keeps every job and stage of the run, whenever the asynchronous bus
  * delivers it; the span time windows decide which call a job belongs to.
  */
final class Tracer(record: Boolean) extends SparkListener {
  import Tracer._

  @volatile var on = false

  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  /** Wall clock in ns, on the same epoch as the listener's ms stamps. */
  def nowNs(): Long = epochNs0 + (System.nanoTime() - nano0)

  val spans = mutable.ArrayBuffer.empty[Span]
  private val local = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val mainThread = Thread.currentThread()
  @volatile private var mainTop = -1
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, StageStats]()
  /** SQL execution id -> innermost engine frame of the call that started it. */
  private val executions = new ConcurrentHashMap[Long, String]()

  /** Runs `body` inside a span named `name`, when tracing is on. A span
    * opened on an engine pool thread (a decorated source call from
    * `ExtractPipeline`'s table pool) is parented to the innermost open
    * span of the benchmark's own thread.
    */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = local.get.headOption.getOrElse(mainTop)
      val s = spans.synchronized {
        val s = Span(spans.size, parent, name, nowNs(), 0L)
        spans += s
        s
      }
      val isMain = Thread.currentThread() eq mainThread
      local.set(s.id :: local.get)
      if (isMain) mainTop = s.id
      try body
      finally {
        s.endNs = nowNs()
        local.set(local.get.tail)
        if (isMain) mainTop = local.get.headOption.getOrElse(-1)
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
    val details = e.stageInfos.headOption.map(_.details).getOrElse("")
    // jobs that AQE submits from its own pool (query-stage
    // materialization) carry no engine frame; they inherit the one of the
    // SQL execution they belong to
    val own = Tracer.innermostGraftFrame(details)
    val frame =
      if (own.nonEmpty || e.properties == null) own
      else Option(e.properties.getProperty("spark.sql.execution.id"))
        .flatMap(id => Option(executions.get(id.toLong))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L, frame, e.stageIds))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if record =>
      val f = Tracer.innermostGraftFrame(x.details)
      val root = x.rootExecutionId.flatMap(r => Option(executions.get(r)))
      (if (f.nonEmpty) Some(f) else root).foreach(executions.put(x.executionId, _))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (record) {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.put(i.stageId, StageStats(i.numTasks, m.executorRunTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Hadoop local-FS byte counters: (bytes read, bytes written). Its op
    * counters are left out: the local file system never increments them.
    */
  def fsBytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
}

object Tracer {

  final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, var endNs: Long)

  final case class Job(id: Int, startMs: Long, var endMs: Long,
      frame: String, stageIds: Seq[Int])

  final case class StageStats(tasks: Int, runMs: Long, gcMs: Long,
      shuffleWrite: Long, spill: Long)

  /** Engine objects whose names differ from the layer they implement. */
  private val LayerAlias = Map("ParquetEntitySource" -> "EntitySource")

  /** Innermost engine frame of a job's long call site
    * (`StageInfo.details` lists frames innermost first), e.g.
    * `graft.extract.BulkWriter$.writeTagged(BulkWriter.scala:90)`; empty
    * when the job was started outside the engine. The short call site is
    * useless here: jobs submitted from a thread pool report
    * `CompletableFuture.java`.
    */
  def innermostGraftFrame(details: String): String =
    // the benchmark's own `Tables.widthScoped` wrapper around a query's
    // execution is not the engine starting the job
    details.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.sources.Tables$.widthScoped"))
      .getOrElse("")

  /** Layer (engine object) of a frame: `graft.extract.BulkWriter$.x(...)`
    * gives `BulkWriter`.
    */
  def layerOf(frame: String): String =
    if (frame.isEmpty) ""
    else {
      val cls = frame.takeWhile(_ != '(').split('.').dropRight(1).lastOption
        .getOrElse("")
      val obj = cls.takeWhile(_ != '$')
      LayerAlias.getOrElse(obj, obj)
    }
}

/** Timing decorator around an [[EntitySource]]: the per-call cost of
  * catalog and `information_schema` reads, seen from outside the engine.
  */
final class TimedSource(inner: EntitySource, tracer: Tracer) extends EntitySource {
  override def catalog(spark: SparkSession): Map[String, CatalogEntry] =
    tracer.span("EntitySource.catalog")(inner.catalog(spark))
  override def tableNames(spark: SparkSession, schema: String): Seq[String] =
    inner.tableNames(spark, schema)
  override def columnTypes(spark: SparkSession, schema: String,
      table: String): Map[String, String] =
    tracer.span("EntitySource.columnTypes")(inner.columnTypes(spark, schema, table))
  override def scanRange(spark: SparkSession, schema: String, table: String,
      start: Long, end: Long): DataFrame =
    inner.scanRange(spark, schema, table, start, end)
}
