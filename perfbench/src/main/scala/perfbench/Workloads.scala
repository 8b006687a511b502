package perfbench

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.extract.{ExtractPipeline, IngestionPipeline, MetadataSink,
  ParquetEntitySource}
import graft.functions.Transforms
import graft.model.{ColumnMapping, ExtractConfig, TableConfig, TargetType}
import graft.plans.{Partition, Partitioner, Watermark}
import graft.sources.Tables

import Main.Ctx

/** A workload: set-up (input generation, then a warm-up), one iteration
  * of its closed loop, and its output checks. The loop is one client
  * thread issuing the next call only after the previous one returned.
  * Inputs are generated [[Workloads.GenReps]] times, each into its own
  * directory; the last generation is the one the workload uses.
  */
trait Workload {
  protected def inputs(ctx: Ctx, rep: Int): String
  def generate(ctx: Ctx, rep: Int): Unit
  /** Digest of the inputs generation `rep` wrote. */
  def inputDigest(ctx: Ctx, rep: Int): String = Inputs.digest(inputs(ctx, rep))
  /** The inputs the timed loop uses. */
  def src(ctx: Ctx): String = inputs(ctx, Workloads.GenReps - 1)
  /** Untimed first pass, so the timed loop runs warm. */
  def warmUp(ctx: Ctx): Unit
  def iterate(ctx: Ctx, iter: Int): Unit
  def check(ctx: Ctx): Unit
  /** Shows the checks catch a broken output (traced runs only). */
  def negativeCheck(ctx: Ctx): Unit = ()
}

object Workloads {

  val GenReps = 3

  val byName: Map[String, Workload] = Map(
    "extract_backfill" -> new Backfill,
    "ingest_admission" -> new Ingest,
    "dedup_funnels" -> new Funnels)

  def conf(ctx: Ctx) = ctx.spark.sparkContext.hadoopConfiguration

  /** New fragment files (and their bytes) under `root` modified at or
    * after `sinceMs`, and how many of them hold no rows.
    */
  def written(ctx: Ctx, root: String, sinceMs: Long): (Int, Long, Int) = {
    import scala.jdk.CollectionConverters._
    val files = FileUtils.listFiles(new File(root), Array("parquet"), true)
      .asScala.filter(f => f.lastModified() >= sinceMs &&
        !f.getName.startsWith("_") && !f.getName.startsWith(".")).toSeq
    val empty = files.count { f =>
      org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf(ctx),
        new org.apache.hadoop.fs.Path(f.getPath),
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.map(_.getRowCount).sum == 0
    }
    (files.size, files.map(_.length).sum, empty)
  }

  /** MetadataSink probes on one table directory: the incremental overload
    * (one rewritten tile), the full plan-scoped rebuild, and the prune;
    * each leaves `_metadata` byte-equivalent to what the run wrote.
    */
  def metadataProbes(ctx: Ctx, tDir: String, plan: Vector[Partition]): Unit = {
    val c = conf(ctx)
    def t(metric: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); ctx.tracer.span(metric)(body)
      Ledger.note(ctx, metric, (System.nanoTime() - t0) / 1e9)
    }
    t("MetadataSink.incremental_s")(MetadataSink.writeMetadata(tDir, plan, plan.takeRight(1), c))
    t("MetadataSink.full_rebuild_s")(MetadataSink.writeMetadata(tDir, plan, c))
    t("MetadataSink.prune_s")(MetadataSink.pruneStalePartitions(tDir, plan, c))
    Ledger.note(ctx, "MetadataSink.fragments", MetadataSink.fragmentPaths(tDir, c).size)
  }

  /** Files under `root` created or rewritten at or after `sinceMs`,
    * `_metadata`, watermark and checksum files included, noted as the
    * call's write ops (the local file system keeps no op count).
    */
  def noteWriteOps(ctx: Ctx, kind: String, root: String, sinceMs: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val n = FileUtils.listFiles(new File(root), null, true).asScala.count(_.lastModified() >= sinceMs)
    Ledger.note(ctx, if (kind == "op") "fs.write_ops" else "rerun.fs_write_ops", n)
  }

  /** BulkWriter output ledger for one operation. */
  def writeLedger(ctx: Ctx, root: String, sinceMs: Long, rows: Long): Unit = {
    val (files, bytes, empty) = written(ctx, root, sinceMs)
    Ledger.note(ctx, "BulkWriter.files_written", files)
    Ledger.note(ctx, "BulkWriter.bytes_written", bytes)
    Ledger.note(ctx, "BulkWriter.empty_fragments", empty)
    if (rows > 0) Ledger.note(ctx, "BulkWriter.bytes_per_row", bytes.toDouble / rows)
  }
}

/** Graph-node fixture and extract configuration. Blocks span ~2.1M, with
  * tiers [262144, 16384, 1024].
  */
object ExtractSetup {
  val Tiers = Seq(262144L, 16384L, 1024L)
  val Earliest = 9765L * 1024
  val Shape = Inputs.GraphShape(rowsPerTable = 50000, earliest = Earliest,
    spanBlocks = 2100000L)
  /** Head of the backfill: mid-way into the 8th 16384 tile of the last
    * 262144 tile the rows cover, so the backfill plans 7 + 7 + 8 = 22
    * tiles per table and takes the bulk sink.
    */
  val Head0 = 45L * 262144 + 7 * 16384 + 8192

  val Config = ExtractConfig(name = "bench", version = "1", subgraph = Inputs.Subgraph,
    tables = Inputs.EntityTables.map(t => t -> TableConfig(Tiers,
      Map("amount" -> Seq(
        ColumnMapping("amount_gwei_u64", TargetType.UInt64,
          downscale = Some(BigInt(1000000000L)),
          maxValue = Some(BigInt("18446744073709551615")),
          default = Some(BigInt(0)), validityColumn = Some("amount_valid")))))).toMap)

  def root(out: String) = s"$out/${Config.name}/${Config.version}"
  def tableDir(out: String, t: String) =
    Partitioner.tableDir(root(out), Inputs.Subgraph, t)

  def source(ctx: Ctx, src: String) =
    new TimedSource(new ParquetEntitySource(src), ctx.tracer)

  /** One extract run, timed as a sample; in traced iterations also its
    * write ledger.
    */
  def run(ctx: Ctx, kind: String, name: String, src: String, out: String,
      head: Long): ExtractPipeline.ExtractResult = {
    val since = System.currentTimeMillis() - 1
    val traced = ctx.tracer.on
    val res = ctx.timed(kind, name, (r: ExtractPipeline.ExtractResult) =>
      r.tables.map(_.rowsWritten).sum) {
      ExtractPipeline.extract(ctx.spark, source(ctx, src), Config, out,
        nowMillis = head)
    }
    if (traced) Workloads.noteWriteOps(ctx, kind, root(out), since)
    if (traced && kind == "op")
      Workloads.writeLedger(ctx, root(out), since, res.tables.map(_.rowsWritten).sum)
    res
  }

  /** Transforms probe: `convertColumns` over a full-range `scanRange` of
    * every table into the noop sink, as rows per second.
    */
  def transformsProbe(ctx: Ctx, src: String): Unit = {
    val s = new ParquetEntitySource(src)
    val t0 = System.nanoTime()
    val rows = ctx.tracer.span("Transforms.probe") {
      Inputs.EntityTables.map { t =>
        val types = s.columnTypes(ctx.spark, Inputs.Schema, t)
        val raw = s.scanRange(ctx.spark, Inputs.Schema, t, 0L, Long.MaxValue)
        Transforms.convertColumns(raw, types, Config.tables(t))
          .write.format("noop").mode("overwrite").save()
        Shape.rowsPerTable.toLong
      }.sum
    }
    Ledger.note(ctx, "Transforms.rows_per_s", rows / ((System.nanoTime() - t0) / 1e9))
  }

  def probes(ctx: Ctx, src: String, out: String, head: Long): Unit = {
    transformsProbe(ctx, src)
    val plan = Partitioner.plan(Earliest, head, Tiers)
    Workloads.metadataProbes(ctx, tableDir(out, Inputs.EntityTables.head), plan)
  }

  /** Extract output checks for the committed run under `out` at `head`:
    * per table, `_metadata` rows equal the source rows in the plan range,
    * an order-independent hash of `(id, _block_number)` over the
    * `_metadata` fragments equals the source's, no block sits in two
    * tiles, and the watermark equals the head. Returns the failures.
    */
  def verify(ctx: Ctx, src: String, out: String, head: Long,
      tables: Seq[String] = Inputs.EntityTables): Seq[String] = {
    val spark = ctx.spark
    val c = Workloads.conf(ctx)
    val plan = Partitioner.plan(Earliest, head, Tiers)
    val (lo, hi) = (plan.head.start, plan.last.end)
    def digest(df: DataFrame): (Long, BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("id"), col("_block_number")).cast("decimal(38,0)")))
        .head()
      (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
    }
    val wm = Watermark.read(root(out), c)
    val wmFail =
      if (!wm.exists(_.latestBlock == head)) Seq(s"watermark ${wm.map(_.latestBlock)} != head $head")
      else Nil
    wmFail ++ tables.flatMap { t =>
      val tDir = tableDir(out, t)
      val srcRows = spark.read.parquet(s"$src/${Inputs.Schema}/$t.parquet")
        .where(col("block_lower") >= lo && col("block_lower") < hi)
        .select(col("id"), col("block_lower").cast("long").as("_block_number"))
      val frags = MetadataSink.fragmentPaths(tDir, c)
      val want = digest(srcRows)
      val metaRows = MetadataSink.rowCountFromMetadata(tDir, c)
      val got = if (frags.isEmpty) (0L, BigDecimal(0))
        else digest(spark.read.parquet(frags: _*))
      // a fragment's rows must all fall inside its own tile, and the
      // tiles named by _metadata must not overlap
      val tiles = frags.map { f =>
        val seg = f.split('/').filter(_.contains('=')).map { kv =>
          val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
        (f, seg("start_partition").toLong, seg("end_partition").toLong)
      }
      val overlap = tiles.map(x => (x._2, x._3)).distinct.sortBy(_._1)
        .sliding(2).exists { case Seq(a, b) => a._2 > b._1; case _ => false }
      val bounds = tiles.map { case (f, s, e) => (new org.apache.hadoop.fs.Path(f).toUri.getPath, (s, e)) }.toMap
      val outside = frags.nonEmpty && spark.read.parquet(frags: _*)
        .groupBy(input_file_name().as("f"))
        .agg(min("_block_number"), max("_block_number")).collect()
        .exists { r =>
          val (s, e) = bounds(new java.net.URI(r.getString(0)).getPath)
          r.getLong(1) < s || r.getLong(2) >= e
        }
      Seq(
        if (metaRows != want._1) Some(s"$t: _metadata rows $metaRows != source ${want._1}") else None,
        if (got != want) Some(s"$t: fragment digest $got != source $want") else None,
        if (overlap) Some(s"$t: overlapping tiles in _metadata") else None,
        if (outside) Some(s"$t: a block lies outside its tile") else None).flatten
    }
  }
}

/** Cold full-history extract into a fresh output root, then a no-op
  * re-run at the same head.
  */
final class Backfill extends Workload {
  import ExtractSetup._
  protected def inputs(ctx: Ctx, rep: Int) = ctx.dir(s"graph$rep")
  private var lastOut = ""

  def generate(ctx: Ctx, rep: Int): Unit =
    Inputs.writeGraph(ctx.spark, inputs(ctx, rep), ctx.seed, Shape, Head0)

  /** Three full backfills into throwaway roots, each with its no-op
    * re-run: the JIT keeps improving both paths over the first few.
    */
  def warmUp(ctx: Ctx): Unit = for (i <- 0 until 3; _ <- 0 until 2)
    ExtractPipeline.extract(ctx.spark, new ParquetEntitySource(src(ctx)), Config,
      ctx.dir(s"warm$i"), nowMillis = Head0)

  def iterate(ctx: Ctx, iter: Int): Unit = {
    // earlier outputs are left in place: deleting inside the timed loop
    // stalls the next writes behind the file system's discards
    val out = ctx.dir(s"out$iter")
    run(ctx, "op", "backfill", src(ctx), out, Head0)
    run(ctx, "rerun", "backfill_noop", src(ctx), out, Head0)
    if (ctx.tracer.on) probes(ctx, src(ctx), out, Head0)
    lastOut = out
  }

  def check(ctx: Ctx): Unit =
    verify(ctx, src(ctx), lastOut, Head0).foreach(m => ctx.fail(m))

  /** A dropped fragment and a duplicated tile in the warm-up output must
    * both be reported.
    */
  override def negativeCheck(ctx: Ctx): Unit = {
    val warm = ctx.dir("warm0")
    val c = Workloads.conf(ctx)
    val Seq(t1, t2) = Inputs.EntityTables.take(2)
    val d1 = tableDir(warm, t1)
    val victim = new File(MetadataSink.fragmentPaths(d1, c).last.stripPrefix("file:"))
    victim.delete()
    MetadataSink.writeMetadata(d1, c)
    val d2 = tableDir(warm, t2)
    val frags = MetadataSink.fragmentPaths(d2, c).map(_.stripPrefix("file:"))
    val dup = new File(frags.head)
    val into = new File(frags.last).getParentFile
    FileUtils.copyFile(dup, new File(into, "part-dup-" + dup.getName))
    MetadataSink.writeMetadata(d2, c)
    val caught = verify(ctx, src(ctx), warm, Head0, Seq(t1, t2))
    if (!caught.exists(_.startsWith(s"$t1:")))
      ctx.fail("negative check: a dropped fragment was not caught")
    if (!caught.exists(_.startsWith(s"$t2:")))
      ctx.fail("negative check: a duplicated tile was not caught")
    ctx.extra("negative_checks_caught") = caught.size
  }
}

/** Incremental ingestion with near-duplicate admission: the corpus is
  * ingested in doc-id batches into a fresh store, each batch followed by
  * a no-op re-ingest at the same head.
  */
final class Ingest extends Workload {
  val Batches = 4
  val BatchDocs = 1024
  val Tiers = Seq(4096L, 1024L)
  /** sf0.1's near-copy share (5%), with a tenth of the docs exact copies
    * so the admission check has cross-batch copies to reject.
    */
  val Shape = Inputs.CorpusShape(docs = Batches * BatchDocs, exact = 410,
    near = 205)
  protected def inputs(ctx: Ctx, rep: Int) = ctx.dir(s"corpus$rep")
  private var copies: Seq[(Long, Long)] = Nil
  private var lastStore = ""
  private var admitted = 0L

  def generate(ctx: Ctx, rep: Int): Unit =
    copies = Inputs.writeCorpus(ctx.spark, inputs(ctx, rep), ctx.seed, Shape)

  /** One full pass into a throwaway store. */
  def warmUp(ctx: Ctx): Unit = pass(ctx, src(ctx), ctx.dir("warm"), timed = false)

  /** One full pass; returns the admitted total. */
  private def pass(ctx: Ctx, src: String, store: String, timed: Boolean): Long = {
    def one(kind: String, name: String, latest: Long): IngestionPipeline.IngestResult = {
      def call() = IngestionPipeline.ingest(ctx.spark, src, store, latest,
        tierSizes = Tiers, nowMillis = latest)
      if (!timed) call()
      else {
        val traced = ctx.tracer.on
        val since = System.currentTimeMillis() - 1
        val r = ctx.timed(kind, name, (r: IngestionPipeline.IngestResult) => r.nSeen)(call())
        if (traced) Workloads.noteWriteOps(ctx, kind, store, since)
        if (traced && kind == "op") {
          Workloads.writeLedger(ctx, store, since, r.nAdmitted)
          Ledger.note(ctx, "IngestionPipeline.admitted_share",
            if (r.nSeen == 0) 0.0 else r.nAdmitted.toDouble / r.nSeen)
          Ledger.note(ctx, "IngestionPipeline.admitted_base", r.nSeen)
          val g = r.verdicts.agg(avg(col("n_candidate_groups")), count(lit(1))).head()
          Ledger.note(ctx, "Dedup.candidate_groups_per_doc",
            if (g.isNullAt(0)) 0.0 else g.getDouble(0))
          Ledger.note(ctx, "Dedup.candidate_groups_base", g.getLong(1))
        }
        r
      }
    }
    (0 until Batches).map { b =>
      val latest = (b + 1L) * BatchDocs
      val admitted = one("op", s"batch$b", latest).nAdmitted
      val noop = one("rerun", s"noop$b", latest)
      if (noop.nSeen != 0 || noop.nAdmitted != 0)
        ctx.fail(s"no-op re-ingest saw ${noop.nSeen} docs, admitted ${noop.nAdmitted}")
      admitted
    }.sum
  }

  def iterate(ctx: Ctx, iter: Int): Unit = {
    val store = ctx.dir(s"store$iter")
    admitted = pass(ctx, src(ctx), store, timed = true)
    if (ctx.tracer.on) {
      val plan = Partitioner.plan(0L, Batches.toLong * BatchDocs, Tiers)
      Workloads.metadataProbes(ctx,
        Partitioner.tableDir(store, IngestionPipeline.Subgraph, IngestionPipeline.Table), plan)
    }
    lastStore = store
  }

  /** Store rows equal the admitted total, admitted ids are unique, and
    * every verbatim copy of a doc from an earlier batch was rejected.
    */
  def check(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val store = IngestionPipeline.committedStore(spark, src(ctx), lastStore, Tiers)
    val r = store.agg(count(lit(1)), countDistinct(col("doc_id"))).head()
    if (r.getLong(0) != admitted) ctx.fail(s"store rows ${r.getLong(0)} != admitted $admitted")
    if (r.getLong(1) != r.getLong(0)) ctx.fail(s"admitted ids not unique: ${r.getLong(1)} of ${r.getLong(0)}")
    val crossBatch = copies.filter { case (i, j) => i / BatchDocs > j / BatchDocs }
      .map(_._1).toDF("doc_id")
    val leaked = store.join(crossBatch, Seq("doc_id"), "left_semi").count()
    if (crossBatch.isEmpty) ctx.fail("corpus has no cross-batch exact copies")
    if (leaked != 0) ctx.fail(s"$leaked exact copies of earlier-batch docs were admitted")
    ctx.extra("cross_batch_exact_copies") = crossBatch.count().toDouble
  }
}

/** Read-only dedup funnels: oracle-checked SparkEntry queries through
  * the noop sink, in interleaved passes, caches cleared between queries.
  */
final class Funnels extends Workload {
  /** sf0.1's duplicate shares (8 exact and 250 near copies in 5000 docs)
    * at an eighth of its size.
    */
  val Shape = Inputs.CorpusShape(docs = 600, exact = 1, near = 30)
  protected def inputs(ctx: Ctx, rep: Int) = ctx.dir(s"docs$rep")

  def generate(ctx: Ctx, rep: Int): Unit =
    Inputs.writeCorpus(ctx.spark, inputs(ctx, rep), ctx.seed, Shape)

  /** Two passes: the first writes each query's result, with the oracle
    * SQL beside it, for the DuckDB compare in `run.py`; the second runs
    * each query and its re-execution, as the loop does. The query planning
    * these queries are bound by still speeds up through the second pass.
    */
  def warmUp(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val out = ctx.dir("oracle")
    Funnels.Queries.foreach { q =>
      try Tables.widthScoped(spark) {
        SparkEntry.queries(q)(spark, src(ctx)).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$q")
      } finally spark.catalog.clearCache()
    }
    val sql = Funnels.Queries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.obj(sql: _*))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/tables_dir"), src(ctx))
    Funnels.Queries.foreach(runQuery(ctx, _, timed = false))
  }

  private def runQuery(ctx: Ctx, q: String, timed: Boolean = true): Unit = {
    val spark = ctx.spark
    val fn = SparkEntry.queries(q)
    def buildPlanExec(): DataFrame = {
      val t0 = System.nanoTime()
      val df = ctx.tracer.span("build")(fn(spark, src(ctx)))
      val t1 = System.nanoTime()
      ctx.tracer.span("plan")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      ctx.tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
      val t3 = System.nanoTime()
      if (ctx.tracer.on) {
        Ledger.note(ctx, s"dedup_funnels.$q.build_s", (t1 - t0) / 1e9)
        Ledger.note(ctx, s"dedup_funnels.$q.plan_s", (t2 - t1) / 1e9)
        Ledger.note(ctx, s"dedup_funnels.$q.exec_s", (t3 - t2) / 1e9)
      }
      df
    }
    def rows[T] = (_: T) => Shape.docs.toLong
    // the re-run executes the built frame again while the caches its
    // construction filled are still held
    def rerun(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    try Tables.widthScoped(spark) {
      if (!timed) rerun(buildPlanExec())
      else {
        val df = ctx.timed("op", q, rows[DataFrame])(buildPlanExec())
        ctx.timed("rerun", q, rows[Unit])(rerun(df))
      }
    } finally spark.catalog.clearCache()
  }

  /** One pass over the queries. */
  def iterate(ctx: Ctx, iter: Int): Unit = Funnels.Queries.foreach(runQuery(ctx, _))

  /** Results are compared with the oracle by `run.py`. */
  def check(ctx: Ctx): Unit = ()
}

object Funnels {
  /** One or two faces per hand-rolled funnel copy in `Dedup` and the
    * crossmodal prelude in `Similarity`.
    */
  val Queries: Seq[String] = Seq(
    "q_dedup_minhash_lsh", "q_dedup_minhash_lsh_pairs", "q_minhash_est_audit",
    "q_dedup_simhash64", "q_dedup_simhash64_manku",
    "q_dedup_ngram_jaccard", "q_dedup_containment",
    "q_dedup_editdist", "q_dedup_editdist_pairs",
    "q_crossmodal_audit")
}
