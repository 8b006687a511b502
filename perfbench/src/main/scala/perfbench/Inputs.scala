package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The engine only ever sees the files written
  * here; every value is a function of the run seed, so one seed always
  * yields byte-identical files (checked by [[digest]] over two
  * generations in every run's set-up).
  */
object Inputs {

  /** Graph-node fixture shape: four entity tables behind the catalog
    * tables `ParquetEntitySource` reads (FIXTURES.md layout).
    */
  final case class GraphShape(rowsPerTable: Int, earliest: Long,
      spanBlocks: Long)

  val Subgraph = "bench_subgraph"
  val Deployment = "QmBenchDeployment"
  val Schema = "sgd1"
  val EntityTables: Seq[String] =
    Seq("account", "pool", "swap", "transfer")

  /** Source column types in the simulated `information_schema`:
    * `numeric` values above int64 (uint256 carrier), `text` and `boolean`.
    */
  val EntityColumns: Seq[(String, String)] = Seq(
    "id" -> "text", "amount" -> "numeric", "owner" -> "text",
    "active" -> "boolean")

  /** Writes the catalog tables (head = `latest`) and the entity tables
    * under `root`. Entity rows are spread evenly over
    * `[earliest, earliest + spanBlocks)` with a seeded jitter inside each
    * row's slot, so they are stored in block order, as graph-node's `vid`
    * order would leave them. Values are xxhash64 of (seed, table, vid):
    * a quarter of the amounts fit uint64 (the clamp keeps them), the rest
    * reach up to ~2^100 (clamped to the default and flagged invalid).
    */
  def writeGraph(spark: SparkSession, root: String, seed: Long,
      shape: GraphShape, latest: Long): Unit = {
    import org.apache.spark.sql.functions._
    writeCatalog(spark, root, shape.earliest, latest)
    val slot = shape.spanBlocks / shape.rowsPerTable
    EntityTables.zipWithIndex.foreach { case (t, ti) =>
      def h(salt: Int) = xxhash64(lit(seed), lit(ti), lit(salt), col("vid"))
      def below(salt: Int, n: Long) = pmod(h(salt), lit(n))
      val big = pmod(h(1), lit(Long.MaxValue)).cast("decimal(38,0)")
      spark.range(1, shape.rowsPerTable + 1L, 1, 1).toDF("vid")
        .select(col("vid"),
          (lit(shape.earliest) + (col("vid") - 1) * slot + below(2, slot))
            .cast("int").as("block_lower"),
          lit(null).cast("int").as("block_upper"),
          concat(lit("0x"), lpad(hex(h(3)), 16, "0"), lpad(hex(col("vid")), 8, "0")).as("id"),
          when(below(4, 4) === 0, big)
            .otherwise(big * below(5, 1L << 37).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("amount"),
          concat(lit("0x"), lpad(hex(below(6, 4096)), 40, "0")).as("owner"),
          (below(7, 8) =!= 0).as("active"))
        .write.mode("overwrite").parquet(s"$root/$Schema/$t.parquet")
    }
  }

  /** Catalog tables, with the deployment's indexed range `[earliest, latest]`. */
  private def writeCatalog(spark: SparkSession, root: String, earliest: Long,
      latest: Long): Unit = {
    def strs(names: String*) = StructType(names.map(StructField(_, StringType)))
    writeOne(spark, Seq(Row(Deployment, Schema, "mainnet", true)),
      StructType(Seq(StructField("subgraph", StringType),
        StructField("name", StringType), StructField("network", StringType),
        StructField("active", BooleanType))),
      s"$root/catalog/deployment_schemas.parquet")
    writeOne(spark, Seq(Row(Deployment, "version1")),
      strs("deployment", "id"), s"$root/catalog/subgraph_version.parquet")
    writeOne(spark, Seq(Row(Subgraph, "version1")),
      strs("name", "current_version"), s"$root/catalog/subgraph.parquet")
    writeOne(spark, Seq(Row(Deployment, earliest, latest)),
      StructType(Seq(StructField("deployment", StringType),
        StructField("earliest_block_number", LongType),
        StructField("latest_ethereum_block_number", LongType))),
      s"$root/catalog/subgraph_deployment.parquet")
    val info = EntityTables.flatMap { t =>
      (EntityColumns ++ Seq("block_range" -> "int4range", "vid" -> "bigint"))
        .map { case (c, dt) => Row(Schema, t, c, dt) }
    } ++ Seq(Row(Schema, "poi2$", "digest", "bytea")) // no block_range
    writeOne(spark, info,
      strs("table_schema", "table_name", "column_name", "data_type"),
      s"$root/catalog/information_schema.parquet")
  }

  /** Word list of the `documents` test tables described in TESTDATA.md,
    * whose texts draw 10-99 words uniformly from it.
    */
  private val Vocab: Array[String] = Array("a", "agg", "batch", "big",
    "column", "customer", "data", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  private val OtherLangs = Array("de", "es", "fr", "zh")

  /** Corpus shape for the ingest and funnel workloads. The text, language,
    * source and embedding distributions follow the repository's sf0.1
    * `documents` and `embeddings` tables: 10-99 uniform words per doc, 40%
    * `en` and the rest spread over four languages, 20 sources, 64-d random
    * unit embeddings for the first 40% of the ids, labels 0-9. `exact` docs
    * are verbatim copies of an earlier original and `near` docs are an
    * earlier original followed by the word `dup`, the near-copy form of
    * those tables; both sit at seeded positions after the first 16 docs.
    */
  final case class CorpusShape(docs: Int, exact: Int, near: Int)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Writes `documents.parquet` and `embeddings.parquet` under `dir`, in
    * the layout `graft.sources.Tables` reads. Returns the doc ids that
    * are verbatim copies of an earlier doc, each with its original's id.
    */
  def writeCorpus(spark: SparkSession, dir: String, seed: Long,
      shape: CorpusShape): Seq[(Long, Long)] = {
    val r = new SplittableRandom(seed)
    // a seeded permutation of the eligible positions picks exactly
    // `exact + near` copies, so every seed has the same duplicate mass
    val slots = (16 until shape.docs).toArray
    for (i <- slots.indices.reverse) {
      val j = r.nextInt(i + 1); val t = slots(i); slots(i) = slots(j); slots(j) = t
    }
    val kind = new Array[Int](shape.docs)
    slots.take(shape.exact).foreach(kind(_) = 1)
    slots.slice(shape.exact, shape.exact + shape.near).foreach(kind(_) = 2)
    val texts = new Array[String](shape.docs)
    val copies = Seq.newBuilder[(Long, Long)]
    for (i <- 0 until shape.docs) {
      if (kind(i) != 0) {
        var j = r.nextInt(i)
        while (kind(j) != 0) j = r.nextInt(i)
        if (kind(i) == 1) { texts(i) = texts(j); copies += (i.toLong -> j.toLong) }
        else texts(i) = texts(j) + " dup"
      } else texts(i) = Array.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    }
    val docRows = texts.indices.map { i =>
      val lang = if (r.nextInt(5) < 2) "en" else OtherLangs(r.nextInt(OtherLangs.length))
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    val embRows = (0 until shape.docs * 2 / 5).map { i =>
      val v = Array.fill(64)((r.nextDouble() * 2 - 1).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      Row(i.toLong, v.map(_ / n).toSeq, r.nextInt(10))
    }
    writeOne(spark, docRows, docSchema, s"$dir/documents.parquet")
    writeOne(spark, embRows, embSchema, s"$dir/embeddings.parquet")
    copies.result()
  }

  private def writeOne(spark: SparkSession, rows: Seq[Row],
      schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** Order-stable digest of every data file under `root`: each file's
    * contents keyed by its directory, ignoring Spark's random part-file
    * names (every table is written as one part file).
    */
  def digest(root: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val base = Paths.get(root)
    val files = Files.walk(base).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(p => base.relativize(p.getParent).toString)
    files.foreach { p: Path =>
      md.update(base.relativize(p.getParent).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
