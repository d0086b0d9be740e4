package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.core.Pipeline
import graft.core.api.{Source, Transform}
import graft.functions.Scalars
import graft.operators.{DedupClusters, FoldGroup, NearDup, Tokenize, WordStats}
import graft.sinks.{CsvSink, ParquetSink}
import graft.sources.WholeTextSource

/** One workload: its seeded input, one operation through the program's
  * public API, that operation's output check, and the layer prefixes a
  * traced run materialises to derive self times.
  */
abstract class Workload {
  def name: String

  /** Write the input below `root`; returns its size in bytes. */
  def generate(root: Path, seed: Long): Long

  /** One operation. Returns its output check, run after the clock stops. */
  def op(spark: SparkSession, out: Path, t: Tracer): () => Option[String]

  /** Traced runs only: materialise each layer's prefix in a span of its
    * own, then run [[op]] in the span "op"; returns the layer metrics
    * this workload owns. */
  def layers(spark: SparkSession, out: Path, t: Tracer): (() => Option[String], Map[String, Double])
}

object Workloads {
  val names: Seq[String] = Seq("wordstats_etl", "neardup_clusters")

  def apply(name: String): Workload = name match {
    case "wordstats_etl" => new WordstatsEtl
    case "neardup_clusters" => new NearDupClusters
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; choose one of ${names.mkString(", ")}")
  }

  /** The reference's `file` column from a path column. */
  def fileCol(pathCol: String): Column = Scalars.truncate269(Scalars.lastPathComponents(col(pathCol), 5))

  val SinkColumns: Seq[String] = Seq("word", "word_len", "word_truncated", "file", "words_count")

  def readParquet(spark: SparkSession, dir: Path): Seq[Checks.WsRow] =
    spark.read.parquet(dir.toString).select(SinkColumns.map(col): _*).collect().toSeq.map { r =>
      Checks.WsRow(r.getString(0), r.getLong(1), r.getBoolean(2), r.getString(3), r.getLong(4))
    }

  /** Bytes and count of the data files a sink wrote. */
  def sinkFiles(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val files = s.iterator.asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
        }.toVector
        (files.map(Files.size(_)).sum, files.size.toLong)
      } finally s.close()
    }
}

/** The reference's canonical query over many small files: whole-file
  * scan, word stats with the `file` column, two sinks behind the
  * pipeline's fan-out cache. */
final class WordstatsEtl extends Workload {
  val name = "wordstats_etl"
  private var truth: Checks.WordStatsTruth = _
  private var input: Path = _

  def generate(root: Path, seed: Long): Long = {
    truth = new Checks.WordStatsTruth(Gen.smallFiles(root, seed, nFiles = 800, minTokens = 800, maxTokens = 1600))
    input = root.resolve("corpus")
    Gen.bytesUnder(input)
  }

  private def source: Source = WholeTextSource(Seq(input.toString))

  /** Source rows → the five sink columns. */
  private val stats: Transform = docs =>
    WordStats(docs.withColumn("file", Workloads.fileCol("file_path")),
      idCol = "file_path", textCol = "content", carryCols = Seq("file"))
      .select(Workloads.SinkColumns.map(col): _*)

  /** Source rows → the tokens `stats` dedups: the first half of
    * WordStats.apply, the per-file token total, then the split. */
  private val tokens: Transform = docs =>
    Tokenize.splitTokens(inputCol = "content")(
      docs.withColumn("words_count", FoldGroup.tokenCountExpr(col("content"))))

  def op(spark: SparkSession, out: Path, t: Tracer): () => Option[String] = {
    val csv = out.resolve("csv")
    val parquet = out.resolve("parquet")
    Pipeline(t.source("WholeTextSource", source), Seq(t.transform("WordStats", stats)),
      Seq(t.sink("csv", CsvSink(csv.toString)), t.sink("parquet", ParquetSink(parquet.toString))))
      .run(spark)
    () => Checks.wordStats("csv sink", Checks.readCsv(csv), truth).orElse(
      Checks.wordStats("parquet sink", Workloads.readParquet(spark, parquet), truth))
  }

  def layers(spark: SparkSession, out: Path, t: Tracer): (() => Option[String], Map[String, Double]) = {
    val (records, _) = t.materialise("sources.scan")(source.load(spark))
    val scan = t.last("sources.scan")
    val (toks, _) = t.materialise("tokenize.prefix")(tokens(source.load(spark)))
    val tokenized = t.last("tokenize.prefix").seconds
    val (rows, _) = t.materialise("wordstats.prefix")(stats(source.load(spark)))
    val counted = t.last("wordstats.prefix").seconds
    val check = t.span("op")(op(spark, out, t))
    // the first sink computes the word stats it writes (and fills the
    // fan-out cache); the second reads the cache
    val csvS = math.max(0.0, t.last("sink:csv").seconds - counted)
    val (bytes, files) = Seq("csv", "parquet").map(d => Workloads.sinkFiles(out.resolve(d)))
      .foldLeft((0L, 0L)) { case ((b, f), (b2, f2)) => (b + b2, f + f2) }
    val opCounters = new Counters
    t.subtree("op").foreach(s => opCounters.add(s.c))
    check -> Map(
      "sources.scan_s" -> scan.seconds,
      "sources.records" -> records.toDouble,
      "sources.tasks" -> scan.c.tasks.toDouble,
      "tokenize.self_s" -> math.max(0.0, tokenized - scan.seconds),
      "tokenize.tokens" -> toks.toDouble,
      "wordstats.self_s" -> math.max(0.0, counted - tokenized),
      "wordstats.rows_out" -> rows.toDouble,
      "wordstats.distinct_frac" -> rows.toDouble / math.max(1L, toks),
      "sinks.csv_s" -> csvS,
      "sinks.parquet_s" -> t.last("sink:parquet").seconds,
      "sinks.bytes_mb" -> bytes / 1e6,
      "sinks.files" -> files.toDouble,
      "pipeline.cache_mb" -> opCounters.rddBlockBytes / 1e6)
  }
}

/** LLM-corpus near-duplicate removal: MinHash LSH pairs, then cluster
  * resolution, fully collected. No sink. */
final class NearDupClusters extends Workload {
  val name = "neardup_clusters"
  val RecallFloor = 0.98
  private var truth: Gen.NearDupTruth = _
  private var input: Path = _
  private var shingleSets: Map[Long, java.util.Set[String]] = _

  def generate(root: Path, seed: Long): Long = {
    truth = Gen.nearDupCorpus(root, seed, nBase = 800)
    shingleSets = truth.docs.map { case (id, toks) => id -> (Checks.shingles(toks): java.util.Set[String]) }
    input = root.resolve("corpus")
    Gen.bytesUnder(input)
  }

  private def source: Source = WholeTextSource(Seq(input.toString))

  /** doc_id is the number in the file name d<id>.txt. */
  private def docs(files: DataFrame): DataFrame = files.select(
    regexp_extract(col("file_path"), "d(\\d+)\\.txt$", 1).cast("long").as("doc_id"),
    col("content").as("text"))

  def op(spark: SparkSession, out: Path, t: Tracer): () => Option[String] = {
    val d = docs(t.source("WholeTextSource", source).load(spark))
    val pairs = t.span("build:NearDup.minHashPairs")(NearDup.minHashPairs(d))
    val clusters = t.span("build:DedupClusters.resolve")(DedupClusters.resolve(pairs))
    val rows = t.span("collect")(clusters.collect())
    () => Checks.clusters(
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq, checkedPairs(spark))
  }

  /** The pairs the clusters come from, computed once per run after the
    * clock stops and checked against the documents. They are an
    * intermediate of the operation, not its output, so one check covers
    * every operation on the same input. */
  private var pairsOnce: Option[Seq[(Long, Long)]] = None
  private def checkedPairs(spark: SparkSession): Seq[(Long, Long)] = pairsOnce.getOrElse {
    val p = NearDup.minHashPairs(docs(source.load(spark))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    Checks.pairs(p, truth, RecallFloor, shingleSets).foreach(e => throw new IllegalStateException(e))
    val keys = p.map(x => (x._1, x._2))
    pairsOnce = Some(keys)
    keys
  }

  def layers(spark: SparkSession, out: Path, t: Tracer): (() => Option[String], Map[String, Double]) = {
    val (records, _) = t.materialise("sources.scan")(docs(source.load(spark)))
    val scan = t.last("sources.scan")
    val (pairs, qe) = t.materialise("neardup.pairs")(NearDup.minHashPairs(docs(source.load(spark))))
    val pairsS = t.last("neardup.pairs").seconds
    val plan = Plans.nodes(qe.executedPlan)
    val shingles = plan.collect {
      case g: GenerateExec if g.generatorOutput.exists(_.name == "s") => Plans.metric(g, "numOutputRows")
    }.sum
    val candidates = plan.collect {
      case j: HashJoin if j.leftKeys.exists(_.references.exists(_.name == "__hi")) => Plans.metric(j, "numOutputRows")
      case j: SortMergeJoinExec if j.leftKeys.exists(_.references.exists(_.name == "__hi")) =>
        Plans.metric(j, "numOutputRows")
    }.sum
    // the operators are found by the program's column names; a renamed
    // column must stop the traced run, not report 0
    if (shingles == 0 || candidates == 0)
      throw new IllegalStateException("shingle or candidate operator not found in the executed plan of minHashPairs")
    val check = t.span("op")(op(spark, out, t))
    val resolve = t.last("build:DedupClusters.resolve")
    val collect = t.last("collect")
    check -> Map(
      "sources.scan_s" -> scan.seconds,
      "sources.records" -> records.toDouble,
      "sources.tasks" -> scan.c.tasks.toDouble,
      "neardup.pairs_s" -> pairsS,
      "neardup.shingles" -> shingles.toDouble,
      "neardup.candidates" -> candidates.toDouble,
      "neardup.pairs" -> pairs.toDouble,
      "neardup.confirm_frac" -> pairs.toDouble / math.max(1L, candidates),
      // resolve computes the pairs it is given; the rest is contraction
      "clusters.resolve_s" -> math.max(0.0, resolve.seconds + collect.seconds - pairsS),
      "clusters.jobs" -> resolve.c.jobs.toDouble,
      "clusters.checkpoint_mb" -> (resolve.c.rddBlockBytes + collect.c.rddBlockBytes) / 1e6)
  }
}
