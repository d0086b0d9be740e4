package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.Pipeline
import graft.core.api._
import graft.functions.Scalars
import graft.operators.{Tokenize, WordStats}
import graft.sinks.{ConditionalSink, CsvSink, FilteredSink, ParquetSink, RepartitionedSink}
import graft.sources.{ChunkedTextSource, FileLinesSource, FilesListSource, WholeTextSource}

/** End-to-end golden test over the reference's own corpus (Project
  * Gutenberg .txt files, or its seeded stand-in — see [[TestCorpus]]),
  * asserting the A.3 invariants from FIXTURES.md, i.e.
  * the audit SQL the reference documents at example/readme.md:41-69.
  * This is the run a reference user would do first: point the engine
  * at a directory of text files, get the word-stats table out.
  */
class GoldenCorpusSpec extends SparkSpecBase {

  private val booksDir = TestCorpus.booksDir

  private lazy val nTxtFiles: Long = {
    val d = new java.io.File(booksDir)
    d.listFiles().count(f => f.isFile && f.getName.endsWith(".txt")).toLong
  }

  /** The canonical §3.4 output over the corpus: WordStats keyed by
    * file_path + the reference's `file` projection (last 5 path
    * components, 269-truncated). */
  private lazy val stats = {
    val docs = WholeTextSource(Seq(booksDir)).load(spark)
    WordStats(docs, idCol = "file_path", textCol = "content")
      .withColumn("file",
        Scalars.truncate269(Scalars.lastPathComponents(col("file_path"), 5)))
      .drop("file_path")
      .cache()
  }

  test("sources: file listing matches the directory walk") {
    val listed = FilesListSource(Seq(booksDir)).load(spark)
    assert(listed.count() === nTxtFiles)
    assert(listed.filter(col("file_size") <= 0).count() === 0)
  }

  test("sources: multi-root listing walks every root (FoldersFilesListExtractor parity)") {
    // The reference's FoldersFilesListExtractor chains one walk per root
    // dir (extractors/files.py:28-49); here multiple roots are one load.
    val oneBookDir = TestCorpus.oneBookDir
    val nOneBook = new java.io.File(oneBookDir)
      .listFiles().count(f => f.isFile && f.getName.endsWith(".txt")).toLong
    assert(nOneBook > 0)
    val listed = FilesListSource(Seq(booksDir, oneBookDir)).load(spark)
    assert(listed.select(countDistinct(col("file_path"))).head.getLong(0)
      === nTxtFiles + nOneBook)
    // both roots contribute rows
    assert(listed.filter(col("file_path").contains("/one_book/")).count() === nOneBook)
    assert(listed.filter(col("file_path").contains("/books/")).count() === nTxtFiles)
  }

  test("sources: lines source emits only trimmed non-blank lines") {
    val lines = FileLinesSource(Seq(booksDir)).load(spark)
    val bad = lines.filter(
      length(col("line")) === 0 || col("line").rlike("^\\s") || col("line").rlike("\\s$"))
    assert(bad.count() === 0)
    assert(lines.select(countDistinct(col("file_path"))).head.getLong(0) === nTxtFiles)
  }

  test("invariant 1: no duplicate (file, normalized word) pair in the output") {
    val dups = stats
      .groupBy(col("file"), Scalars.wordNorm(col("word")))
      .count()
      .filter(col("count") > 1)
    assert(dups.count() === 0)
  }

  test("invariant 2: COUNT(DISTINCT file) equals the number of input files") {
    assert(stats.select(countDistinct(col("file"))).head.getLong(0) === nTxtFiles)
  }

  test("invariant 3: sum of words_count over distinct (file, words_count) = corpus token count") {
    val viaStats = stats
      .select(col("file"), col("words_count")).distinct()
      .agg(sum("words_count")).head.getLong(0)
    // Independent recount: tokenize the corpus directly.
    val direct = Tokenize
      .splitTokens(inputCol = "content")(WholeTextSource(Seq(booksDir)).load(spark))
      .count()
    assert(viaStats === direct)
  }

  test("invariant 4: truncation flag and lengths are consistent") {
    // No word survives longer than the 254-char truncation…
    assert(stats.filter(length(col("word")) > 254).count() === 0)
    // …and (diacritic-free corpus ⇒ word_len = pre-truncation length)
    // the flag agrees with the pre-image length everywhere.
    val bad = stats.filter(col("word_truncated") =!= (col("word_len") > 255))
    assert(bad.count() === 0)
    // This corpus genuinely has both short words and no >255 monsters:
    assert(stats.filter(col("word_truncated")).count() === 0)
  }

  test("sources: chunked splittable scan splits files and reconstructs wholetext") {
    // 128 KB max-split on ~0.2–1.1 MB books ⇒ every file multi-split:
    // the scan parallelism a wholetext read of huge files can't have
    val lines = ChunkedTextSource(Seq(booksDir), maxSplitBytes = Some(128 * 1024))
      .load(spark).cache()
    try {
      assert(lines.rdd.getNumPartitions > nTxtFiles)
      // path forms differ (input_file_name URI vs Hadoop Path.toString);
      // normalize the scheme away before joining
      val norm = (c: org.apache.spark.sql.Column) =>
        regexp_replace(c, "^file:/+", "/")
      // exact reconstruction modulo the line reader's byte contract
      // (see ChunkedTextSource.reassemble): leading UTF-8 BOM stripped,
      // CRLF/CR normalized to LF, exactly one trailing newline dropped
      // (\n\z, not \n$ — $ also matches BEFORE a final terminator, so
      // it would strip two)
      val whole = WholeTextSource(Seq(booksDir)).load(spark).select(
        norm(col("file_path")).as("file_path"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("content"), "^\\uFEFF", ""),
            "\r\n|\r", "\n"),
          "\n\\z", "")
          .as("expected"))
      val rebuilt = ChunkedTextSource.reassemble(lines)
        .select(norm(col("file_path")).as("file_path"), col("content"))
      assert(rebuilt.count() === nTxtFiles)
      val joined = rebuilt.join(whole, Seq("file_path")).cache()
      try {
        assert(joined.count() === nTxtFiles)
        assert(joined.filter(col("content") =!= col("expected")).count() === 0)
      } finally joined.unpersist()
    } finally lines.unpersist()
  }

  test("sources: chunked scan under a hidden-prefixed ANCESTOR still lists; hidden children skipped") {
    // The hidden-dir skip must apply STRICTLY BELOW the root: a root
    // whose own path contains a '_'/'.' component (…/_staging/corpus)
    // was named deliberately by the caller. Before qualifying the root
    // for the ancestor walk, the unqualified-vs-qualified string
    // mismatch made the walk run past the root and silently drop
    // every file of such a root.
    val base = Files.createTempDirectory("graft_hidden")
    val root = base.resolve("_staging").resolve("corpus")
    Files.createDirectories(root)
    Files.write(root.resolve("a.txt"), "alpha beta\n".getBytes("UTF-8"))
    val hiddenChild = root.resolve("_tmp")
    Files.createDirectories(hiddenChild)
    Files.write(hiddenChild.resolve("b.txt"), "skipped\n".getBytes("UTF-8"))
    val lines = ChunkedTextSource(Seq(root.toString)).load(spark)
    assert(lines.count() === 1L)
    assert(lines.select("line").collect().head.getString(0) === "alpha beta")
  }

  test("chunked scan rejects comma and glob-metacharacter paths loudly") {
    // Hadoop's input-path list is comma-delimited AND FileInputFormat
    // glob-expands each path — a literal name with , { } [ ] * ? would
    // be dropped or mis-read silently; the source must refuse instead.
    val base = Files.createTempDirectory("graft_meta")
    for (bad <- Seq("a,b.txt", "a{b}.txt", "a[1].txt", "a*.txt", "a?.txt",
        "a\\b.txt")) {
      val d = Files.createTempDirectory(base, "case")
      Files.write(d.resolve(bad), "x y\n".getBytes("UTF-8"))
      val ex = intercept[IllegalArgumentException] {
        ChunkedTextSource(Seq(d.toString)).load(spark).count()
      }
      assert(ex.getMessage.contains("ChunkedTextSource"), s"$bad: ${ex.getMessage}")
    }
    // …and a clean sibling file still reads
    val ok = Files.createTempDirectory(base, "ok")
    Files.write(ok.resolve("plain.txt"), "x y\n".getBytes("UTF-8"))
    assert(ChunkedTextSource(Seq(ok.toString)).load(spark).count() === 1L)
  }

  test("wordstats: fromLines over the splittable scan equals the wholetext pipeline") {
    val lines = ChunkedTextSource(Seq(booksDir), maxSplitBytes = Some(128 * 1024))
      .load(spark)
      .withColumn("file_path", regexp_replace(col("file_path"), "^file:/+", "/"))
    val viaLines = WordStats.fromLines(lines)
    // strip the leading BOM the line reader consumes (reassemble's
    // contract): U+FEFF is not \s, so a kept BOM would glue itself
    // onto the file's first token and skew exactly that word's row
    val viaWhole = WordStats(
      WholeTextSource(Seq(booksDir)).load(spark)
        .withColumn("file_path", regexp_replace(col("file_path"), "^file:/+", "/"))
        .withColumn("content", regexp_replace(col("content"), "^\\uFEFF", "")),
      idCol = "file_path", textCol = "content")
    assert(viaLines.exceptAll(viaWhole).count() === 0)
    assert(viaWhole.exceptAll(viaLines).count() === 0)
  }

  test("pipeline: multi-sink fan-out writes the same rows to csv and parquet") {
    val out = Files.createTempDirectory("graft_e2e").toString
    val src = new Source {
      def load(s: org.apache.spark.sql.SparkSession) = stats
    }
    Pipeline(src)
      .to(CsvSink(s"$out/csv"))
      .to(ParquetSink(s"$out/parquet"))
      .run(spark)

    val n = stats.count()
    val csvBack = spark.read
      .option("delimiter", ";").option("header", "false")
      .csv(s"$out/csv")
    assert(csvBack.count() === n)
    assert(spark.read.parquet(s"$out/parquet").count() === n)
  }

  test("sinks: conditional, filtered and repartitioned delegate correctly") {
    val out = Files.createTempDirectory("graft_sinks").toString

    ConditionalSink(() => false, ParquetSink(s"$out/never")).write(stats)
    assert(!Files.exists(Paths.get(s"$out/never")))

    FilteredSink(col("words_count") > 100000, ParquetSink(s"$out/big")).write(stats)
    val big = spark.read.parquet(s"$out/big")
    assert(big.count() === stats.filter(col("words_count") > 100000).count())

    RepartitionedSink(3, ParquetSink(s"$out/parts")).write(stats.limit(1000))
    val parts = new java.io.File(s"$out/parts")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts === 3)
  }
}
