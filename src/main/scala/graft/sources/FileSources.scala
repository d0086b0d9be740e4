package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.api.Source

/** File-based sources — Spark-native forms of the reference's extractors
  * and file transformers (tiny_etl/extractors/files.py,
  * tiny_etl/transformers/files.py).
  *
  * The reference walks directories in a single driver process and pushes
  * one path at a time through a queue; here the DataSource scan itself is
  * the parallel walk — Spark lists files on the driver, splits them into
  * tasks, and reads them on executors. `recursiveFileLookup` +
  * `pathGlobFilter` reproduce the recursive suffix-filtered walk.
  */

/** One row per file (path + metadata, content not read) —
  * FilesListExtractor / FoldersFilesListExtractor
  * (tiny_etl/extractors/files.py:7-49). Multiple roots = varargs load.
  */
final case class FilesListSource(dirs: Seq[String], glob: String = "*.txt")
    extends Source {
  def load(spark: SparkSession): DataFrame =
    spark.read
      .format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .load(dirs: _*)
      .select(col("path").as("file_path"), col("length").as("file_size"))
}

/** One row per non-blank trimmed line — FileToTextLinesTransformer
  * (tiny_etl/transformers/files.py:17-54). The reference swallows IO
  * errors with a log (files.py:53-54) → `ignoreCorruptFiles`.
  */
final case class FileLinesSource(dirs: Seq[String], glob: String = "*.txt")
    extends Source {
  def load(spark: SparkSession): DataFrame =
    spark.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .option("ignoreCorruptFiles", "true")
      .text(dirs: _*)
      .select(
        input_file_name().as("file_path"),
        trim(col("value")).as("line"))
      .filter(length(col("line")) > 0)
}

/** One row per file with the whole UTF-8 content — FileTextReaderTransformer
  * (tiny_etl/transformers/files.py:56-88).
  *
  * Scale note: one row per file means one task holds one file's entire
  * content — right for file-granular semantics (per-file word stats)
  * over many ordinary files, wrong for multi-GB single files. For
  * those, use [[ChunkedTextSource]]: a splittable offset-carrying line
  * scan whose rows feed [[graft.operators.WordStats.fromLines]]
  * directly (same per-file results, no whole-file task) or reassemble
  * into this source's exact shape.
  */
final case class WholeTextSource(dirs: Seq[String], glob: String = "*.txt")
    extends Source {
  def load(spark: SparkSession): DataFrame =
    spark.read
      .option("wholetext", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .option("ignoreCorruptFiles", "true")
      .text(dirs: _*)
      .select(
        input_file_name().as("file_path"),
        col("value").as("content"))
}

/** SPLITTABLE whole-corpus text read — closes [[WholeTextSource]]'s
  * one-row-per-file scale limit (SCALE.md Known limits): `wholetext`
  * makes every file a single source row, so a multi-GB file pins one
  * task for its entire read and must fit that task's memory. Here the
  * scan is Hadoop `TextInputFormat` — the same splittable line reader
  * behind `spark.read.text` — but surfaced WITH each line's byte
  * offset, which the DataFrame text source does not expose. A 100 GB
  * file then reads as ~800 independent 128 MB splits in parallel, and
  * the `(file_path, byte_offset)` pair is a total order over the
  * file's lines, which is exactly what downstream file-granular
  * operators need:
  *
  *  - [[graft.operators.WordStats.fromLines]] aggregates per-file word
  *    stats DIRECTLY from the line rows (first-occurrence order =
  *    (byte_offset, token position)) — no task ever materializes a
  *    whole file, the true 100 TB shape;
  *  - [[ChunkedTextSource.reassemble]] reconstructs per-file content
  *    (offset-sorted line join) for callers that genuinely need the
  *    [[WholeTextSource]] shape — the shuffle groups by file, so ONE
  *    reducer holds each file, but the scan side stays splittable.
  *
  * This is the repo's single deliberate drop to the RDD layer: the
  * split's file identity and the record's byte offset live on
  * `FileSplit`/`LongWritable`, which no DataFrame-source option
  * surfaces (`input_file_name` gives the path but not the offset).
  * The drop is confined to the scan; everything downstream is
  * DataFrame. Line terminators (`\n`, `\r`, `\r\n`) are consumed by
  * the reader, as in `spark.read.text`.
  *
  * `maxSplitBytes` caps the Hadoop split size (default: the format's
  * own block-size-driven splitting) — set it small in tests to force
  * multi-split files, or tune it like
  * `spark.sql.files.maxPartitionBytes`. Paths containing commas are
  * not supported (Hadoop's input-path list is comma-delimited).
  *
  * LITERAL PATHS ONLY: every listed file path must be free of the
  * Hadoop glob metacharacters `{ } [ ] * ? \` — `load` rejects them
  * loudly. `FileInputFormat` glob-expands each input path, so a
  * literal name containing them would be silently dropped or
  * mis-expanded (and `\` is GlobPattern's escape — `a\b.txt` would
  * read `ab.txt` with no error). Globbing still happens, but only
  * through this source's own `glob` suffix parameter applied during
  * directory listing — intentional Hadoop glob PATTERNS as input
  * paths (a `*.txt` wildcard inside a `dirs` entry, say) are
  * deliberately not supported; list the directory and filter instead.
  */
final case class ChunkedTextSource(
    dirs: Seq[String],
    glob: String = "*.txt",
    maxSplitBytes: Option[Long] = None)
    extends Source {

  def load(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.{FileSplit, TextInputFormat}
    val files = ChunkedTextSource.listFiles(spark, dirs, glob)
    if (files.isEmpty)
      Seq.empty[(String, Long, String)].toDF("file_path", "byte_offset", "line")
    else {
      require(files.forall(!_.contains(",")),
        "ChunkedTextSource: file paths must not contain commas " +
          "(Hadoop input-path lists are comma-delimited)")
      // FileInputFormat also GLOB-EXPANDS every input path: a literal
      // file name containing { } [ ] * ? would be silently dropped
      // (no match) or mis-expanded instead of read, and a literal
      // backslash is GlobPattern's ESCAPE character (a\b.txt resolves
      // to ab.txt — the wrong file read with no error) — reject all of
      // them loudly, like the comma case (Hadoop offers no per-path
      // escape that survives the comma-joined setInputPaths round
      // trip).
      val globMeta = "{}[]*?\\".toSet
      require(files.forall(p => !p.exists(globMeta)),
        "ChunkedTextSource: file paths must not contain Hadoop glob " +
          "metacharacters { } [ ] * ? \\ (FileInputFormat glob-expands " +
          "each input path): " +
          files.filter(p => p.exists(globMeta)).take(3).mkString(", "))
      val conf = new org.apache.hadoop.conf.Configuration(
        spark.sessionState.newHadoopConf())
      maxSplitBytes.foreach { b =>
        require(b >= 1, s"maxSplitBytes must be >= 1, got $b")
        conf.setLong("mapreduce.input.fileinputformat.split.maxsize", b)
      }
      val rdd = spark.sparkContext
        .newAPIHadoopFile(files.mkString(","), classOf[TextInputFormat],
          classOf[LongWritable], classOf[Text], conf)
        .asInstanceOf[org.apache.spark.rdd.NewHadoopRDD[LongWritable, Text]]
      rdd
        .mapPartitionsWithInputSplit { (split, iter) =>
          val path = split.asInstanceOf[FileSplit].getPath.toString
          // the record reader REUSES its Writable instances; `.get` /
          // `.toString` copy the current record out before `next()`
          iter.map { case (off, line) => (path, off.get, line.toString) }
        }
        .toDF("file_path", "byte_offset", "line")
    }
  }
}

object ChunkedTextSource {

  /** Recursive suffix-globbed file listing through the Hadoop
    * `FileSystem` API (scheme-portable: `file:`, `hdfs:`, `s3a:`),
    * mirroring the DataFrame sources' `recursiveFileLookup` +
    * `pathGlobFilter` walk. Driver-side metadata only — one listing
    * RPC stream per root, one path string per file. Hidden files/dirs
    * (`_`/`.` prefixes) are skipped like every Spark file scan. */
  private[sources] def listFiles(
      spark: SparkSession,
      dirs: Seq[String],
      glob: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val filter = new org.apache.hadoop.fs.GlobFilter(glob)
    def hidden(p: org.apache.hadoop.fs.Path): Boolean = {
      val n = p.getName
      n.startsWith("_") || n.startsWith(".")
    }
    dirs.flatMap { d =>
      val rawRoot = new org.apache.hadoop.fs.Path(d)
      val fs = rawRoot.getFileSystem(conf)
      // Qualify the root so the ancestor walk's termination compares
      // like with like: listed paths come back scheme-qualified
      // ("file:/data/x"), and an unqualified root string would never
      // match — the walk would run past the root and a hidden
      // component ABOVE it (…/_staging/corpus as the root itself)
      // would silently drop every file.
      val root = fs.makeQualified(rawRoot)
      val out = Seq.newBuilder[String]
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        val p = st.getPath
        // listFiles recurses through hidden dirs itself; re-check every
        // path component STRICTLY BELOW the root (the root dir and its
        // ancestors were named by the caller — a hidden component there
        // is intentional, same as spark.read.text on that path)
        val underHidden = Iterator.iterate(p)(_.getParent)
          .takeWhile(q => q != null && q != root)
          .exists(hidden)
        if (st.isFile && !underHidden && filter.accept(p)) out += p.toString
      }
      out.result()
    }.sorted
  }

  /** Reconstruct `(file_path, content)` from `(file_path, byte_offset,
    * line)` rows: lines offset-sorted per file, joined with `\n`.
    *
    * Fidelity contract vs [[WholeTextSource]]: equal after (1)
    * stripping a leading UTF-8 BOM (Hadoop's line reader consumes it;
    * wholetext keeps it — and since U+FEFF is not `\s`, a kept BOM
    * glues onto the file's first token, so the stripped form is the
    * one tokenization wants), (2) normalizing the original's
    * `\r\n`/`\r` terminators to `\n`, and (3) dropping one trailing
    * newline (the reader consumes terminators, so the final line's is
    * unrecoverable); a zero-byte file yields no lines, hence no row
    * (wholetext yields one empty-content row). Per-file word stats —
    * the operators file granularity exists for — are invariant to
    * every delta but the BOM one (where this source's behavior is the
    * correct one), and
    * [[graft.operators.WordStats.fromLines]] skips reassembly
    * entirely.
    *
    * Scale shape: one shuffle keyed by file; each reducer holds one
    * file's line array (the same per-task ceiling wholetext has at
    * SCAN time, moved behind a splittable scan). */
  def reassemble(lines: DataFrame): DataFrame =
    lines
      .groupBy(col("file_path"))
      .agg(array_sort(collect_list(struct(col("byte_offset"), col("line"))))
        .as("__lines"))
      .select(
        col("file_path"),
        array_join(transform(col("__lines"), x => x.getField("line")), "\n")
          .as("content"))
}

/** One row per file WITH the raw bytes — the multimodal ingest path
  * (image/audio/video payloads as opaque binary + metadata; see
  * graft.operators.Multimodal). The reference never reads bytes
  * (extractors/files.py stops at paths); this is the extension a
  * training-data pipeline needs. Content is read executor-side per
  * split — the driver only lists paths.
  */
final case class BinaryFilesSource(dirs: Seq[String], glob: String = "*")
    extends Source {
  def load(spark: SparkSession): DataFrame =
    spark.read
      .format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .load(dirs: _*)
      .select(
        col("path").as("file_path"),
        col("length").as("file_size"),
        col("content"))
}

/** Parquet table source for the fixture star schema (TESTDATA.md). */
final case class ParquetSource(path: String) extends Source {
  def load(spark: SparkSession): DataFrame = spark.read.parquet(path)
}
