package graft.dev

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, Soak, SparkEntry}
import graft.core.IterCheckpoint.release
import graft.operators.{Bpe, Embeddings, Eval, Multimodal, NearDup, TextAnalysis, WordStats}
import graft.sources.{ChunkedTextSource, WholeTextSource}

/** The one measurement main: every scale record (`*.json`) and experiment
  * number SCALE.md cites outside the Bench battery comes from here.
  *
  *   sbt "runMain graft.dev.Measure <experiment> [key=value ...]"
  *   sbt "runMain graft.dev.Measure plan <sfDir> <query...>"
  *
  * [[cliError]] checks the whole command line before Spark starts: an
  * unknown experiment or key, a malformed value or a missing input dir
  * prints a message and exits 2. Keys, each with a per-experiment
  * default (see [[experiments]]):
  *   - `sizes=<MB,...>`: the size curve of scale4g, neardup4g, substr2g;
  *   - `corpus=<dir>`: where the replicated books corpus is generated;
  *   - `books=<dir>`: the seed books (the reference's sample corpus);
  *   - `sf=<dir>`: a fixture dir;
  *   - `k=<merges>` (bpe_k1024), `scale=<N>` (q18_soak).
  *
  * Records (the name in parentheses) are written by [[record]], which
  * throws on a failed write; the compact stdout line is the last line.
  * Experiments time with [[timed]]. Not part of the battery: Verify and
  * Bench never call this.
  */
object Measure {

  /** The reference's sample books: 28 Gutenberg texts, ~13 MB. */
  val BooksDir = "/root/reference/example/sample_data/books"
  /** Timed reps per scale4g size point; the point keeps the best. */
  val ScaleReps = 2
  /** neardup4g's shingle document-frequency cap (the 100 TB dial). */
  val NearDupDfCap = 20L
  /** stream_soak's tranche count. At least 5 keeps the last tranche out
    * of its own flatness baseline, the median of tranches 2..4. */
  val StreamTranches = 8

  private type Settings = Map[String, String]

  /** An experiment's keys with their defaults, and its body; the body
    * returns false when the run found a broken invariant (exit 1). */
  private final case class Experiment(
      defaults: Settings, run: (SparkSession, Settings) => Boolean)

  private def sf(dir: String): Settings = Map("sf" -> dir)
  private def corpusKeys(sizes: String, dir: String): Settings =
    Map("sizes" -> sizes, "corpus" -> dir, "books" -> BooksDir)
  private val Sf01 = "/root/testdata/sf0.1"
  private val Sf001 = "/root/testdata/sf0.01"
  private val MarkedDir = "target/scale4g/books"

  /** Every experiment by name: the one list [[cliError]] checks. */
  private val experiments: Map[String, Experiment] = Map(
    "scale4g" -> Experiment(corpusKeys("1024,2048,4096", MarkedDir), scale4g),
    "neardup4g" -> Experiment(corpusKeys("1024,2048,4096", MarkedDir), neardup4g),
    "substr2g" -> Experiment(
      corpusKeys("1024,2048", "target/scale4g/books_plain"), substr2g),
    "langid_real" -> Experiment(Map("books" -> BooksDir), langIdReal),
    "stream_soak" -> Experiment(sf(Sf01), streamSoak),
    "plan" -> Experiment(Map.empty, plan),
    "bpe_k64" -> Experiment(sf(Sf01), bpeK64),
    "bpe_k1024" -> Experiment(sf(Sf001) + ("k" -> "1024"), bpeK1024),
    "bpe_crossover" -> Experiment(sf(Sf001), bpeCrossover),
    "frontier_wall" -> Experiment(sf(Sf01), frontierWall),
    "phash_twin_ham" -> Experiment(sf(Sf001), phashTwinHam),
    "q18_soak" -> Experiment(sf(Sf01) + ("scale" -> "100"), q18Soak))

  private val Usage = "usage: graft.dev.Measure <experiment> [key=value ...]; " +
    s"experiments: ${experiments.keys.toSeq.sorted.mkString(", ")}"
  private val KeyValue = "([a-z]+)=(.*)".r

  /** The settings of `rest` (the command line after the experiment name)
    * over the experiment's defaults. `plan` takes operands instead:
    * `<sfDir> <query...>` become `sf` and `queries`. */
  private def settings(name: String, rest: Seq[String]): Either[String, Settings] =
    if (name == "plan")
      if (rest.size < 2) Left("usage: graft.dev.Measure plan <sfDir> <query...>")
      else Right(Map("sf" -> rest.head, "queries" -> rest.tail.mkString(",")))
    else {
      val defaults = experiments(name).defaults
      rest.foldLeft[Either[String, Settings]](Right(defaults)) {
        case (Right(s), KeyValue(k, v)) if defaults.contains(k) => Right(s.updated(k, v))
        case (Right(_), a) => Left(s"unknown argument for $name: $a; valid keys: " +
          defaults.keys.toSeq.sorted.map(_ + "=").mkString(", "))
        case (err, _) => err
      }
    }

  private def positive(v: String): Boolean = v.trim.toIntOption.exists(_ > 0)

  /** The error message for a bad command line, or None: the argument
    * check [[main]] runs before it builds a session. Pure but for the
    * existence checks of the `books` and `sf` dirs. */
  def cliError(args: Seq[String]): Option[String] = args match {
    case Seq() => Some(Usage)
    case name +: _ if !experiments.contains(name) =>
      Some(s"unknown experiment: $name; valid experiments: " +
        experiments.keys.toSeq.sorted.mkString(", "))
    case name +: rest => settings(name, rest) match {
      case Left(msg) => Some(msg)
      case Right(s) => Seq(
        s.get("sizes").filterNot(_.split(",", -1).forall(positive)).map(v =>
          s"sizes must be comma-separated positive MB counts, got: $v"),
        Seq("k", "scale").flatMap(k => s.get(k).filterNot(positive).map(v =>
          s"$k must be a positive integer, got: $v")).headOption,
        Seq("books", "sf").flatMap(k => s.get(k)
          .filterNot(d => Files.isDirectory(Paths.get(d)))
          .map(d => s"$k dir not found: $d")).headOption,
        s.get("queries").flatMap(q => SparkEntry.cliError(
          "graft.dev.Measure plan <sfDir> <query...>", argsOk = true, q.split(",").toSeq))
      ).flatten.headOption
    }
  }

  def main(args: Array[String]): Unit = {
    cliError(args.toSeq).foreach { msg =>
      System.err.println(msg)
      sys.exit(2)
    }
    val s = settings(args.head, args.toSeq.tail).toOption.get
    val spark = graft.core.Session.builder(graft.core.Session.cpus).getOrCreate()
    val ok = try experiments(args.head).run(spark, s) finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Best wall seconds of `reps` runs of `body`, and the last run's value. */
  private def timed[T](reps: Int)(body: => T): (Double, T) =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val v = body
      ((System.nanoTime() - t0) / 1e9, v)
    }.reduce((a, b) => (math.min(a._1, b._1), b._2))

  /** Writes the full record to `file`, then prints `line`, its compact
    * form for the harness's stdout tail. A failed write throws: SCALE.md
    * cites these files, so a run that cannot leave one must not exit 0. */
  def record(file: String, full: String, line: String): Unit = {
    Files.writeString(Paths.get(file), full)
    println(line)
  }

  private def sizesOf(s: Settings): Seq[Long] =
    s("sizes").split(",").map(_.trim.toLong).toSeq.sorted

  // ---- the books corpus ------------------------------------------------

  /** A generated books corpus in `dir`: `replicas` replicas of `books`
    * seed books, replica r's files named `<book><tag><rrrr>.txt`. */
  private final case class Corpus(
      dir: Path, bytes: Long, replicas: Int, books: Int, tag: String, minReplicas: Int) {
    def perReplica: Long = bytes / replicas

    /** Replicas that make up `sizeMb`, within what was generated. */
    def replicasFor(sizeMb: Long): Int = math.min(replicas.toLong, math.max(
      minReplicas.toLong, math.ceil((sizeMb << 20).toDouble / perReplica).toLong)).toInt

    def mb(n: Int): Double = n.toLong * perReplica / 1048576.0

    /** A hard-linked dir holding replicas 0..(n-1): one generated corpus
      * serves every point of a size curve without rewriting a byte.
      * Always use it, never `dir` itself: `dir` may hold replicas of an
      * earlier, larger run ([[generate]] only adds files), and a 64 MB
      * smoke against a leftover 4 GB dir once measured 4 GB. */
    def subset(n: Int): Path = {
      val sub = dir.resolveSibling(s"${dir.getFileName}_first$n")
      Files.createDirectories(sub)
      val ls = Files.list(dir)
      val wanted =
        try ls.iterator().asScala.toSeq.filter { p =>
          val name = p.getFileName.toString
          val i = name.lastIndexOf(tag)
          val digits = if (i < 0) "" else name.slice(i + tag.length, i + tag.length + 4)
          name.endsWith(".txt") && digits.nonEmpty && digits.forall(_.isDigit) &&
            digits.toInt < n
        } finally ls.close()
      wanted.foreach { p =>
        val link = sub.resolve(p.getFileName)
        // a leftover link is valid only while it points at the CURRENT
        // file's inode: generate() replaces files by atomic rename (a new
        // inode), and a stale link would keep the old, maybe truncated,
        // bytes the size check exists to catch
        if (Files.exists(link) && !Files.isSameFile(link, p)) Files.delete(link)
        if (!Files.exists(link)) Files.createLink(link, p)
      }
      sub
    }

    /** One doc per file of the n-replica subset: `doc_id` = xxhash64 of
      * the path (collision odds ~n²/2⁶⁴), `text`, `file_path`, and
      * `book`, the file name minus the replica tag (the truth key). */
    def docs(spark: SparkSession, n: Int): DataFrame =
      WholeTextSource(Seq(subset(n).toString)).load(spark)
        .select(xxhash64(col("file_path")).as("doc_id"),
          col("content").as("text"), col("file_path"),
          regexp_replace(element_at(split(col("file_path"), "/"), -1),
            tag + "\\d{4}\\.txt$", "").as("book"))
  }

  /** Suffix every whitespace token of `line` with `marker`: a manual
    * scan, not a regex (this runs over the whole generated corpus). */
  private def suffixTokens(line: String, marker: String): String = {
    val sb = new java.lang.StringBuilder(line.length * 2)
    var inTok = false
    line.foreach { c =>
      val ws = Character.isWhitespace(c)
      if (inTok && ws) { sb.append(marker); inTok = false }
      if (!ws) inTok = true
      sb.append(c)
    }
    if (inTok) sb.append(marker)
    sb.toString
  }

  /** Replicates the `.txt` books under `booksDir` into `outDir` until it
    * holds at least `targetBytes`, the reference's own recipe
    * (`example/generate_test_data.py:66-67` reaches 4 GB by copying the
    * seed books).
    *
    * With `markers`, replica r of book b is `b_rNNNN.txt` and every
    * whitespace token carries the suffix `_rNNNN` (the Soak.scala
    * discipline): replicas share no token, so no cross-replica result
    * can collapse and output size certifies per-replica work. Without,
    * `b_pNNNN.txt` is a plain byte copy and at least 2 replicas exist,
    * so every book has a full-span duplicate (substr2g's truth).
    *
    * The index is zero-padded, so every replica has replica 0's size,
    * and each replica is checked for it. Files are written under a temp
    * name and renamed atomically: an interrupted run never leaves a
    * truncated replica that a later run's exists() check would reuse. */
  private def generate(
      booksDir: Path, outDir: Path, targetBytes: Long, markers: Boolean): Corpus = {
    Files.createDirectories(outDir)
    val ls = Files.list(booksDir)
    val books =
      try ls.iterator().asScala.toSeq.filter(_.toString.endsWith(".txt")).sortBy(_.toString)
      finally ls.close()
    require(books.nonEmpty, s"no .txt books under $booksDir")
    val tag = if (markers) "_r" else "_p"
    // marker runs read each book once, pre-split to lines
    lazy val lines = books.map(p => p -> new String(Files.readAllBytes(p), UTF_8)
      .split("\n", -1)).toMap
    def writeReplica(r: Int): Long = {
      val marker = f"$tag$r%04d"
      books.map { p =>
        val name = p.getFileName.toString.stripSuffix(".txt") + marker
        val f = outDir.resolve(s"$name.txt")
        if (!Files.exists(f)) {
          val tmp = outDir.resolve(s".$name.txt.tmp")
          if (markers) {
            val w = Files.newBufferedWriter(tmp, UTF_8)
            try lines(p).foreach { ln => w.write(suffixTokens(ln, marker)); w.write("\n") }
            finally w.close()
          } else Files.copy(p, tmp, StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmp, f,
            StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        }
        Files.size(f)
      }.sum
    }
    val first = writeReplica(0)
    val minReplicas = if (markers) 1 else 2
    val n = math.max(minReplicas, math.ceil(targetBytes.toDouble / first).toInt)
    // parallel generation: the token scan is pure CPU
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    val sizes = first +: (try (1 until n).map(r => pool.submit(new Callable[Long] {
      def call(): Long = writeReplica(r)
    })).map(_.get()) finally pool.shutdown())
    val expected = if (markers) first else books.map(Files.size).sum
    sizes.zipWithIndex.find(_._1 != expected).foreach { case (b, i) =>
      throw new IllegalStateException(s"replica $i is $b bytes, expected $expected — " +
        s"stale or truncated replica files under $outDir; delete the dir AND " +
        "its sibling *_firstN subset dirs (their hard links pin old inodes) and rerun")
    }
    Corpus(outDir, sizes.sum, n, books.size, tag, minReplicas)
  }

  private def generateFor(s: Settings, markers: Boolean): (Double, Corpus) =
    timed(1)(generate(Paths.get(s("books")), Paths.get(s("corpus")),
      sizesOf(s).max << 20, markers))

  // ---- scale4g (SCALE4G.json) -------------------------------------------

  /** The reference's own published scale: the canonical word-stats
    * pipeline over the markered books corpus at each size of the curve
    * (default 1, 2 and 4 GB), in MB/s against the reference's one
    * published rate, 0.00050067901 s/KB ≈ 1.95 MB/s on its 8-CPU host
    * (`example/main.py:207,219-221`; BASELINE.md). The timed pipeline is
    * the 100 TB shape: [[graft.sources.ChunkedTextSource]] (a splittable
    * scan, no task holds a whole file) into
    * [[graft.operators.WordStats.fromLines]]. The golden `dedup_audit`
    * invariant (first-seen dedup leaves no duplicate (file, word_norm),
    * `example/readme.md:68`) is then asserted at full size; a violation
    * exits 1 after the record is written. */
  private def scale4g(spark: SparkSession, s: Settings): Boolean = {
    val (genSec, corpus) = generateFor(s, markers = true)
    val cpus = graft.core.Session.cpus
    def pipeline(dir: Path) = WordStats.fromLines(ChunkedTextSource(Seq(dir.toString)).load(spark))

    // untimed warmup on one replica absorbs JVM/codegen cost
    Bench.materialize(pipeline(corpus.subset(1)))

    final case class Point(mb: Double, replicas: Int, wall: Double, rows: Long, mbPerSec: Double)
    val points = sizesOf(s).map { sizeMb =>
      val n = corpus.replicasFor(sizeMb)
      val dir = corpus.subset(n)
      val (wall, rows) = timed(ScaleReps)(Bench.materialize(pipeline(dir)))
      Point(corpus.mb(n), n, wall, rows, corpus.mb(n) / wall)
    }
    val top = points.last // the headline: the largest size

    val (auditSec, audit) = timed(1)(pipeline(corpus.subset(corpus.replicas))
      .groupBy(col("file_path"),
        graft.functions.Scalars.wordNorm(col("word")).as("word_norm"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .count())

    // the reference's model rate on THIS host: t/KB = C · (8/n_cpu) ·
    // (1 + (1 − n_cpu/cpus_total)), n_cpu = 90% of cores
    // (example/main.py:54,198,207); 1.95 MB/s is the 8-CPU figure
    val nCpu = math.max(1, (cpus * 0.9).toInt)
    val modelMbPerSec = 1.0 /
      (0.00050067901 * (8.0 / nCpu) * (1.0 + (1.0 - nCpu.toDouble / cpus)) * 1024)

    val curve = points.map(p =>
      f"""{"mb":${p.mb}%.1f,"replicas":${p.replicas},"wall_sec":${p.wall}%.2f,"rows":${p.rows},"mb_per_sec":${p.mbPerSec}%.2f}""")
      .mkString("[", ",", "]")
    // max/min MB/s across sizes: 1.0 is perfectly scan-bound scaling
    val flat = points.map(_.mbPerSec).max / points.map(_.mbPerSec).min
    val line =
      f"""{"metric":"scale4g_wordstats_mb_per_sec","value":${top.mbPerSec}%.2f,"unit":"MB/s","bytes":${corpus.bytes},"mb":${top.mb}%.1f,"files":${corpus.replicas * corpus.books},"replicas":${corpus.replicas},"gen_sec":$genSec%.1f,"wall_sec":${top.wall}%.2f,"reps":$ScaleReps,"rows":${top.rows},"dedup_audit_rows":$audit,"audit_sec":$auditSec%.2f,"curve":$curve,"curve_flat_max_over_min":$flat%.2f,"baseline_published_mb_per_sec":1.95,"baseline_model_mb_per_sec":$modelMbPerSec%.2f,"x_published":${top.mbPerSec / 1.95}%.1f,"x_model":${top.mbPerSec / modelMbPerSec}%.1f,"cpus":$cpus}"""
    record("SCALE4G.json", line, line)
    audit == 0
  }

  // ---- neardup4g (NEARDUP4G.json) ---------------------------------------

  /** The near-dup family on the markered books corpus, real text with
    * the Zipf hot-shingle skew the `maxDocFreq` dial exists for:
    *  1. MinHash banding curve: per size, the signature pass wall, the
    *     banded candidates off the checkpointed signature table (r = 2,
    *     the 100 TB dial) and the exact-Jaccard confirm. Replicas are
    *     token-disjoint, so candidates must grow ∝ corpus size.
    *  2. df-cap engagement at full size: distinct shingles, shingles
    *     over the cap, and the pair mass Σ C(df,2) the cap avoids
    *     against what the capped path pays.
    *  3. pHash recall of the planted duplication at the smallest size:
    *     every replica of a book is a byte-domain near-duplicate of
    *     every other (marker suffixes only rescale the stream, inside
    *     blockhash's invariance class), so the truth is 14·C(replicas,2).
    *  4. MinHash recall of planted token-domain twins at full size: a
    *     2%-token-deleted twin per replica-0 book (exact Jaccard ≈ 0.90,
    *     above the 0.8 confirm threshold) found in the whole corpus. */
  private def neardup4g(spark: SparkSession, s: Settings): Boolean = {
    val (genSec, corpus) = generateFor(s, markers = true)
    val sizesMb = sizesOf(s)
    def docs(n: Int) = corpus.docs(spark, n).select("doc_id", "text", "file_path")

    // untimed warmup: without it the smallest point's sig wall is mostly JIT
    NearDup.minHashSignatures(NearDup.shingles(docs(1))).queryExecution.toRdd.count()

    // ---- 1. the MinHash banding curve
    val curve = sizesMb.map { sizeMb =>
      val nRep = corpus.replicasFor(sizeMb)
      val sh = NearDup.shingles(docs(nRep)).repartition(col("doc_id"))
      // the corpus pass, checkpointed: the seam a deployment persists
      val (sigSec, sigs) = timed(1)(NearDup.minHashSignatures(sh).localCheckpoint())
      val cand = NearDup.bandedCandidatesFromSignatures(sigs, rowsPerBand = 2)
        .localCheckpoint()
      val nCand = cand.count()
      val (confirmSec, nConf) = timed(1)(NearDup.confirm(cand, sh, "doc_id").count())
      val mb = corpus.mb(nRep)
      release(sigs)
      release(cand)
      // progress to stderr: the 4 GB point runs minutes
      System.err.println(f"[neardup4g] ${mb}%.0f MB: sig ${sigSec}%.1f s, " +
        f"$nCand candidates, confirm ${confirmSec}%.1f s, $nConf confirmed")
      (mb, nRep, sigSec, nCand, confirmSec, nConf)
    }
    // candidates per MB, largest size over smallest
    val candPerMb = curve.map { case (mb, _, _, c, _, _) => c / mb }
    val candGrowth = if (candPerMb.head > 0) candPerMb.last / candPerMb.head else 1.0

    // ---- 2. df-cap engagement on the full corpus
    val fullRep = corpus.replicasFor(sizesMb.max)
    val (dfSec, pairMass) = timed(1) {
      val df = NearDup.shingles(docs(fullRep)).groupBy(col("s")).agg(count(lit(1)).as("df"))
      // df·(df−1) is even, so >>1 is the exact C(df,2): `/ 2` is double
      // division, and a cast would round through a 2^53 mantissa
      val hot = col("df") > NearDupDfCap
      def pairs(keep: org.apache.spark.sql.Column) =
        sum(when(keep, shiftright(col("df") * (col("df") - 1), 1)).otherwise(lit(0)))
      df.agg(count(lit(1)), max(col("df")), sum(when(hot, lit(1)).otherwise(lit(0))),
        pairs(hot), pairs(!hot)).head()
    }
    val Seq(nShingles, maxDf, hotShingles, avoided, paid) = (0 until 5).map(pairMass.getLong)
    System.err.println(f"[neardup4g] df profile ${dfSec}%.1f s: $nShingles shingles, " +
      f"max_df $maxDf, $hotShingles hot, avoided $avoided vs paid $paid")

    // ---- 3. pHash recall of the planted duplication (smallest size)
    val phRep = corpus.replicasFor(sizesMb.min)
    val phDocs = corpus.docs(spark, phRep)
      .select(col("doc_id"), col("text").cast("binary").as("payload"), col("book"))
      .localCheckpoint()
    val (phSec, (found, nFound)) = timed(1) {
      val f = Multimodal.pHashPairsScaled(phDocs).localCheckpoint()
      (f, f.count())
    }
    val books = phDocs.select(col("doc_id"), col("book"))
    val truth = books.select(col("doc_id").as("doc_a"), col("book"))
      .join(books.select(col("doc_id").as("doc_b"), col("book")), "book")
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val nTruth = truth.count()
    val hit = found.select("doc_a", "doc_b").join(truth, Seq("doc_a", "doc_b"), "left_semi").count()
    val recallMilli = if (nTruth > 0) hit * 1000 / nTruth else 0L
    val precMilli = if (nFound > 0) hit * 1000 / nFound else 0L
    release(found)
    release(phDocs)

    // ---- 4. MinHash recall of planted token-domain twins, full size.
    // Every 50th token dropped: with 3-word shingles the shared fraction
    // is ≈ 1 − 3·0.02, so Jaccard ≈ 0.94/1.04 ≈ 0.90, and the band-miss
    // probability is (1 − J²)⁸ ≈ 4·10⁻⁶ per pair.
    val (mhSec, (nConfP, nTruthMh, hitMh, held)) = timed(1) {
      val fullDocs = docs(fullRep)
      // twins and truth derive from the SAME frame's replica-0 rows: the
      // twin and its truth pair must hash the same path string
      val rep0 = fullDocs.filter(col("file_path").endsWith("_r0000.txt"))
      val twinId = xxhash64(concat(col("file_path"), lit("#twin")))
      val twins = rep0.select(twinId.as("doc_id"),
        array_join(filter(split(col("text"), "\\s+"), (_, i) => i % 50 =!= 49), " ").as("text"),
        concat(col("file_path"), lit("#twin")).as("file_path"))
      val shP = NearDup.shingles(fullDocs.unionByName(twins)).repartition(col("doc_id"))
      val sigP = NearDup.minHashSignatures(shP).localCheckpoint()
      val candP = NearDup.bandedCandidatesFromSignatures(sigP, rowsPerBand = 2).localCheckpoint()
      val confP = NearDup.confirm(candP, shP, "doc_id").localCheckpoint()
      val truthMh = rep0.select(least(col("doc_id"), twinId).as("doc_a"),
        greatest(col("doc_id"), twinId).as("doc_b"))
      (confP.count(), truthMh.count(),
        confP.select("doc_a", "doc_b").join(truthMh, Seq("doc_a", "doc_b"), "left_semi").count(),
        Seq(sigP, candP, confP))
    }
    val mhRecallMilli = if (nTruthMh > 0) hitMh * 1000 / nTruthMh else 0L
    held.foreach(release)
    System.err.println(f"[neardup4g] planted twins ${mhSec}%.1f s: " +
      f"$hitMh/$nTruthMh found, $nConfP confirmed total")

    val curveJson = curve.map { case (mb, nRep, sigSec, nCand, confSec, nConf) =>
      f"""{"mb":$mb%.1f,"replicas":$nRep,"files":${nRep * corpus.books},"sig_sec":$sigSec%.2f,"candidates":$nCand,"confirm_sec":$confSec%.2f,"confirmed":$nConf}"""
    }.mkString("[", ",", "]")
    record("NEARDUP4G.json",
      f"""{"metric":"neardup4g","bytes":${corpus.bytes},"gen_sec":$genSec%.1f,"minhash_banded_curve":$curveJson,"cand_per_mb_growth_max_over_min":$candGrowth%.2f,"df_cap":{"cap":$NearDupDfCap,"sec":$dfSec%.2f,"distinct_shingles":$nShingles,"max_df":$maxDf,"hot_shingles":$hotShingles,"avoided_pairs":$avoided,"paid_pairs":$paid},"phash":{"replicas":$phRep,"files":${phRep * corpus.books},"sec":$phSec%.2f,"found":$nFound,"truth":$nTruth,"hit":$hit,"recall_milli":$recallMilli,"precision_milli":$precMilli},"minhash_planted_twins":{"sec":$mhSec%.2f,"corpus_docs":${fullRep * corpus.books},"twins":$nTruthMh,"hit":$hitMh,"recall_milli":$mhRecallMilli,"confirmed_total":$nConfP},"cpus":${graft.core.Session.cpus}}""",
      f"""{"metric":"neardup4g","mb":${curve.last._1}%.1f,"candidates":${curve.last._4},"confirmed":${curve.last._6},"cand_per_mb_growth":$candGrowth%.2f,"df_cap_avoided_pairs":$avoided,"phash_recall_milli":$recallMilli,"minhash_twin_recall_milli":$mhRecallMilli,"full":"NEARDUP4G.json"}""")
    true
  }

  // ---- substr2g (SUBSTR2G.json) -----------------------------------------

  /** The substring-granular dedup family
    * ([[graft.operators.NearDup.dupNgramStats]] / `substringDedup`, Lee
    * et al. recast) on the plain-copy books corpus. Its shuffle volume
    * is ∝ total corpus positions, the heaviest per-byte shape of the
    * dedup family. Plain copies give ground truth by construction:
    * every replica of a book is a full-span duplicate of every other, so
    * every doc has `dup_x1000 = 1000` and `max_dup_run = n_grams`, and
    * under keep-first every doc that is not its book's minimum-id
    * replica loses every token. (The markered corpus would make replicas
    * gram-disjoint, exactly what this truth must not have.)
    *  1. detection curve: gram volume, dupNgramStats wall and the
    *     full-span truth as recall_milli; wall and grams per MB must stay
    *     flat across sizes (linear in positions).
    *  2. rewrite at the smallest size: substringDedup wall, the
    *     keep-first truth, and the kept-token mass. */
  private def substr2g(spark: SparkSession, s: Settings): Boolean = {
    val (genSec, corpus) = generateFor(s, markers = false)
    val sizesMb = sizesOf(s)
    def docs(n: Int) = corpus.docs(spark, n).select("doc_id", "text", "book")

    // untimed warmup absorbs JIT/codegen
    NearDup.dupNgramStats(docs(2).limit(4)).queryExecution.toRdd.count()

    // ---- 1. detection curve
    val curve = sizesMb.map { sizeMb =>
      val nRep = corpus.replicasFor(sizeMb)
      val d = docs(nRep).localCheckpoint()
      val nDocs = d.count()
      require(nDocs == nRep.toLong * corpus.books,
        s"subset dir for $nRep replicas holds $nDocs docs, expected " +
          s"${nRep.toLong * corpus.books} — stale/partial corpus or subset links")
      val nGramsTotal = NearDup.positionalNgrams(d).count()
      val (statSec, (stats, nOut)) = timed(1) {
        val st = NearDup.dupNgramStats(d).localCheckpoint()
        (st, st.count())
      }
      val exact = stats.where(col("dup_x1000") === 1000 &&
        col("max_dup_run") === col("n_grams") && col("n_grams") > 0).count()
      val recallMilli = if (nOut > 0) exact * 1000 / nOut else 0L
      val mb = corpus.mb(nRep)
      release(stats)
      release(d)
      System.err.println(f"[substr2g] ${mb}%.0f MB: $nDocs docs, $nGramsTotal grams, " +
        f"dupNgramStats ${statSec}%.1f s, full-span-exact $exact/$nOut")
      (mb, nRep, nDocs, nGramsTotal, statSec, exact, nOut, recallMilli)
    }
    // wall per MB and grams per MB, largest size over smallest
    def growth(perMb: Seq[Double]) = if (perMb.head > 0) perMb.last / perMb.head else 1.0
    val wallGrowth = growth(curve.map(c => c._5 / c._1))
    val gramGrowth = growth(curve.map(c => c._4 / c._1))

    // ---- 2. rewrite at the smallest size
    val rwDocs = docs(corpus.replicasFor(sizesMb.min)).localCheckpoint()
    val (rwSec, (rw, nRw)) = timed(1) {
      val r = NearDup.substringDedup(rwDocs).localCheckpoint()
      (r, r.count())
    }
    // keep-first truth: a doc that is not its book's min-id replica must
    // come back fully emptied (n_removed == n_tokens)
    val minIds = rwDocs.groupBy(col("book")).agg(min(col("doc_id")).as("canon_id"))
    val judged = rw.join(rwDocs.select(col("doc_id"), col("book")), "doc_id")
      .join(minIds, "book")
      .select(col("doc_id"), col("book"), (col("doc_id") === col("canon_id")).as("is_canon"),
        col("n_tokens"), col("n_removed"))
      .localCheckpoint()
    val nonCanon = judged.where(!col("is_canon")).count()
    val emptiedOk = judged.where(!col("is_canon") && col("n_removed") === col("n_tokens")).count()
    val canonKept = judged.where(col("is_canon") && col("n_tokens") - col("n_removed") > 0).count()
    val keptTokens = rw.agg(sum(col("n_tokens") - col("n_removed")).cast("long")).head().getLong(0)
    val totalTokens = rw.agg(sum(col("n_tokens")).cast("long")).head().getLong(0)
    val emptiedMilli = if (nonCanon > 0) emptiedOk * 1000 / nonCanon else 0L
    Seq(judged, rw, rwDocs).foreach(release)
    System.err.println(f"[substr2g] rewrite ${rwSec}%.1f s: " +
      f"$emptiedOk/$nonCanon non-canonical emptied, " +
      f"$canonKept canonical kept text, $keptTokens/$totalTokens tokens kept")

    val curveJson = curve.map {
      case (mb, nRep, nDocs, grams, sec, exact, out, recall) =>
        f"""{"mb":$mb%.1f,"replicas":$nRep,"docs":$nDocs,"grams":$grams,"dup_stats_sec":$sec%.2f,"full_span_exact":$exact,"docs_out":$out,"span_recall_milli":$recall}"""
    }.mkString("[", ",", "]")
    record("SUBSTR2G.json",
      f"""{"metric":"substr2g","bytes":${corpus.bytes},"gen_sec":$genSec%.1f,"detection_curve":$curveJson,"wall_per_mb_growth_max_over_min":$wallGrowth%.2f,"grams_per_mb_growth_max_over_min":$gramGrowth%.2f,"rewrite":{"mb":${curve.head._1}%.1f,"sec":$rwSec%.2f,"docs":$nRw,"non_canonical":$nonCanon,"emptied_exact":$emptiedOk,"emptied_milli":$emptiedMilli,"canonical_kept_text":$canonKept,"kept_tokens":$keptTokens,"total_tokens":$totalTokens},"cpus":${graft.core.Session.cpus}}""",
      f"""{"metric":"substr2g","mb":${curve.last._1}%.1f,"grams":${curve.last._4},"dup_stats_sec":${curve.last._5}%.2f,"span_recall_milli":${curve.last._8},"wall_per_mb_growth":$wallGrowth%.2f,"rewrite_emptied_milli":$emptiedMilli,"full":"SUBSTR2G.json"}""")
    true
  }

  // ---- langid_real (LANGID_REAL.json) -----------------------------------

  /** Seed book stem → language, read off each book's BODY text (the
    * Gutenberg header is English even for French books). */
  val LangTruth: Seq[(String, String)] = Seq(
    "27566-0" -> "fr", "29476-0" -> "fr", "33378-0" -> "fr",
    "39331-0" -> "fr", "64084-0" -> "fr", "pg10774" -> "fr",
    "pg15943" -> "fr", "pg16901" -> "fr", "pg17808" -> "fr",
    "pg41121" -> "fr", "pg42663" -> "fr", "pg44054" -> "fr",
    "pg44664" -> "fr", "pg44676" -> "fr", "pg58290" -> "fr",
    "pg60806" -> "fr", "pg61418" -> "fr", "pg63167" -> "fr",
    "pg67759" -> "en", "pg67760" -> "en", "pg67761" -> "en",
    "pg67764" -> "en", "pg67765" -> "en", "pg67766" -> "en",
    "pg67768" -> "en",
    "pg67762" -> "fi", "pg67763" -> "fi",
    "pg67767" -> "pt")

  /** Language ID on real text with known labels: the 28 seed books (18
    * French, 7 English, 2 Finnish, 1 Portuguese) through
    * [[graft.operators.TextAnalysis.langId]], scored by
    * [[graft.operators.Eval.confusion]] against [[LangTruth]]. The
    * battery's `docs_langid_confusion` runs on marker text whose label
    * is independent of the text; this record is the operator on real
    * input (it drove the r17 fi/pt lexicon widening). */
  private def langIdReal(spark: SparkSession, s: Settings): Boolean = {
    import spark.implicits._
    val docs = WholeTextSource(Seq(s("books"))).load(spark)
      .select(regexp_replace(element_at(split(col("file_path"), "/"), -1),
        "\\.txt$", "").as("doc_id"), col("content").as("text"))
      .localCheckpoint()
    val nDocs = docs.count()
    require(nDocs == LangTruth.size.toLong,
      s"${s("books")} holds $nDocs books, truth labels ${LangTruth.size}")

    val (sec, cells) = timed(1)(Eval.confusion(
        TextAnalysis.langId(docs).select(col("doc_id"), col("pred_lang").as("pred")),
        LangTruth.toDF("doc_id", "label"))
      .orderBy("label", "pred")
      .collect()) // |classes|² rows
    def n(p: org.apache.spark.sql.Row => Boolean) = cells.filter(p).map(_.getLong(2)).sum
    val total = n(_ => true)
    val accMilli = if (total > 0) n(r => r.getString(0) == r.getString(1)) * 1000 / total else 0L
    val perLabelJson = LangTruth.map(_._2).distinct.sorted.map { l =>
      s"""{"label":"$l","n":${n(_.getString(0) == l)},"hit":${n(r =>
        r.getString(0) == l && r.getString(1) == l)}}"""
    }.mkString("[", ",", "]")
    val cellsJson = cells.map { r =>
      s"""{"label":"${r.getString(0)}","pred":"${r.getString(1)}","n":${r.getLong(2)}}"""
    }.mkString("[", ",", "]")
    val full =
      f"""{"metric":"langid_real","books":$total,"accuracy_milli":$accMilli,"sec":$sec%.2f,"lexicon_markers":${TextAnalysis.LangMarkers.size},"lexicon_langs":${TextAnalysis.LangMarkers.map(_._2).distinct.size},"per_label":$perLabelJson,"confusion":$cellsJson}"""
    record("LANGID_REAL.json", full, full)
    true
  }

  // ---- stream_soak (STREAM_SOAK.json) -----------------------------------

  /** Writes `df` as one parquet file into the ingest dir `inDir`. */
  private def stage(df: DataFrame, inDir: Path, tag: String): Unit = {
    val tmp = Files.createTempDirectory(s"graft_ssoak_$tag")
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val ls = Files.list(p)
        try ls.iterator().asScala.toSeq.foreach(rm) finally ls.close()
      }
      try Files.deleteIfExists(p) catch { case _: java.io.IOException => () }
    }
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val ls = Files.list(tmp)
      val parts = try ls.iterator().asScala.toSeq.filter(_.toString.endsWith(".parquet"))
        finally ls.close()
      parts.foreach(p => Files.copy(p, inDir.resolve(s"$tag-${p.getFileName}"),
        StandardCopyOption.REPLACE_EXISTING))
    } finally rm(tmp) // best effort: the staging dir is dead once copied
  }

  /** Per-tranche cost of the streaming ingest family. StreamingSpec
    * proves each ingest's union-of-batches equals the one-shot result;
    * this measures what the family exists for: per-tranche wall staying
    * ~flat as the store grows. [[StreamTranches]] equal tranches (one
    * Soak replica each: marker-disjoint, so growth in per-tranche cost is
    * store cost, not signal) feed ingestNearDup, ingestClusters (chained
    * on the near-dup tranche's own pairs), ingestPHash and ingestErLinks.
    * The model is wall(r) = a·increment + b·store(r): the signature
    * equijoin re-reads the narrow store, so a small linear term is
    * expected; superlinear growth must not appear. Per family the record
    * carries last-tranche wall over the median of tranches 2..4 (tranche
    * 1 pays JIT/codegen). */
  private def streamSoak(spark: SparkSession, s: Settings): Boolean = {
    import graft.streaming.Streams
    val n = StreamTranches
    def rowsAt(path: String): Long = scala.util.Try(spark.read.parquet(path).count()).getOrElse(0L)
    val work = Files.createTempDirectory("graft_stream_soak")
    def dirs(fam: String): (Path, String, String, String) = {
      val in = Files.createDirectories(work.resolve(s"$fam/in"))
      (in, work.resolve(s"$fam/state").toString,
        work.resolve(s"$fam/out").toString, work.resolve(s"$fam/ckpt").toString)
    }

    // replica r's ids live in [r·IdOffset, (r+1)·IdOffset)
    val docsAll = Soak.replicatedDocs(spark, s("sf"), n).localCheckpoint()
    val custAll = Soak.replicatedCustomers(spark, s("sf"), n).localCheckpoint()
    def tranche(df: DataFrame, id: String, r: Int) =
      df.where(col(id) >= r * Soak.IdOffset && col(id) < (r + 1) * Soak.IdOffset)

    final case class Tranche(family: String, idx: Int, sec: Double, outRows: Long, storeRowsBefore: Long)
    val measurements = scala.collection.mutable.ArrayBuffer.empty[Tranche]
    def measure(fam: String, idx: Int, storePath: String, outPath: String)
        (run: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val before = rowsAt(storePath)
      val outBefore = rowsAt(outPath)
      val (sec, _) = timed(1)(run.awaitTermination())
      measurements += Tranche(fam, idx, sec, rowsAt(outPath) - outBefore, before)
    }

    // ---- near-dup (docs → pairs), chained into clusters (pairs → snapshot)
    val (ndIn, ndState, ndOut, ndCkpt) = dirs("neardup")
    val (ccIn, ccState, _, ccCkpt) = dirs("clusters")
    for (r <- 0 until n) {
      stage(tranche(docsAll, "doc_id", r).select(col("doc_id"), col("text")), ndIn, f"t$r%02d")
      measure("neardup", r, s"$ndState/sigs", ndOut)(
        Streams.ingestNearDup(spark, ndIn.toString, ndState, ndOut, ndCkpt))
      // this tranche's new pairs feed the cluster store; a planted chain
      // (doc i — doc i+1 for every 401st doc) keeps every cluster tranche
      // non-empty, since pairs are sparse
      val newPairs = spark.read.parquet(ndOut).where(col("batch_id").cast("long") === r)
        .select(col("doc_a"), col("doc_b"))
      val planted = tranche(docsAll, "doc_id", r).where(col("doc_id") % 401 === 0)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      stage(newPairs.unionByName(planted), ccIn, f"t$r%02d")
      measure("clusters", r, ccState, ccState)(
        Streams.ingestClusters(spark, ccIn.toString, ccState, ccCkpt))
    }

    // ---- pHash (payloads → pairs); planted in-tranche twins give the
    // confirm real work at zero cross-tranche signal
    val (phIn, phState, phOut, phCkpt) = dirs("phash")
    for (r <- 0 until n) {
      val base = tranche(docsAll, "doc_id", r)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      val twins = base.where(col("doc_id") % 101 === 0)
        .select((-col("doc_id") - 1L).as("doc_id"), col("payload"))
      stage(base.unionByName(twins), phIn, f"t$r%02d")
      measure("phash", r, s"$phState/sigs", phOut)(
        Streams.ingestPHash(spark, phIn.toString, phState, phOut, phCkpt))
    }

    // ---- ER links (names → links)
    val (erIn, erState, erOut, erCkpt) = dirs("er")
    for (r <- 0 until n) {
      stage(tranche(custAll, "c_custkey", r)
        .select(col("c_custkey").as("id"), col("c_name").as("name")), erIn, f"t$r%02d")
      measure("er", r, s"$erState/keys", erOut)(
        Streams.ingestErLinks(spark, erIn.toString, erState, erOut, erCkpt))
    }

    def flatness(f: String): Double = {
      val t = measurements.filter(_.family == f)
      t.last.sec / t.slice(1, 4).map(_.sec).sorted.apply(1) // over the median of 2..4
    }
    val perTranche = measurements.map(t =>
      f"""{"family":"${t.family}","tranche":${t.idx},"sec":${t.sec}%.2f,"out_rows":${t.outRows},"store_rows_before":${t.storeRowsBefore}}""")
      .mkString("[", ",", "]")
    val flat = Seq("neardup", "clusters", "phash", "er")
      .map(f => f""""$f":${flatness(f)}%.2f""").mkString("{", ",", "}")
    record("STREAM_SOAK.json",
      s"""{"metric":"stream_soak_tranches","tranches":$n,"sf":"${s("sf")}","last_over_median234":$flat,"per_tranche":$perTranche}""",
      s"""{"metric":"stream_soak_tranches","tranches":$n,"last_over_median234":$flat,"full":"STREAM_SOAK.json"}""")
    true
  }

  // ---- plan -------------------------------------------------------------

  /** Prints the EXECUTED adaptive plan (final, with ReusedExchange and
    * AQEShuffleRead nodes) of named battery queries: explain() on an
    * un-run adaptive plan shows isFinalPlan=false without reuse markers,
    * so seam-unification claims need this view. */
  private def plan(spark: SparkSession, s: Settings): Boolean = {
    s("queries").split(",").foreach { q =>
      val df = SparkEntry.queries(q)(spark, s("sf"))
      Bench.materialize(df)
      println(s"===== $q (executed) =====")
      println(df.queryExecution.executedPlan.toString)
    }
    true
  }

  // ---- dev probes (stdout only) -----------------------------------------

  /** Batched (maxBatch=16) against sequential (maxBatch=1) BPE training
    * wall at k=64 on the documents word dict; the driver-loop round
    * count is under test, so the dict is checkpointed once and shared. */
  private def bpeK64(spark: SparkSession, s: Settings): Boolean = {
    val dict = Bpe.wordDict(spark.read.parquet(s"${s("sf")}/documents.parquet")).localCheckpoint()
    Bpe.trainMerges(dict, 4, maxBatch = 1).count() // warmup
    def merges(batch: Int) = Bpe.trainMerges(dict, 64, maxBatch = batch)
    val (seqSec, seqN) = timed(2)(merges(1).count())
    val (batSec, batN) = timed(2)(merges(16).count())
    val same = merges(1).collect().map(_.toString).sorted.toSeq ==
      merges(16).collect().map(_.toString).sorted.toSeq
    println(f"""{"probe":"bpe_k64","sequential_sec":$seqSec%.2f,"batched_sec":$batSec%.2f,"merges":$seqN,"merges_batched":$batN,"equal":$same}""")
    true
  }

  /** The 100×-replicated fixture corpus's word dict, checkpointed and
    * warmed: token-disjoint suffixed replicas, ~100× the words, where
    * each suffix family's merges touch ~1% of the dict (the regime
    * incremental counting exists for). */
  private def bpeDict(dict: DataFrame): DataFrame = {
    val d = dict.localCheckpoint()
    Bpe.trainMerges(d, 8).count() // warmup
    d
  }

  /** One training per mode at `k` merges, both batched at 16: full
    * per-round recount, then incremental count maintenance. Each run's
    * collected merge list (k rows) is the equality evidence. */
  private def bpePair(dict: DataFrame, k: Int): ((Double, Seq[String]), (Double, Seq[String])) = {
    def once(inc: Boolean) = timed(1)(Bpe.trainMerges(dict, k, maxBatch = 16, incremental = inc)
      .collect().map(_.toString).sorted.toSeq)
    (once(inc = false), once(inc = true))
  }

  /** The real-vocabulary wall at k merges (default 1024), incremental
    * against full recount, on the replicated dict (the plain documents
    * dict exhausts at 89 merges). SCALE.md extrapolates 32k from it. */
  private def bpeK1024(spark: SparkSession, s: Settings): Boolean = {
    val k = s("k").toInt
    val dict = bpeDict(Bpe.wordDict(Soak.replicatedDocs(spark, s("sf"), 100)))
    val ((fullSec, fullRows), (incSec, incRows)) = bpePair(dict, k)
    println(f"""{"probe":"bpe_k1024","k":$k,"dict_words":${dict.count()},"full_recount_sec":$fullSec%.2f,"incremental_sec":$incSec%.2f,"merges":${fullRows.size},"merges_inc":${incRows.size},"equal":${fullRows == incRows}}""")
    true
  }

  /** Where incremental counting starts winning, by k and dict size: the
    * fixture dict at k ∈ {8, 16, 64} and the replicated dict at
    * k ∈ {16, 64, 128}. The high end is already measured (k=512 on the
    * replicated dict: full 2731 s against incremental 610 s); count ties
    * trim batches to ~1 merge per round there, so large-k cells cost
    * HOURS per path and are deliberately not re-run. */
  private def bpeCrossover(spark: SparkSession, s: Settings): Boolean = {
    val dicts = Seq(
      ("fix", Seq(8, 16, 64), () => spark.read.parquet(s"${s("sf")}/documents.parquet")),
      ("d1", Seq(16, 64, 128), () => Soak.replicatedDocs(spark, s("sf"), 100)))
    val cells = dicts.flatMap { case (tag, ks, docs) =>
      val dict = bpeDict(Bpe.wordDict(docs()))
      val words = dict.count()
      val row = ks.map { k =>
        val ((fullSec, fullRows), (incSec, incRows)) = bpePair(dict, k)
        System.err.println(s"[bpe_crossover] done $tag k=$k")
        f"""{"dict":"$tag","words":$words,"k":$k,"full_sec":$fullSec%.2f,"inc_sec":$incSec%.2f,"speedup":${fullSec / incSec}%.2f,"merges":${fullRows.size},"equal":${fullRows == incRows}}"""
      }
      release(dict)
      row
    }
    println(s"""{"probe":"bpe_crossover","cells":[${cells.mkString(",")}]}""")
    true
  }

  /** Per-cell SEARCH wall of emb_ann_frontier's 2×2×2 dial grid
    * (m × nprobe × refine), the axis the hash-matched battery row cannot
    * carry. Each cell times only [[graft.operators.Embeddings.annIvfPq]],
    * with the battery cell's corpus and dials. */
  private def frontierWall(spark: SparkSession, s: Settings): Boolean = {
    val emb = spark.read.parquet(s"${s("sf")}/embeddings.parquet")
    val q = col("vec_id") % 20 === 0
    val mStep = Seq(
      Embeddings.PqSubspaces -> Embeddings.stepForBoundedK(emb.count(), SparkEntry.PqCodebookK),
      SparkEntry.ScaledPqSubspaces ->
        Embeddings.stepForBoundedK(emb.count(), SparkEntry.ScaledPqCodebookK))
    val cells = for {
      (m, step) <- mStep
      nprobe <- Seq(1, SparkEntry.IvfPqNprobe)
      refine <- Seq(Option.empty[Int], Some(SparkEntry.IvfPqRefine))
    } yield {
      val (sec, n) = timed(2)(Embeddings.annIvfPq(emb, q, m = m, pqStep = Some(step),
        nprobe = nprobe, refine = refine).count())
      s"""{"m":$m,"nprobe":$nprobe,"refine":${refine.getOrElse(0)},""" +
        f""""sec":$sec%.2f,"rows":$n}"""
    }
    println(s"""{"probe":"frontier_wall","cells":[${cells.mkString(",")}]}""")
    true
  }

  /** Dual-grid Hamming distance of every planted re-encode twin to its
    * origin under the scaled 256-bit signature: the evidence behind the
    * recall-dial cutoffs. The corpus and twins come from the battery's
    * own generator, so the distances cannot drift from what it sees. */
  private def phashTwinHam(spark: SparkSession, s: Settings): Boolean = {
    val (base, twins) = SparkEntry.phashCorpus(spark, s("sf"))
    val words = Multimodal.PHashScaledBlocks / 64
    val sigs = Multimodal.pHashSignaturesWide(base.unionByName(twins), "doc_id", "payload")
    val a = sigs.where(col("doc_id") % 101 === 0 && col("doc_id") >= 0)
    val b = sigs.where(col("doc_id") < 0)
      .select(col("doc_id").as("__tid") +: (0 until words).flatMap(w =>
        Seq(col(s"__sig$w").as(s"__tb$w"), col(s"__sigm$w").as(s"__tm$w"))): _*)
    def ham(sig: String, twin: String) = (0 until words)
      .map(w => bit_count(col(s"$sig$w").bitwiseXOR(col(s"$twin$w")))).reduce(_ + _)
    val rows = a.join(b, col("doc_id") === -col("__tid") - 1L)
      .select(col("doc_id"), ham("__sig", "__tb").as("ham_primary"),
        ham("__sigm", "__tm").as("ham_midpoint"))
      .orderBy(col("doc_id")).collect()
    val cells = rows.map(r =>
      s"""{"doc_id":${r.getLong(0)},"ham_primary":${r.get(1)},"ham_midpoint":${r.get(2)}}""")
    println(s"""{"probe":"phash_twin_ham","twins":[${cells.mkString(",")}]}""")
    true
  }

  /** The agg-feeds-join 100× trap executed at scale: q18 on the
    * N×-replicated corpus with size-based broadcasting off (at 100 TB
    * nothing fits a broadcast). Records the wall and the largest join
    * frame, and fails (exit 1) unless the executed adaptive plan kept
    * both joins shuffled. */
  private def q18Soak(spark: SparkSession, s: Settings): Boolean = {
    val scale = s("scale").toInt
    val dir = if (scale > 1) Soak.materializeDir(spark, s("sf"), scale) else s("sf")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def q18() = SparkEntry.queries("q18_big_orders")(spark, dir)
    Bench.materialize(q18()) // warmup
    // a fresh build per rep: re-counting one df's toRdd skips every stage
    // through shuffle-file reuse and times ~0 (measured 0.08 s)
    val (sec, rows) = timed(2)(Bench.materialize(q18()))
    val df = q18()
    Bench.materialize(df)
    // count joins in the final plan only: the executed adaptive plan
    // also prints the "== Initial Plan ==", which doubles every join
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    def n(ops: String*) = ops.map(_.r.findAllIn(p).size).sum
    val shuffleJoins = n("SortMergeJoin", "ShuffledHashJoin")
    val broadcastJoins = n("BroadcastHashJoin", "BroadcastNestedLoopJoin")
    println(s"""{"probe":"q18_soak","sf":"${s("sf")}","scale":$scale,"sec":${f"$sec%.2f"},"rows":$rows,"shuffle_joins":$shuffleJoins,"broadcast_joins":$broadcastJoins,"max_join_rows":${Soak.maxJoinOutputRows(df)}}""")
    val ok = shuffleJoins == 2 && broadcastJoins == 0
    if (!ok) System.err.println(s"q18_soak: expected 2 shuffle joins / 0 broadcasts, " +
      s"got $shuffleJoins/$broadcastJoins:\n${p.take(3000)}")
    ok
  }
}
