package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private def tempDir(tag: String): Path = {
    val base = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(base)
    Files.createTempDirectory(base, tag)
  }

  /** Relative path → bytes of every file below `root`. */
  private def tree(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private val generators: Seq[(String, (Path, Long) => Unit)] = Seq(
    "small files" -> ((d, s) => Gen.smallFiles(d, s, nFiles = 12, minTokens = 50, maxTokens = 90)),
    "near-dup corpus" -> ((d, s) => Gen.nearDupCorpus(d, s, nBase = 40)))

  for ((name, gen) <- generators) test(s"$name: one seed gives byte-identical inputs, another seed differs") {
    val (a, b, c) = (tempDir("a"), tempDir("b"), tempDir("c"))
    gen(a, 7L); gen(b, 7L); gen(c, 8L)
    assert(tree(a).nonEmpty)
    assert(tree(a) == tree(b))
    assert(tree(a) != tree(c))
  }

  test("the word-stats inputs carry the cases the checks must see") {
    val truth = Gen.smallFiles(tempDir("mix"), 3L, nFiles = 40, minTokens = 400, maxTokens = 800)
    val words = truth.flatMap(_.firsts)
    assert(words.exists(_.length > 255), "no token longer than 255 characters")
    assert(words.exists(w => w.exists(Gen.Diacritics.contains(_))), "no Arabic diacritics")
    assert(words.exists(w => w.exists(_.isUpper)), "no upper-case variants")
    assert(truth.exists(t => Checks.fileColumn(t.path.toString).length == 269), "no file column cut at 269")
    val raw = new String(Files.readAllBytes(truth.head.path), "UTF-8")
    assert(Seq("\t", "\r\n", "\u000B", "\f").exists(raw.contains), "no irregular whitespace")
  }

  private def wordStatsFixture(): (Checks.WordStatsTruth, Vector[Checks.WsRow]) = {
    val truth = new Checks.WordStatsTruth(Gen.smallFiles(tempDir("ws"), 5L, nFiles = 6, minTokens = 60, maxTokens = 90))
    (truth, truth.expected.asScala.toVector.flatMap { case (r, n) => Vector.fill(n.intValue)(r) })
  }

  test("word-stats check accepts the truth and rejects a dropped row or a wrong words_count") {
    val (truth, rows) = wordStatsFixture()
    assert(Checks.wordStats("ok", rows, truth).isEmpty)
    assert(Checks.wordStats("dropped", rows.tail, truth).nonEmpty)
    val wrong = rows.head.copy(wordsCount = rows.head.wordsCount + 1) +: rows.tail
    assert(Checks.wordStats("count", wrong, truth).nonEmpty)
    assert(Checks.wordStats("extra", rows :+ rows.head, truth).nonEmpty)
  }

  test("the CSV reader reads back what the sink format holds") {
    val (truth, rows) = wordStatsFixture()
    val dir = tempDir("csv")
    val text = rows.map(r => Seq(r.word, r.wordLen, r.truncated, r.file, r.wordsCount).mkString(";")).mkString("\n")
    Files.write(dir.resolve("part-00000.csv"), (text + "\n").getBytes("UTF-8"))
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    assert(Checks.wordStats("csv", Checks.readCsv(dir), truth).isEmpty)
  }

  private lazy val nearDup = Gen.nearDupCorpus(tempDir("nd"), 11L, nBase = 60)
  private lazy val shingleSets: Map[Long, java.util.Set[String]] =
    nearDup.docs.map { case (id, t) => id -> (Checks.shingles(t): java.util.Set[String]) }
  private def exact(a: Long, b: Long): (Long, Long, Long) = {
    val (i, u) = Checks.interUnion(shingleSets(a), shingleSets(b))
    (a, b, i * 1000 / u)
  }

  test("the near-dup corpus plants chains whose ends are not near-duplicates") {
    assert(nearDup.chains > 0)
    val adj = nearDup.planted.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    def component(start: Long): Set[Long] =
      Iterator.iterate((Set(start), List(start))) { case (seen, todo) =>
        val next = adj(todo.head).filterNot(seen)
        (seen ++ next, todo.tail ++ next)
      }.dropWhile(_._2.nonEmpty).next()._1
    val farApart = adj.keys.exists { a =>
      component(a).exists(b => a < b && !Checks.jaccardAtLeast(shingleSets(a), shingleSets(b)))
    }
    assert(farApart, "no cluster joins two documents below the threshold")
  }

  test("pairs check accepts the planted pairs and rejects a pair below the threshold") {
    val good = nearDup.planted.toSeq.sorted.map { case (a, b) => exact(a, b) }
    assert(Checks.pairs(good, nearDup, 0.98, shingleSets).isEmpty)
    val ids = nearDup.docs.keys.toSeq.sorted
    val (a, b) = ids.combinations(2).map(p => (p(0), p(1)))
      .find(p => !Checks.jaccardAtLeast(shingleSets(p._1), shingleSets(p._2))).get
    assert(Checks.pairs(good :+ ((a, b, 900L)), nearDup, 0.98, shingleSets).nonEmpty)
    assert(Checks.pairs(good.drop(good.size / 4), nearDup, 0.98, shingleSets).nonEmpty, "recall floor")
    val misreported = good.head.copy(_3 = good.head._3 - 1) +: good.tail
    assert(Checks.pairs(misreported, nearDup, 0.98, shingleSets).nonEmpty)
  }

  test("clusters check accepts connected components and rejects a split cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val good = Seq((1L, 1L, 4L, true), (2L, 1L, 4L, false), (3L, 1L, 4L, false), (4L, 1L, 4L, false),
      (10L, 10L, 2L, true), (11L, 10L, 2L, false))
    assert(Checks.clusters(good, pairs).isEmpty)
    val split = good.map {
      case (4L, _, _, _) => (4L, 4L, 1L, true)
      case (n, c, _, k) if c == 1L => (n, c, 3L, k)
      case r => r
    }
    assert(Checks.clusters(split, pairs).nonEmpty)
    assert(Checks.clusters(good.init, pairs).nonEmpty)
  }

  test("every metric BENCHMARK.json names is one the harness reports, and no other") {
    val spec = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8")
    def names(section: String): Seq[String] = {
      val body = spec.substring(spec.indexOf(s""""$section""""))
      val list = body.substring(0, body.indexOf("]"))
      """"name":\s*"([^"]+)"""".r.findAllMatchIn(list).map(_.group(1)).toSeq
    }
    assert(names("end_to_end") == Main.EndToEnd)
    assert(names("per_layer") == Main.Layers)
    assert(names("workloads").forall(Workloads.names.contains))
  }
}
