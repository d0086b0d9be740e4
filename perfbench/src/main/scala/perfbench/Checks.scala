package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import perfbench.Gen.{FileTruth, NearDupTruth}

/** Output checks computed apart from the program: each takes the rows an
  * operation produced and the truth the generator recorded, and returns
  * `None` when they agree or `Some(reason)` when they do not.
  */
object Checks {

  /** One sink row of the reference's canonical query. */
  final case class WsRow(word: String, wordLen: Long, truncated: Boolean, file: String, wordsCount: Long)

  /** The reference's `file` column: the last five '/'-separated path
    * components, cut to 269 characters. */
  def fileColumn(path: String): String = path.split("/", -1).takeRight(5).mkString("/").take(269)

  private def expectedRows(truth: Seq[FileTruth]): Iterator[WsRow] = truth.iterator.flatMap { t =>
    val file = fileColumn(t.path.toString)
    t.firsts.iterator.map { w =>
      WsRow(w.take(254), w.count(c => Gen.Diacritics.indexOf(c) < 0).toLong, w.length > 255, file, t.wordsCount)
    }
  }

  private def counts(rows: Iterator[WsRow]): java.util.HashMap[WsRow, Integer] = {
    val m = new java.util.HashMap[WsRow, Integer]()
    rows.foreach(r => m.merge(r, 1, (a: Integer, b: Integer) => a + b))
    m
  }

  /** Order-independent digest of a row multiset: the wrapping sum of a
    * 64-bit hash of each row. */
  private def digest(rows: Iterator[WsRow]): Long = {
    var sum = 0L
    rows.foreach { r =>
      val h = (r.hashCode.toLong << 32) | (MurmurHash3.orderedHash(r.productIterator, 0x5eed) & 0xffffffffL)
      sum += java.lang.Long.rotateLeft(h * 0x9E3779B97F4A7C15L, 31) * 0xBF58476D1CE4E5B9L
    }
    sum
  }

  /** Word-stats truth: the expected row count and digest, and the row
    * multiset itself when a check has to say what differs. */
  final class WordStatsTruth(val files: Vector[FileTruth]) {
    val rows: Long = files.map(_.firsts.size.toLong).sum
    val digest: Long = Checks.digest(expectedRows(files))
    lazy val expected: java.util.Map[WsRow, Integer] = counts(expectedRows(files))
  }

  /** Every row must be an expected row, as often as expected. The count
    * and digest decide; the multisets are compared only to name the
    * first difference. */
  def wordStats(what: String, actual: Seq[WsRow], truth: WordStatsTruth): Option[String] = {
    if (actual.size == truth.rows && digest(actual.iterator) == truth.digest) None
    else {
      val got = counts(actual.iterator)
      def n(m: java.util.Map[WsRow, Integer], r: WsRow): Int = m.getOrDefault(r, 0)
      val extra = got.keySet.asScala.find(r => n(truth.expected, r) < n(got, r))
      val missing = truth.expected.keySet.asScala.find(r => n(got, r) < n(truth.expected, r))
      Some(s"$what: ${actual.size} rows, expected ${truth.rows}; " +
        s"first unexpected ${extra.map(short)}, first missing ${missing.map(short)}")
    }
  }

  private def short(r: WsRow): String =
    r.copy(word = r.word.take(40), file = r.file.takeRight(40)).toString

  /** Read back a `;`-separated, header-less CSV sink directory. */
  def readCsv(dir: Path): Vector[WsRow] = {
    val parts = Files.list(dir)
    val files = try parts.iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).toVector.sorted
    finally parts.close()
    files.flatMap { f =>
      new String(Files.readAllBytes(f), UTF_8).split("\n").iterator.filter(_.nonEmpty).map { line =>
        val c = line.split(";", -1)
        require(c.length == 5, s"CSV line with ${c.length} fields in $f: ${line.take(80)}")
        WsRow(c(0), c(1).toLong, c(2).toBoolean, c(3), c(4).toLong)
      }
    }
  }

  // ---------------------------------------------------------------- near-dup

  /** Distinct word 3-grams of a token sequence, space-joined. */
  def shingles(toks: Array[String]): java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    var i = 0
    while (i + 2 < toks.length) { s.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2)); i += 1 }
    s
  }

  /** (|A ∩ B|, |A ∪ B|). */
  def interUnion(a: java.util.Set[String], b: java.util.Set[String]): (Long, Long) = {
    val (small, big) = if (a.size <= b.size) (a, b) else (b, a)
    val inter = small.asScala.count(big.contains).toLong
    (inter, a.size + b.size - inter)
  }

  /** Jaccard ≥ 0.8, in integers. */
  def jaccardAtLeast(a: java.util.Set[String], b: java.util.Set[String]): Boolean = {
    val (i, u) = interUnion(a, b)
    i * 1000 >= u * 800
  }

  /** Emitted pairs `(doc_a, doc_b, jaccard_x1000)`: each has doc_a <
    * doc_b, appears once, reaches Jaccard 0.8 when recomputed from the
    * documents, and reports the floor of 1000·J; together they recall
    * at least `recallFloor` of the planted pairs. */
  def pairs(got: Seq[(Long, Long, Long)], truth: NearDupTruth, recallFloor: Double,
      shingleOf: Long => java.util.Set[String]): Option[String] = {
    val keys = got.map(p => (p._1, p._2))
    val bad = got.iterator.map { case (a, b, j) =>
      if (a >= b) Some(s"pair ($a, $b) is not ordered")
      else if (!truth.docs.contains(a) || !truth.docs.contains(b)) Some(s"pair ($a, $b) names an unknown document")
      else {
        val (i, u) = interUnion(shingleOf(a), shingleOf(b))
        if (i * 1000 < u * 800) Some(s"pair ($a, $b) has Jaccard $i/$u < 0.8")
        else if (j != i * 1000 / u) Some(s"pair ($a, $b) reports jaccard_x1000 $j, exact is ${i * 1000 / u}")
        else None
      }
    }.collectFirst { case Some(e) => e }
    lazy val recall = keys.count(truth.planted.contains).toDouble / math.max(1, truth.planted.size)
    bad.orElse {
      if (keys.distinct.size != keys.size) Some("a pair is emitted more than once")
      else if (recall < recallFloor) Some(f"recall $recall%.4f of ${truth.planted.size} planted pairs is below $recallFloor")
      else None
    }
  }

  /** Resolved clusters `(doc_id, cluster_id, cluster_size, is_canonical)`
    * must be exactly the connected components of the pairs, found here
    * by union-find: one row per document in a pair, the component's
    * minimum id as cluster id, its size, and canonical iff the document
    * is that minimum. */
  def clusters(got: Seq[(Long, Long, Long, Boolean)], pairs: Seq[(Long, Long)]): Option[String] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = parent.keys.toVector
    val members = nodes.groupBy(find)
    val expected = nodes.map { n =>
      val m = members(find(n))
      (n, m.min, m.size.toLong, n == m.min)
    }.sorted
    val actual = got.sorted
    if (actual == expected) None
    else {
      val diff = actual.zipAll(expected, null, null).find { case (a, e) => a != e }
      Some(s"clusters: ${actual.size} rows, expected ${expected.size} over ${members.size} components; " +
        s"first difference (got, expected) = ${diff.getOrElse("")}")
    }
  }
}
