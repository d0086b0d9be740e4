package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. The program under test never sees the seed:
  * it only reads the files written here. Every generator also records,
  * in plain JVM code, the truth that [[Checks]] compares outputs with.
  * `SplittableRandom` is a specified algorithm, so one seed gives
  * byte-identical files on every JVM.
  */
object Gen {

  /** The eight Arabic diacritics the program strips for `word_len`. */
  val Diacritics: String = "\u064B\u064C\u064D\u064E\u064F\u0650\u0651\u0652"
  private val ArabicLetters: String =
    (((0x0628 to 0x063A) ++ (0x0641 to 0x064A)).filter(_ != 0x0629)).map(_.toChar).mkString

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      var acc = 0.0
      val c = new Array[Double](n)
      var i = 0
      while (i < n) { acc += w(i); c(i) = acc; i += 1 }
      c.map(_ / acc)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def asciiWord(r: SplittableRandom, len: Int): String = {
    val b = new java.lang.StringBuilder(len)
    var i = 0
    while (i < len) { b.append(('a' + r.nextInt(26)).toChar); i += 1 }
    b.toString
  }

  /** An Arabic word with diacritics after some letters. */
  private def arabicWord(r: SplittableRandom, letters: Int): String = {
    val b = new java.lang.StringBuilder
    var i = 0
    while (i < letters) {
      b.append(ArabicLetters.charAt(r.nextInt(ArabicLetters.length)))
      if (r.nextInt(3) == 0) b.append(Diacritics.charAt(r.nextInt(Diacritics.length)))
      i += 1
    }
    b.toString
  }

  /** Distinct lower-case vocabulary, most frequent first. Which ranks are
    * Arabic (one in `arabicEvery`, none when 0) and how long each word is
    * come from a fixed stream, the same for every seed; only the letters
    * follow the seed. The token mix, and so the cost per byte, then does
    * not depend on the seed. */
  def vocabulary(r: SplittableRandom, n: Int, arabicEvery: Int = 20): Array[String] = {
    val shape = new SplittableRandom(0x5eedL)
    val seen = new java.util.LinkedHashSet[String]()
    (0 until n).foreach { i =>
      val arabic = arabicEvery > 0 && i % arabicEvery == arabicEvery / 2
      val len = if (arabic) 2 + shape.nextInt(7) else 2 + shape.nextInt(3) + shape.nextInt(10)
      var tries = 0
      // short lengths run out of distinct words in a large vocabulary
      while (!seen.add(if (arabic) arabicWord(r, len + tries / 8) else asciiWord(r, len + tries / 8)))
        tries += 1
    }
    seen.toArray(new Array[String](0))
  }

  private def caseVariant(r: SplittableRandom, w: String): String = {
    val x = r.nextInt(100)
    if (x < 8) w.toUpperCase(java.util.Locale.ROOT)
    else if (x < 20) w.substring(0, 1).toUpperCase(java.util.Locale.ROOT) + w.substring(1)
    else w
  }

  /** Whitespace runs between tokens: every kind `\s` matches. */
  private val InlineSeps = Array(" ", " ", " ", " ", " ", "  ", "\t", " \t ", "\u000B", "\f", "   ")
  private val AnySeps = InlineSeps ++ Array("\n", "\r\n", "\n\n", " \r ", "\n \t")

  /** Token stream of the word-stats corpus: Zipf draws over the
    * vocabulary, upper/capitalised variants of the same word, and now
    * and then a token longer than 255 characters, some of them Arabic
    * with diacritics, so that `word_len` differs from the raw length. */
  final class TokenSource(r: SplittableRandom, vocabSize: Int) {
    private val vocab = vocabulary(r, vocabSize)
    private val zipf = new Zipf(vocabSize, 1.05)
    private val longWords = Array.tabulate(24) { i =>
      if (i % 3 == 0) arabicWord(r, 200 + r.nextInt(60)) else asciiWord(r, 230 + r.nextInt(80))
    }
    private var n = 0L
    /** Every 700th token is a long word. */
    def next(): String = {
      n += 1
      if (n % 700 == 0) caseVariant(r, longWords(r.nextInt(longWords.length)))
      else caseVariant(r, vocab(zipf.sample(r)))
    }
  }

  // ---------------------------------------------------------------- word stats

  /** Truth for one file: its token total and the first-seen original
    * form of each case-normalised word, in first-seen order. */
  final case class FileTruth(path: Path, wordsCount: Long, firsts: Vector[String])

  private final class TruthBuilder(path: Path) {
    private val firsts = Vector.newBuilder[String]
    private val seen = new java.util.HashSet[String]()
    private var n = 0L
    def add(tok: String): Unit = {
      n += 1
      if (seen.add(tok.toLowerCase(java.util.Locale.ROOT))) firsts += tok
    }
    def result(): FileTruth = FileTruth(path, n, firsts.result())
  }

  private def write(path: Path, text: CharSequence): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.toString.getBytes(UTF_8))
  }

  /** Many small files under `root/corpus/`. A quarter sit below a long
    * directory and carry a long name, so the sink's `file` column (the
    * last five path components) exceeds 269 characters and is cut. */
  def smallFiles(root: Path, seed: Long, nFiles: Int, minTokens: Int, maxTokens: Int): Vector[FileTruth] = {
    val r = new SplittableRandom(seed)
    val toks = new TokenSource(r.split(), 6000)
    val longDir = "l" * 120
    (0 until nFiles).toVector.map { i =>
      val group = f"g${i % 8}%02d"
      val path =
        if (i % 4 == 3) root.resolve("corpus").resolve("src").resolve(group).resolve(longDir)
          .resolve(f"f$i%05d_" + "x" * 150 + ".txt")
        else root.resolve("corpus").resolve("src").resolve(group).resolve("en").resolve(f"f$i%05d.txt")
      val truth = new TruthBuilder(path)
      val sb = new java.lang.StringBuilder
      if (r.nextInt(3) == 0) sb.append(AnySeps(r.nextInt(AnySeps.length)))
      val n = minTokens + r.nextInt(maxTokens - minTokens + 1)
      var k = 0
      while (k < n) {
        val t = toks.next()
        truth.add(t)
        sb.append(t).append(AnySeps(r.nextInt(AnySeps.length)))
        k += 1
      }
      write(path, sb)
      truth.result()
    }
  }

  // ---------------------------------------------------------------- near-dup

  /** Documents (id → tokens) and the planted pairs whose exact word
    * 3-gram Jaccard is at least 0.8: the recall target. */
  final case class NearDupTruth(docs: Map[Long, Array[String]], planted: Set[(Long, Long)], chains: Int)

  /** Replace `m` distinct positions with other vocabulary words. */
  private def edit(r: SplittableRandom, doc: Array[String], m: Int, vocab: Array[String], zipf: Zipf): Array[String] = {
    val out = doc.clone()
    val pos = new java.util.HashSet[Integer]()
    while (pos.size < math.min(m, doc.length)) pos.add(r.nextInt(doc.length))
    pos.forEach { p =>
      var w = vocab(zipf.sample(r))
      while (w == out(p)) w = vocab(zipf.sample(r))
      out(p) = w
    }
    out
  }

  /** Base documents with planted clusters: exact copies, pairs, stars
    * (one base, several variants) and chains whose neighbours are
    * near-duplicates but whose ends are not, so cluster resolution
    * must connect them over more than one contraction round. Ids are a
    * seeded permutation, so cluster members are not adjacent. */
  def nearDupCorpus(root: Path, seed: Long, nBase: Int): NearDupTruth = {
    val r = new SplittableRandom(seed)
    val vocab = vocabulary(r.split(), 20000, arabicEvery = 0)
    val zipf = new Zipf(vocab.length, 0.9)
    def base(): Array[String] = Array.fill(140 + r.nextInt(140))(vocab(zipf.sample(r)))
    val groups = Vector.newBuilder[Vector[Array[String]]]
    var chains = 0
    // the mix of shapes is fixed by position, so every seed plants the
    // same number of documents and pairs of each kind
    (0 until nBase).foreach { i =>
      val b = base()
      val size = 3 + (i / 20) % 3
      groups += (i % 20 match {
        case k if k < 9 => Vector(b)
        case 9 => Vector(b, b.clone())
        case k if k < 14 => Vector(b, edit(r, b, 1 + r.nextInt(5), vocab, zipf))
        case k if k < 17 => b +: Vector.fill(size)(edit(r, b, 2 + r.nextInt(4), vocab, zipf))
        case _ =>
          chains += 1
          Vector.iterate(b, size + 1)(d => edit(r, d, 2 + d.length / 60, vocab, zipf))
      })
    }
    val all = groups.result()
    val n = all.map(_.size).sum
    val ids = {
      val a = Array.tabulate(n)(i => 100000L + i)
      var i = n - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    var next = 0
    val docs = Map.newBuilder[Long, Array[String]]
    val planted = Set.newBuilder[(Long, Long)]
    all.foreach { g =>
      val gid = g.map { d => val id = ids(next); next += 1; docs += id -> d; id }
      for (i <- g.indices; j <- i + 1 until g.size
           if Checks.jaccardAtLeast(Checks.shingles(g(i)), Checks.shingles(g(j)))) {
        planted += ((math.min(gid(i), gid(j)), math.max(gid(i), gid(j))))
      }
    }
    val out = docs.result()
    out.keys.toVector.sorted.foreach { id =>
      val toks = out(id)
      val sb = new java.lang.StringBuilder
      toks.foreach(t => sb.append(t).append(if (r.nextInt(12) == 0) "\n" else " "))
      write(root.resolve("corpus").resolve(f"p${id % 16}%02d").resolve(s"d$id.txt"), sb)
    }
    NearDupTruth(out, planted.result(), chains)
  }

  /** Total bytes of the regular files below `root`. */
  def bytesUnder(root: Path): Long = {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
