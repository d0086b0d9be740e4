package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** The text corpus the golden, multimodal and streaming specs read:
  * `books/` (several `.txt` files) and a sibling `one_book/`.
  *
  * When the reference's Project Gutenberg sample (FIXTURES.md) is on
  * disk, its directories are used as they are. Otherwise a seeded
  * stand-in is written once per test JVM into a temp dir (about 2 MB,
  * deleted at JVM exit). The stand-in keeps the properties the specs
  * assert of the real corpus:
  *   - every book is over 128 KB, so a 128 KB max-split cuts each one
  *     into several pieces;
  *   - no token is longer than 255 characters and none carries an
  *     Arabic diacritic (GoldenCorpusSpec invariant 4);
  *   - lines hold no whitespace but spaces, so the lines source's
  *     space trim leaves no `\s` at either end;
  *   - one book starts with a UTF-8 BOM and one uses CRLF line ends,
  *     the two byte-level cases the chunked scan's reassembly handles.
  */
object TestCorpus {

  private val Reference = Paths.get("/root/reference/example/sample_data")

  private lazy val root: Path =
    if (Files.isDirectory(Reference.resolve("books")) &&
        Files.isDirectory(Reference.resolve("one_book"))) Reference
    else generate()

  lazy val booksDir: String = root.resolve("books").toString

  lazy val oneBookDir: String = root.resolve("one_book").toString

  private def generate(): Path = {
    val dir = Files.createTempDirectory("graft_corpus")
    sys.addShutdownHook {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
    val rnd = new scala.util.Random(20261019L)
    val books = Files.createDirectories(dir.resolve("books"))
    val one = Files.createDirectories(dir.resolve("one_book"))
    for (i <- 0 until 6) {
      val text = book(rnd, 150000 + rnd.nextInt(200000))
      val body = if (i == 3) text.replace("\n", "\r\n") else text
      write(books.resolve(f"book_$i%02d.txt"), if (i == 1) "\uFEFF" + body else body)
    }
    write(one.resolve("single_book.txt"), book(rnd, 140000))
    dir
  }

  private def write(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))

  // a few accented words, so non-ASCII case pairs reach the dedup key
  private val Accented = Vector("café", "Café", "naïve", "Ångström", "über", "Über", "façade")
  private val Punct = Vector("", "", "", "", ",", ",", ".", ";", ":", "!", "?", "\"")

  /** Paragraphs of wrapped prose over a Zipf-skewed vocabulary, about
    * `bytes` long. */
  private def book(rnd: scala.util.Random, bytes: Int): String = {
    val vocab = Vector.fill(4000) {
      val len = 1 + rnd.nextInt(11)
      Iterator.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    }
    def word(): String = {
      // rank ~ 1/u gives a heavy head: most tokens repeat within a book
      val w =
        if (rnd.nextInt(200) == 0) Accented(rnd.nextInt(Accented.size))
        else vocab(math.min(vocab.size - 1, (1.0 / (1e-3 + rnd.nextDouble())).toInt * 3 + rnd.nextInt(3)))
      val cased = rnd.nextInt(20) match {
        case 0 => w.toUpperCase
        case 1 | 2 => w.capitalize
        case _ => w
      }
      cased + Punct(rnd.nextInt(Punct.size))
    }
    val sb = new StringBuilder
    while (sb.length < bytes) {
      val indent = if (rnd.nextInt(4) == 0) "    " else ""
      val lines = 2 + rnd.nextInt(12)
      for (_ <- 0 until lines) {
        val line = new StringBuilder(indent)
        while (line.length < 60 + rnd.nextInt(15)) {
          if (line.length > indent.length) line.append(' ')
          line.append(word())
        }
        sb.append(line).append('\n')
      }
      sb.append('\n')
    }
    sb.toString
  }
}
