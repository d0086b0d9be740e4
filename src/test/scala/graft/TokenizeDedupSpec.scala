package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Scalars
import graft.operators.{Dedup, Tokenize}

/** Tokenizer parity against a JVM model of the reference semantics,
  * plus the dedup algebra laws (keep-first XOR duplicates-only,
  * aggregators.py:127), including adversarial input column names that
  * collide with operator internals.
  */
class TokenizeDedupSpec extends SparkSpecBase {

  // -- model: Python re.split("\s+") ≈ Java split(regex, -1); blanks
  //    (empty or whitespace-only) dropped but POSITIONS kept.
  private def modelTokens(text: String): Seq[(Int, String)] =
    text.split("\\s+", -1).zipWithIndex
      .collect { case (w, i) if w.nonEmpty && !w.matches("^\\s+$") => (i, w) }
      .toSeq

  private val genText: Gen[String] = for {
    n <- Gen.chooseNum(0, 30)
    ws <- Gen.listOfN(n, Gen.oneOf(
      Gen.oneOf("the", "The", "a", "b", "word", "WORD", "x;y", "é"),
      Gen.listOfN(3, Gen.alphaNumChar).map(_.mkString)))
    seps <- Gen.listOfN(n + 1, Gen.oneOf(" ", "  ", "\t", "\n", " \t "))
  } yield seps.head + ws.zip(seps.tail).map { case (w, s) => w + s }.mkString

  private lazy val texts: Seq[String] = {
    val random = Gen.listOfN(120, genText)(Gen.Parameters.default, Seed(7L)).getOrElse(Nil)
    Seq("", " ", "one", " lead", "trail ", "a  b", "A a b A", "x\ty\nz") ++ random
  }

  private lazy val docs = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc", "text")
  }

  test("splitTokens matches the re.split model, positions included") {
    val got = Tokenize.splitTokens(inputCol = "text")(docs)
      .select(col("doc"), col("pos"), col("word"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    val expected = texts.zipWithIndex.flatMap { case (t, i) =>
      modelTokens(t).map { case (p, w) => (i.toLong, p, w) }
    }.toSet
    assert(got === expected)
  }

  test("keepFirst ∪ duplicatesOnly partitions the token stream exactly") {
    val tokens = Tokenize.splitTokens(inputCol = "text")(docs).cache()
    val firsts = Dedup.keepFirst(Seq("doc"), "word", "pos")(tokens)
    val dups = Dedup.duplicatesOnly(Seq("doc"), "word", "pos")(tokens)

    assert(firsts.count() + dups.count() === tokens.count())
    // no (doc, norm) key twice in firsts
    val dupKeys = firsts
      .groupBy(col("doc"), Scalars.wordNorm(col("word"))).count()
      .filter(col("count") > 1)
    assert(dupKeys.count() === 0)
    // firsts pick the MINIMUM position per key
    val minPos = tokens
      .groupBy(col("doc"), Scalars.wordNorm(col("word")).as("n"))
      .agg(min("pos").as("mp"))
    val joined = firsts
      .join(minPos,
        firsts("doc") === minPos("doc") &&
          Scalars.wordNorm(firsts("word")) === minPos("n"))
      .filter(col("pos") =!= col("mp"))
    assert(joined.count() === 0)
    tokens.unpersist()
  }

  test("first-seen emits the ORIGINAL casing of the first occurrence") {
    import spark.implicits._
    val df = Seq((1L, "The the THE a A the")).toDF("doc", "text")
    val firsts = Dedup.keepFirst(Seq("doc"), "word", "pos")(
      Tokenize.splitTokens(inputCol = "text")(df))
      .select("word", "pos").collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(firsts === Set(("The", 0), ("a", 3)))
    val dups = Dedup.duplicatesOnly(Seq("doc"), "word", "pos")(
      Tokenize.splitTokens(inputCol = "text")(df))
      .select("word", "pos").collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(dups === Set(("the", 1), ("THE", 2), ("A", 4), ("the", 5)))
  }

  test("operators survive adversarial input column names") {
    import spark.implicits._
    // Every reserved-looking name an operator uses internally, as USER data.
    val df = Seq(
      (1L, "junk", "junk", "junk", "junk", "junk", "junk", "B b a B"))
      .toDF("doc", "pos", "word", "__tok", "__norm", "__first", "__rn", "text")

    val toks = Tokenize.splitTokens(inputCol = "text")(df)
    // pos/word are replaced per contract; junk columns carried through.
    assert(toks.columns.count(_ == "pos") === 1)
    assert(toks.columns.count(_ == "word") === 1)
    assert(toks.select("__tok", "__norm", "__first", "__rn").distinct().collect()
      .map(_.toSeq).toSeq === Seq(Seq("junk", "junk", "junk", "junk")))

    val firsts = Dedup.keepFirst(Seq("doc"), "word", "pos")(toks)
    assert(firsts.select("word", "pos").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet === Set(("B", 0), ("a", 2)))

    val dups = Dedup.duplicatesOnly(Seq("doc"), "word", "pos")(toks)
    assert(dups.select("word", "pos").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet === Set(("b", 1), ("B", 3)))
  }

  test("cjkNgrams: exact grams + positions on a whitespace-free string") {
    import spark.implicits._
    // a CJK-style string \s+ tokenization would keep as ONE token
    val df = Seq((1L, "天地玄黄宇宙"), (2L, "ab"), (3L, ""), (4L, "xyz"))
      .toDF("doc_id", "text")
    val got = Tokenize.cjkNgrams("text", n = 3)(df)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got === Set(
      (1L, 0, "天地玄"), (1L, 1, "地玄黄"), (1L, 2, "玄黄宇"), (1L, 3, "黄宇宙"),
      (4L, 0, "xyz")))
    // shorter-than-n texts emit NOTHING (the descending-sequence guard)
    assert(!got.exists(g => g._1 == 2L || g._1 == 3L))
  }

  test("cjkNgrams matches a JVM sliding-window model on random text (n=1,2,3)") {
    val df = docs
    for (n <- Seq(1, 2, 3)) {
      val got = Tokenize.cjkNgrams("text", n = n)(df)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val want = texts.zipWithIndex.flatMap { case (t, i) =>
        t.sliding(n).zipWithIndex.collect {
          case (g, p) if g.length == n => (i.toLong, p, g)
        }
      }.toSet
      assert(got === want, s"mismatch at n=$n")
    }
  }

  test("cjkNgrams output feeds the dedup machinery like word tokens do") {
    import spark.implicits._
    // two near-identical whitespace-free docs + one unrelated: gram-set
    // Jaccard separates them where \s+ tokens (one giant token each)
    // see zero overlap
    val df = Seq(
      (1L, "春眠不觉晓处处闻啼鸟"),
      (2L, "春眠不觉晓处处闻蹄鸟"), // one codepoint changed
      (3L, "红豆生南国此物最相思")).toDF("doc_id", "text")
    val grams = Tokenize.cjkNgrams("text", n = 2)(df)
    // keepFirst (the dedup aggregator) consumes grams as words
    val first = Dedup.keepFirst(Seq("doc_id"), "gram", "pos")(grams)
    assert(first.count() > 0)
    def gramSet(id: Long) = grams.filter(col("doc_id") === id)
      .select("gram").collect().map(_.getString(0)).toSet
    def jac(a: Set[String], b: Set[String]) =
      a.intersect(b).size.toDouble / a.union(b).size
    assert(jac(gramSet(1L), gramSet(2L)) > 0.6)
    assert(jac(gramSet(1L), gramSet(3L)) === 0.0)
  }

  test("arabic tokenizer: reference class edges (marbuta splits, digits excluded)") {
    import spark.implicits._
    val df = Seq(
      (1L, "مدرسة كبيرة"),     // teh marbuta splits the run
      (2L, "العدد ١٢٣ كبير"),  // Arabic-Indic digits excluded
      (3L, "plain english"),   // no Arabic → no tokens
      (4L, "والـكتاب"))        // tatweel kept inside a run
      .toDF("id", "text")
    val out = Tokenize.arabicTokens(inputCol = "text", stripDiacritics = false)(df)
      .select(col("id"), col("word")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set(
      (1L, "مدرس"), (1L, "كبير"),
      (2L, "العدد"), (2L, "كبير"),
      (4L, "والـكتاب")))
  }
}
