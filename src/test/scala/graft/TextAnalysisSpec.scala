package graft

import graft.operators.TextAnalysis

/** Behavioral tests for the text-analysis operators on crafted docs —
  * these are oracle-checked end-to-end by Verify; here we pin the
  * SEMANTICS a reader should be able to rely on.
  */
class TextAnalysisSpec extends SparkSpecBase {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the cat and the dog sat in a chair of note"),  // english markers
      (2L, "el gato y la casa de que si no porque"),       // spanish markers
      (3L, "zzz qqq xxx www"),                             // no markers
      (4L, ""),                                            // empty
      (5L, "1234 5678 !!! ???"))                           // digits + punct
      .toDF("doc_id", "text")
  }

  test("langId picks the majority marker language, und on no hits") {
    val got = TextAnalysis.langId(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L)._1 === "en")
    assert(got(2L)._1 === "es")
    assert(got(3L) === ("und", 0L))
    assert(got(4L) === ("und", 0L))
  }

  test("quality: digit/punct-heavy docs score below plain prose") {
    val got = TextAnalysis.quality(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(6)).toMap
    assert(got(1L) > got(5L))
    // scores stay in [0, 1000]
    assert(got.values.forall(s => s >= 0L && s <= 1000L))
  }

  test("tokenCounts: bpe lexer splits letter/digit/symbol runs") {
    import spark.implicits._
    val one = Seq((1L, "ab12!cd  ef")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(one).head()
    assert(r.getLong(1) === 2L) // ws tokens: "ab12!cd", "ef"
    assert(r.getLong(2) === 5L) // ab | 12 | ! | cd | ef
  }

  test("fingerprint: whitespace-normalization-invariant; chunks slide per token") {
    import spark.implicits._
    val pair = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a  b\tc d e f g h i j"), // same tokens, different whitespace
      (3L, "a b c d e f g h i j K")) // one extra token
      .toDF("doc_id", "text")
    val got = TextAnalysis.fingerprint(pair).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L) === got(2L))                 // identical fp + chunk count
    assert(got(1L)._1 !== got(3L)._1)           // content-sensitive
    assert(got(1L)._2 === 3L)                   // 10 tokens, window 8 → 3 windows
    assert(got(3L)._2 === 4L)                   // 11 tokens → 4 windows
  }

  test("overlapPairs finds shifted runs and counts distinct shared windows") {
    import spark.implicits._
    val run = (1 to 10).map(i => s"p$i").mkString(" ") // 10 tokens → 3 windows
    val docs = Seq(
      (1L, run),
      (2L, "z1 z2 z3 " + run),                  // shifted: same 3 p-windows survive
      (3L, (1 to 12).map(i => s"q$i").mkString(" ")), // unrelated
      (4L, run.replace("  ", " ") + ""))        // whitespace twin of 1
      .toDF("doc_id", "text")
    val got = TextAnalysis.overlapPairs(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got === Map(
      (1L, 2L) -> 3L, (1L, 4L) -> 3L, (2L, 4L) -> 3L))
    // minShared prunes: nothing shares 4+ windows
    assert(TextAnalysis.overlapPairs(docs, minShared = 4L).count() === 0)
  }

  test("chunk windows tokens with overlap; short docs are one chunk; empties vanish") {
    import spark.implicits._
    val d = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks, chunk 4 step 3 → 3 chunks
      (2L, "a b"),                                    // under one window
      (3L, "")                                        // no tokens → no rows
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunk(d, chunkTokens = 4, overlapTokens = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getString(3))))
      .toMap
    assert(got === Map(
      (1L, 0L) -> ((4L, "t1 t2 t3 t4")),
      (1L, 1L) -> ((4L, "t4 t5 t6 t7")),   // 1-token overlap
      (1L, 2L) -> ((4L, "t7 t8 t9 t10")),
      (2L, 0L) -> ((2L, "a b"))))
  }

  test("lmScore equals the hand-computed floor-log2 bit model") {
    import spark.implicits._
    // corpus counts: a=3, b=1, c=1, total=5 → bits: a=1, b=2, c=2
    // (bits = lenbin(total) - lenbin(cnt); lenbin(5)=3, lenbin(3)=2, lenbin(1)=1)
    val d = Seq((1L, "a A b"), (2L, "a c"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      1L -> ((3L, 2L * 1 + 1L * 2, (4L * 100) / 3)),  // a a b → 4 bits
      2L -> ((2L, 1L + 2L, 150L))))                   // a c → 3 bits
    // zero-token doc 3 emits nothing
    assert(!got.contains(3L))
  }

  test("lmScore ranks common-word prose as fewer bits/token than rare-word text") {
    import spark.implicits._
    val common = (1 to 20).map(_ => "the").mkString(" ")
    val rare = "zyzzyva qwertyuiop plugh xyzzy"
    val d = Seq((1L, common), (2L, rare), (3L, common), (4L, "the the plugh"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(d).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got(1L) < got(4L) && got(4L) < got(2L))
  }

  test("sourceSimilarity computes exact pairwise vocabulary Jaccard") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c", "A"), (2L, "b c d", "B"), (3L, "x y", "C"),
      (4L, "c B", "A")) // dup words / case fold inside a source collapse
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceSimilarity(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // A = {a,b,c}, B = {b,c,d} → ∩ = 2, ∪ = 4 → 500000
    assert(got(("A", "B")) === ((3L, 3L, 2L, 500000L)))
    // C is disjoint from both → absent rows
    assert(got.keySet === Set(("A", "B")))
  }

  test("lmScoreBigram equals the hand-computed conditional-bit model") {
    import spark.implicits._
    // pairs: d1 = xy,yx,xy,yx,xz ; d2 = xz → counts xy=2 yx=2 xz=2
    // contexts: x=4 (xy+xz), y=2 → bits: xy = 3-2 = 1, xz = 1, yx = 0
    val d = Seq((1L, "x y x y x z"), (2L, "x z"), (3L, "solo"), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.lmScoreBigram(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      1L -> ((5L, 2L * 1 + 2L * 0 + 1L * 1, 300L / 5)),
      2L -> ((1L, 1L, 100L))))
    // <2-token docs emit nothing
    assert(!got.contains(3L) && !got.contains(4L))
  }

  test("lmScoreBigram sees word order where the unigram score cannot") {
    import spark.implicits._
    // identical token MULTISETS, different order
    val d = Seq((1L, "a b a b a b a b"), (2L, "a a a a b b b b"))
      .toDF("doc_id", "text")
    val uni = TextAnalysis.lmScore(d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val bi = TextAnalysis.lmScoreBigram(d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(uni(1L) === uni(2L), "unigram model is order-blind")
    assert(bi(1L) !== bi(2L), "bigram model distinguishes the orders")
  }

  test("scriptMix counts codepoint classes and picks the dominant script") {
    import spark.implicits._
    val d = Seq(
      (1L, "ab 12 عربى 中文 !"), // 2 latin, 2 digit, 4 arabic, 2 cjk, 1 other, 4 space
      (2L, "   "),
      (3L, "hello world")).toDF("doc_id", "text")
    val got = TextAnalysis.scriptMix(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3), r1.getLong(4),
      r1.getLong(5), r1.getLong(6), r1.getLong(7)) ===
      ((15L, 2L, 2L, 4L, 2L, 4L, 1L)))
    assert(r1.getAs[Long]("latin_x1000") === 2000L / 11)
    assert(r1.getAs[String]("dominant") === "arabic")
    assert(got(2L).getAs[String]("dominant") === "none")
    assert(got(3L).getAs[String]("dominant") === "latin")
    assert(got(3L).getAs[Long]("latin_x1000") === 1000L)
  }

  test("nbClassifier learns disjoint vocabularies and generalizes to held-out docs") {
    import spark.implicits._
    // replicate hashBucket to prove the default 80/20 split actually
    // exercises both train membership and held-out scoring here
    def bucket(id: Long): Long =
      ((id % 2147483647L) * 2654435761L) % 4294967296L % 1000L
    val ids = 1L to 100L
    assert(ids.exists(bucket(_) >= 800) && ids.exists(bucket(_) < 800))
    val docs = ids.map { i =>
      if (i % 2 == 0) (i, "apple banana cherry apple", "fruit")
      else (i, "dog emu fox dog", "animal")
    }.toDF("doc_id", "text", "label")
    val got = TextAnalysis.nbClassifier(docs, labelCol = "label")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(4)))).toMap
    assert(got.size === 100)
    // disjoint vocabularies: every doc — train member or held-out —
    // lands on its own class
    assert(got.values.forall(_._2 == 1L))
  }

  test("nbClassifier classifies token-less docs by prior with deterministic ties") {
    import spark.implicits._
    // all-train so the model is exact: 3 x-docs, 2 y-docs, one empty
    // y-doc → priors are 3 vs 3 (the empty doc trains into y's prior),
    // both prior_bits = len(bin(7)) − len(bin(4)) = 0, so the empty
    // doc's cost ties across classes and must break to the
    // lexicographically smaller class "x"
    val docs = Seq(
      (1L, "xa xb", "x"), (2L, "xa xb", "x"), (3L, "xa xb", "x"),
      (4L, "ya yb", "y"), (5L, "ya yb", "y"), (6L, "   ", "y"))
      .toDF("doc_id", "text", "label")
    val got = TextAnalysis.nbClassifier(docs, labelCol = "label",
      trainPerMille = 1000)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(3), r.getLong(4))))
      .toMap
    assert(got.size === 6) // token-less doc still classified
    assert(got(1L) === (("x", "x", 1L)))
    assert(got(5L) === (("y", "y", 1L)))
    assert(got(6L) === (("x", "y", 0L))) // prior tie → smaller class
  }

  test("winnow: density ~2/(w+1), sub-window docs select one fp, empties none") {
    import spark.implicits._
    import scala.util.Random
    val rng = new Random(7)
    // a long random-ish doc: selected density must be well below 1
    // (winnowing keeps ~2/(w+1) = 40% of k-grams for w=4)
    val long = (1 to 400).map(_ => s"w${rng.nextInt(5000)}").mkString(" ")
    val docs = Seq(
      (1L, long),
      (2L, "just three words"), // exactly k tokens -> 1 kgram -> 1 fp
      (3L, "two words"),        // < k tokens -> 0 kgrams
      (4L, "   ")               // no tokens
    ).toDF("doc_id", "text")
    val got = TextAnalysis.winnow(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.get(3), r.get(4)))).toMap
    val (nk, nf, mn, mx) = got(1L)
    assert(nk === 400L - TextAnalysis.WinnowK + 1)
    // guarantee floor: >= one fp per window stride; cap: every window
    // adds at most one new fp
    assert(nf >= nk / TextAnalysis.WinnowWindow && nf < nk)
    assert(mn.asInstanceOf[Long] <= mx.asInstanceOf[Long])
    assert(got(2L) === ((1L, 1L, got(2L)._3, got(2L)._3)))
    assert(got(3L) === ((0L, 0L, null, null)))
    assert(got(4L) === ((0L, 0L, null, null)))
  }

  test("winnowPairs: a shared >= k+w-1 token run pairs docs; df-cap kills stopword buckets") {
    import spark.implicits._
    // docs 1/2 share a 9-token run (>= k+w-1 = 6 ⇒ guaranteed >= 1
    // shared fp; 9 tokens ⇒ 7 shared kgrams ⇒ >= MinShared selected)
    // at DIFFERENT offsets; doc 3 is unrelated.
    val run = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val docs = Seq(
      (1L, s"unrelated prefix tokens here $run"),
      (2L, s"$run completely different suffix material"),
      (3L, "nothing in common with the others at all whatsoever today")
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)))
    assert(pairs((1L, 2L)) >= TextAnalysis.WinnowMinShared)
    assert(pairs.keySet === Set((1L, 2L)))
    // df-cap: IDENTICAL docs in an oversized corpus would pair
    // quadratically, but every one of their fingerprints has
    // df > MaxDocFreq, so all buckets are dropped before the join
    val flood = (1L to (TextAnalysis.WinnowMaxDocFreq + 5L)).map(i =>
      (i, s"the same nine word sentence appears in every doc")).toDF("doc_id", "text")
    assert(TextAnalysis.winnowPairs(flood).count() === 0L)
  }

  // ------------------------------------------------- TF-IDF similarity

  test("tfidfSimilarity pairs identical docs at ~1.0, skips disjoint ones") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),   // identical to 1
      (3L, "epsilon zeta eta theta"),   // disjoint from 1/2
      (4L, "alpha beta iota kappa"))    // half-overlaps 1/2
      .toDF("doc_id", "text")
    val got = TextAnalysis.tfidfSimilarity(d, minCosX1e6 = 100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // identical docs: cos = 1.0 exactly up to the integer floor
    assert(got((1L, 2L)) >= 990000L && got((1L, 2L)) <= 1000000L)
    // disjoint docs never pair (no shared term ⇒ no candidate)
    assert(!got.keySet.exists { case (a, b) => Set(a, b).contains(3L) })
    // partial overlap scores strictly between
    assert(got((1L, 4L)) > 100000L && got((1L, 4L)) < got((1L, 2L)))
  }

  test("tfidfSimilarity df-cap drops corpus-wide terms from pairing") {
    import spark.implicits._
    // "common" appears in every doc; with maxDf = 2 it cannot pair
    // anything, and the docs share nothing else
    val d = Seq(
      (1L, "common aaa"), (2L, "common bbb"), (3L, "common ccc"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.tfidfSimilarity(d, maxDf = 2L, minCosX1e6 = 1L).count() === 0L)
  }

  // ------------------------------------------------- TextRank keywords

  test("keywords ranks the co-occurrence hub first") {
    import spark.implicits._
    // "hub" is adjacent to six distinct words; the others see two
    val d = Seq(
      (1L, "aaa hub bbb hub ccc hub ddd"),
      (2L, "eee hub fff"),
      (3L, "aaa bbb"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.keywords(d, k = 3).collect()
    assert(got.head.getString(0) === "hub")
    assert(got.length === 3)
    // ranks are the exact integer PageRank values — all positive
    assert(got.forall(_.getLong(1) > 0L))
  }

  test("keywords k caps the output and single-token docs contribute nothing") {
    import spark.implicits._
    val d = Seq((1L, "solo"), (2L, "aaa bbb ccc")).toDF("doc_id", "text")
    val got = TextAnalysis.keywords(d, k = 10)
      .collect().map(_.getString(0)).toSet
    // "solo" has no adjacency — absent; the chain's 3 words all rank
    assert(got === Set("aaa", "bbb", "ccc"))
  }
}
