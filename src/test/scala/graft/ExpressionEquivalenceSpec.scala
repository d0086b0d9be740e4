package graft

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.{DistinctShingles, DotProductLong}
import graft.functions.Scalars
import graft.operators.{Dedup, FoldGroup, Tokenize, WordStats}
import org.apache.spark.sql.graft.ColumnAdapter

/** Randomized (fixed-seed) equivalence harness for the custom codegen
  * expressions: each must be indistinguishable from the composable HOF
  * form it replaced, on arbitrary inputs — the property that justifies
  * calling them an optimization rather than a semantic change. Inputs
  * run through actual Spark plans (codegen path), not expression eval.
  */
class ExpressionEquivalenceSpec extends SparkSpecBase {

  private def dotNative(a: Column, b: Column): Column =
    ColumnAdapter.column(DotProductLong(
      ColumnAdapter.expression(a), ColumnAdapter.expression(b)))

  private def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  private def shinglesNative(toks: Column, n: Int): Column =
    ColumnAdapter.column(DistinctShingles(ColumnAdapter.expression(toks), n))

  private def shinglesHof(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o + 1)): _*))
    when(size(toks) >= n, array_distinct(grams))
      .otherwise(array().cast("array<string>"))
  }

  test("DotProductLong equals the HOF dot on random equal-length vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    val rows = (0 until 500).map { _ =>
      val d = 1 + rnd.nextInt(48)
      def vec() = Array.fill(d)(rnd.nextLong() % 10000000L)
      (vec(), vec())
    }
    val df = rows.toDF("a", "b")
      .select(dotNative(col("a"), col("b")).as("n"),
        dotHof(col("a"), col("b")).as("h"))
    assert(df.filter(col("n") =!= col("h")).count() === 0)
  }

  test("DistinctShingles equals the HOF chain on random token arrays") {
    import spark.implicits._
    // small vocab on purpose: forces duplicate tokens AND duplicate
    // shingles, so the first-occurrence dedup order is actually
    // exercised; includes multi-byte UTF-8 tokens
    val vocab = Vector("a", "b", "c", "ab", "xyz", "Ω≠", "7")
    val rnd = new scala.util.Random(4242L)
    val docs = (0 until 400).map { _ =>
      Array.fill(rnd.nextInt(31))(vocab(rnd.nextInt(vocab.size)))
    }
    for (n <- Seq(1, 2, 3, 5)) {
      val df = docs.toDF("toks")
        .select(shinglesNative(col("toks"), n).as("nat"),
          shinglesHof(col("toks"), n).as("hof"))
      assert(df.filter(col("nat") =!= col("hof")).count() === 0,
        s"mismatch at n=$n")
    }
  }

  /** WordStats as the composed plan its FirstWords kernel replaced:
    * count by a second split, posexplode, then the first-seen hash
    * aggregation keyed by (doc, words_count, carry, lower(trim(word))). */
  private def wordStatsComposed(docs: org.apache.spark.sql.DataFrame) = {
    val base = docs.select("doc_id", "text", "file")
      .withColumn("words_count", FoldGroup.tokenCountExpr(col("text")))
    Dedup.keepFirst(Seq("doc_id", "words_count", "file"), "word", "pos")(
      Tokenize.splitTokens(inputCol = "text")(base))
      .select(col("doc_id"),
        Scalars.truncate254(col("word")).as("word"),
        length(Scalars.removeDiac(col("word"))).cast("long").as("word_len"),
        Scalars.lenGt255(col("word")).as("word_truncated"),
        col("words_count"), col("file"))
  }

  test("FirstWords: WordStats equals the split + keepFirst composition on adversarial text") {
    import spark.implicits._
    import java.nio.charset.StandardCharsets.UTF_8
    val rnd = new scala.util.Random(20261019L)
    def letters(n: Int, alphabet: String) =
      Iterator.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    // capitals ICU lowers differently from the JDK (its Unicode tables
    // are newer), so the ICU conf changes some dedup keys
    val icuOnly = (0x80 to 0x1FFFF).iterator.map(cp => new String(Character.toChars(cp)))
      .filter(c => UCharacter.toLowerCase(c) != c.toLowerCase).take(3).toSeq
    // around the 254/255 truncation edges: case variants of one long
    // word, multi-byte letters (chars != bytes), Arabic with and
    // without diacritics (word_len strips them)
    val long = Seq(254, 255, 256, 300, 317).flatMap { n =>
      val w = letters(n, "abcdefghij")
      Seq(w, w.toUpperCase, w.capitalize, letters(n - 1, "éßΣ") + "İ",
        letters(n, "كتبمحد"), letters(n, "كَتُبِ"))
    }
    val words: Vector[String] = Vector(
      "Apple", "apple", "APPLE", "aPPle",
      "İstanbul", "istanbul", "ISTANBUL", "ıstanbul", "İ", "i", "I", "ı",
      "Σ", "σ", "ς", "ΣΟΦΟΣ", "σοφος", "σοφοσ", "ß", "SS", "ss", "ẞ", "straße", "STRASSE",
      "ǅ", "ǆ", "Ǆ", "é", "É", "e\u0301", "E\u0301", "\uD801\uDC00", "\uD801\uDC28", "😀",
      "كَتَبَ", "كتب", "كُتُب", "مُحَمَّدٌ", "محمد",
      // Unicode spaces outside \s stay inside tokens
      "a\u00A0b", "\u00A0", "\u3000", "x\u3000y", "\u2028", "\u0085z",
      "x", "7", "-", "'") ++ long ++ icuOnly ++ icuOnly.map(c => UCharacter.toLowerCase(c))
    val malformed: Vector[Array[Byte]] = Vector(
      Seq(0xC0, 0xAF), Seq(0xED, 0xA0, 0x80), Seq(0xF4, 0x90, 0x80, 0x80),
      Seq(0xE2, 0x82), Seq(0x80), Seq(0xFF), Seq(0xF5, 0x41))
      .map(_.map(_.toByte).toArray)
    val spaces = Array[Byte](32, 9, 10, 11, 12, 13) // Java's \s: space \t \n \x0B \f \r
    def run(min: Int) = Array.fill(min + rnd.nextInt(4))(spaces(rnd.nextInt(spaces.length)))
    def word() = words(rnd.nextInt(words.size)).getBytes(UTF_8)
    def token(): Array[Byte] = rnd.nextInt(30) match {
      case 0 => malformed(rnd.nextInt(malformed.size))
      case 1 => word() ++ malformed(rnd.nextInt(malformed.size)) ++ word()
      case _ => word()
    }
    def doc(): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      if (rnd.nextInt(5) == 0) out.write("\uFEFF".getBytes(UTF_8))
      out.write(run(0))
      for (i <- 0 until rnd.nextInt(40)) {
        if (i > 0) out.write(run(1))
        out.write(token())
      }
      out.write(run(0))
      out.toByteArray
    }
    val rows = (0 until 300).map { i =>
      val raw = i match {
        case 0 => null
        case 1 => Array.emptyByteArray
        case 2 => run(1)
        case _ => doc()
      }
      (if (i == 3) None else Some(i.toLong),
        if (i % 7 == 0) None else Some(s"f${i % 11}"), raw)
    }
    // binary → string keeps the bytes as they are, malformed or not
    val docs = rows.toDF("doc_id", "file", "raw")
      .select(col("doc_id"), col("file"), col("raw").cast("string").as("text"))
    assert(docs.filter(!expr("is_valid_utf8(text)")).count() > 0)
    val key = "spark.sql.icu.caseMappings.enabled"
    val old = spark.conf.get(key)
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    try {
      val bags = for (icu <- Seq(true, false)) yield {
        spark.conf.set(key, icu.toString)
        val kernel = WordStats(docs, carryCols = Seq("file"))
        val composed = wordStatsComposed(docs)
        assert(kernel.schema.map(f => f.name -> f.dataType) ===
          composed.schema.map(f => f.name -> f.dataType))
        val got = bag(kernel)
        assert(got.values.sum > 2000, s"icu=$icu")
        assert(got === bag(composed), s"icu=$icu")
        got
      }
      if (icuOnly.nonEmpty)
        assert(bags(0) !== bags(1), s"the ICU conf must change the keys of $icuOnly")
    } finally spark.conf.set(key, old)
  }

  // ---- packed-codebook argmin/argmax loops (the r9 soak-OOM fixes) ----

  /** A random packed codebook: K entries of (cid ascending, d-dim
    * quantized vector, its exact squared norm). */
  private def packedRows(rnd: scala.util.Random, k: Int, d: Int)
      : Seq[(Long, Array[Long], Long)] = {
    val cids = Seq.fill(k)(rnd.nextLong().abs % 1000000L).distinct.sorted
    cids.map { cid =>
      val v = Array.fill(d)(rnd.nextLong() % 1000L)
      (cid, v, v.map(x => x * x).sum)
    }
  }

  test("IvfArgmaxCell equals the HOF argmax fold on random codebooks (incl. ties)") {
    import spark.implicits._
    val rnd = new scala.util.Random(9090L)
    val rows = (0 until 300).map { i =>
      val d = 1 + rnd.nextInt(16)
      val cb = packedRows(rnd, 1 + rnd.nextInt(12), d)
      // every third row: duplicate an entry's VECTOR under a higher cid
      // so the cosine ties exactly and the tie-break is exercised
      val cbT = if (i % 3 == 0 && cb.nonEmpty)
        cb :+ ((cb.head._1 + 1000001L, cb.head._2, cb.head._3)) else cb
      val q = Array.fill(d)(rnd.nextLong() % 1000L)
      (cbT, q, q.map(x => x * x).sum)
    }
    val df = rows.toDF("cb", "qv", "nsq")
      .select(col("cb"), col("qv"), col("nsq"))
      .withColumn("cbS", expr("transform(cb, c -> struct(c._1 AS __cid, c._2 AS __cqv, c._3 AS __cnsq))"))
    val native = ColumnAdapter.column(graft.expressions.IvfArgmaxCell(
      ColumnAdapter.expression(col("cbS")),
      ColumnAdapter.expression(col("qv")),
      ColumnAdapter.expression(col("nsq"))))
    val hof = aggregate(col("cbS"),
      struct(lit(Double.NegativeInfinity).as("c"), lit(Long.MinValue).as("cid")),
      (acc, c) => {
        val cos = dotHof(col("qv"), c.getField("__cqv")).cast("double") /
          (sqrt(col("nsq").cast("double")) * sqrt(c.getField("__cnsq").cast("double")))
        when(cos > acc.getField("c"),
          struct(cos.as("c"), c.getField("__cid").as("cid"))).otherwise(acc)
      }).getField("cid")
    val got = df.select(native.as("n"), hof.as("h"))
    assert(got.filter(col("n") =!= col("h")).count() === 0)
  }

  test("PqArgminCode equals the HOF argmin fold on random codebooks (incl. ties)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7171L)
    val rows = (0 until 300).map { i =>
      val d = 1 + rnd.nextInt(8)
      val cb = packedRows(rnd, 1 + rnd.nextInt(12), d)
      val cbT = if (i % 3 == 0 && cb.nonEmpty)
        cb :+ ((cb.head._1 + 1000001L, cb.head._2, cb.head._3)) else cb
      val s = Array.fill(d)(rnd.nextLong() % 1000L)
      (cbT, s, s.map(x => x * x).sum)
    }
    val df = rows.toDF("cb", "sqv", "snsq")
      .withColumn("cbS", expr("transform(cb, c -> struct(c._1 AS __cid, c._2 AS __cqv, c._3 AS __cnsq))"))
    val native = ColumnAdapter.column(graft.expressions.PqArgminCode(
      ColumnAdapter.expression(col("cbS")),
      ColumnAdapter.expression(col("sqv")),
      ColumnAdapter.expression(col("snsq"))))
    val hof = aggregate(col("cbS"),
      struct(lit(Long.MaxValue).as("d"), lit(Long.MinValue).as("cid")),
      (acc, c) => {
        val dist = col("snsq") + c.getField("__cnsq") -
          lit(2L) * dotHof(col("sqv"), c.getField("__cqv"))
        when(dist < acc.getField("d"),
          struct(dist.as("d"), c.getField("__cid").as("cid"))).otherwise(acc)
      })
    val got = df.select(native.getField("code").as("nc"), native.getField("qdist").as("nd"),
      hof.getField("cid").as("hc"), hof.getField("d").as("hd"))
    assert(got.filter(col("nc") =!= col("hc") || col("nd") =!= col("hd")).count() === 0)
  }

  test("IvfTopCells equals the window ranking it replaced (incl. ties, K < nprobe)") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(31337L)
    // nonzero-norm vectors only: the ANSI window form throws on a
    // zero-norm division where the native fold yields a NaN ordering —
    // not a caller-reachable shape (quantized real embeddings)
    def nzVec(d: Int) = Array.fill(d)(1L + rnd.nextLong().abs % 999L)
    val rows = (0 until 300).map { i =>
      val d = 1 + rnd.nextInt(16)
      // small K on purpose: K < nprobe rows exercise the short-array arm
      val cids = Seq.fill(1 + rnd.nextInt(8))(rnd.nextLong().abs % 1000000L)
        .distinct.sorted
      val cb = cids.map { cid =>
        val v = nzVec(d); (cid, v, v.map(x => x * x).sum)
      }
      val cbT = if (i % 3 == 0 && cb.nonEmpty)
        cb :+ ((cb.head._1 + 1000001L, cb.head._2, cb.head._3)) else cb
      val q = nzVec(d)
      (i.toLong, cbT, q, q.map(x => x * x).sum)
    }
    val df = rows.toDF("id", "cb", "qv", "nsq")
      .withColumn("cbS", expr("transform(cb, c -> struct(c._1 AS __cid, c._2 AS __cqv, c._3 AS __cnsq))"))
    for (nprobe <- Seq(1, 2, 4)) {
      val native = df.select(col("id"),
        ColumnAdapter.column(graft.expressions.IvfTopCells(
          ColumnAdapter.expression(col("cbS")),
          ColumnAdapter.expression(col("qv")),
          ColumnAdapter.expression(col("nsq")), nprobe)).as("n"))
      // the replaced plan: K rows per vector, cosine window rank
      val w = Window.partitionBy(col("id")).orderBy(col("cos").desc, col("cid"))
      val ranked = df.select(col("id"), col("nsq"), col("qv"),
          explode(col("cbS")).as("c"))
        .select(col("id"),
          col("c.__cid").as("cid"),
          (dotHof(col("qv"), col("c.__cqv")).cast("double") /
            (sqrt(col("nsq").cast("double")) *
              sqrt(col("c.__cnsq").cast("double")))).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= nprobe)
        .groupBy(col("id"))
        .agg(transform(sort_array(collect_list(struct(col("rn"), col("cid")))),
          s => s.getField("cid")).as("h"))
      val got = native.join(ranked, "id")
      assert(got.filter(col("n") =!= col("h")).count() === 0,
        s"mismatch at nprobe=$nprobe")
      // element 1 is the home cell: the scalar argmax contract
      val home = df.select(
        ColumnAdapter.column(graft.expressions.IvfTopCells(
          ColumnAdapter.expression(col("cbS")),
          ColumnAdapter.expression(col("qv")),
          ColumnAdapter.expression(col("nsq")), nprobe)).getItem(0).as("t"),
        ColumnAdapter.column(graft.expressions.IvfArgmaxCell(
          ColumnAdapter.expression(col("cbS")),
          ColumnAdapter.expression(col("qv")),
          ColumnAdapter.expression(col("nsq")))).as("a"))
      assert(home.filter(col("t") =!= col("a")).count() === 0)
    }
  }

  test("IvfTopCells returns null on an empty codebook") {
    val df = spark.sql(
      """SELECT cast(array() as array<struct<c1:bigint,c2:array<bigint>,c3:bigint>>) AS cb,
        |       array(1L, 2L) AS v, 5L AS nsq""".stripMargin)
    val got = df.select(
      ColumnAdapter.column(graft.expressions.IvfTopCells(
        ColumnAdapter.expression(col("cb")),
        ColumnAdapter.expression(col("v")),
        ColumnAdapter.expression(col("nsq")), 2)).as("t")).head
    assert(got.isNullAt(0))
  }

  test("packed argmin/argmax expressions return null on an empty codebook") {
    val df = spark.sql(
      """SELECT cast(array() as array<struct<c1:bigint,c2:array<bigint>,c3:bigint>>) AS cb,
        |       array(1L, 2L) AS v, 5L AS nsq""".stripMargin)
    val got = df.select(
      ColumnAdapter.column(graft.expressions.IvfArgmaxCell(
        ColumnAdapter.expression(col("cb")),
        ColumnAdapter.expression(col("v")),
        ColumnAdapter.expression(col("nsq")))).as("a"),
      ColumnAdapter.column(graft.expressions.PqArgminCode(
        ColumnAdapter.expression(col("cb")),
        ColumnAdapter.expression(col("v")),
        ColumnAdapter.expression(col("nsq")))).as("p")).head
    assert(got.isNullAt(0) && got.isNullAt(1))
  }

  test("null elements: DotProductLong skips the term, DistinctShingles ignores the token") {
    // null-element arrays are SQL-reachable through the registered
    // functions; the operators themselves never produce them. The
    // declared output contract must hold anyway: dot treats a null
    // component pair as 0, shingles grams over non-null tokens only
    // (so the declared containsNull=false is actually true).
    val df = spark.sql(
      """SELECT array(1L, NULL, 3L) AS a, array(4L, 5L, NULL) AS b,
        |       array('a', NULL, 'b', 'c') AS t""".stripMargin)
    val got = df.select(
      dotNative(col("a"), col("b")).as("d"),
      shinglesNative(col("t"), 2).as("s")).head
    assert(got.getLong(0) === 4L) // 1·4 + skip + skip
    assert(got.getSeq[String](1) === Seq("a b", "b c"))
    assert(!got.getSeq[String](1).contains(null))
  }

  test("PHashFeatureSums equals the composed conv-over-hex form on ASCII payloads") {
    import spark.implicits._
    // ASCII-range bytes: the domain the composed form is defined on
    // (a full 8-byte window with the top bit set overflows its 64-bit
    // cast — pinned separately below). Lengths straddle every window
    // geometry: empty, shorter than one window, non-multiples of 64,
    // and long enough for disjoint windows on both grids.
    val rnd = new scala.util.Random(20260814L)
    val payloads = Seq(0, 1, 7, 63, 64, 65, 511, 1024, 4099).flatMap { n =>
      (0 until 25).map(_ => Array.fill(n)((rnd.nextInt(128)).toByte))
    }
    for (mid <- Seq(false, true)) {
      val df = payloads.toDF("p")
        .select(
          graft.operators.Multimodal.pHashFeatures(col("p"), mid).as("n"),
          graft.operators.Multimodal.pHashFeaturesComposed(col("p"), mid).as("h"))
      assert(df.filter(not(col("n") <=> col("h"))).count() === 0,
        s"native != composed (midpoint=$mid)")
    }
  }

  test("PHashPackWords equals the composed when-chain bit rule (64 and 256 blocks)") {
    import spark.implicits._
    // feature arrays in the PHashFeatureSums output range (4-byte
    // windows sum to [0, 1020]), plus adversarial shapes: all-equal
    // (every bit ties → 0), exact-median ties, and single-spike.
    val rnd = new scala.util.Random(20260815L)
    for (blocks <- Seq(64, 256)) {
      val rows = (0 until 200).map { i =>
        if (i == 0) Array.fill(blocks)(7L) // all ties -> every bit 0
        else if (i == 1) Array.tabulate(blocks)(j => if (j == 3) 1020L else 0L)
        else Array.fill(blocks)(rnd.nextInt(1021).toLong)
      }
      val df = rows.toDF("f").select(
        graft.operators.Multimodal.pHashWords(col("f"), blocks)
          .zipWithIndex.map { case (c, w) => c.as(s"n$w") } ++
        graft.operators.Multimodal.pHashWordsComposed(col("f"), blocks)
          .zipWithIndex.map { case (c, w) => c.as(s"h$w") }: _*)
      for (w <- 0 until (blocks + 63) / 64)
        assert(df.filter(not(col(s"n$w") <=> col(s"h$w"))).count() === 0,
          s"native word $w != composed (blocks=$blocks)")
      // pHash64 (the oracle-matched 64-bit mode) is word 0 of the pack
      if (blocks == 64) {
        val d2 = rows.toDF("f").select(
          graft.operators.Multimodal.pHash64(col("f")).as("n"),
          graft.operators.Multimodal.pHash64Composed(col("f")).as("h"))
        assert(d2.filter(not(col("n") <=> col("h"))).count() === 0)
      }
    }
  }

  test("PHashFeatureSums handles high bytes; 8-byte geometry zeroes overflow windows") {
    import spark.implicits._
    def feats(c: Column, sampleBytes: Int): Column =
      ColumnAdapter.column(graft.expressions.PHashFeatureSums(
        ColumnAdapter.expression(c), false, 64, sampleBytes))
    val hi = Array.fill(512)(0x90.toByte) // top bit set everywhere
    val lo = Array.fill(512)(0x41.toByte) // 'A' = 65
    val got = Seq((hi, lo)).toDF("hi", "lo")
      .select(
        // operator geometry (sampleBytes = 4): a 4-byte window maxes
        // at 2^32 — no overflow, plain unsigned byte sums on BOTH
        // high- and low-byte payloads (4·0x90 = 576, 4·65 = 260)
        feats(col("hi"), 4).as("h4"),
        feats(col("lo"), 4).as("l4"),
        // 8-byte geometry: a full window starting >= 0x80 reads as a
        // value >= 2^63, which the composed form's 64-bit cast (and
        // the DuckDB oracle's TRY_CAST) rejects to 0 — the native
        // loop must replicate that; sub-top-bit windows still sum
        feats(col("hi"), 8).as("h8"),
        feats(col("lo"), 8).as("l8"))
      .head
    assert(got.getSeq[Long](0).forall(_ == 576L))
    assert(got.getSeq[Long](1).forall(_ == 260L))
    assert(got.getSeq[Long](2).forall(_ == 0L))
    assert(got.getSeq[Long](3).forall(_ == 520L))
  }

  test("SimHashPopcountSig equals the declarative SWAR sum form (incl. ties, nulls)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260820L)
    val wordBits = 60
    // widths straddling the production wide gate: one word-aligned,
    // one just past the 192-bit cutoff, one ragged (width not a
    // multiple of wordBits, last word partially used)
    for (width <- Seq(256, 193, 299)) {
      val nWords = (width + wordBits - 1) / wordBits
      // even-sized groups of random 50/50 bits hit exact 2·pop == n
      // ties across 256+ bits with near-certainty (both paths must
      // resolve them to 0); a sprinkle of null words exercises the
      // "row counts, bits don't" contract
      val rows = (0 until 400).map { i =>
        val id = (i % 20).toLong
        val ws: Seq[java.lang.Long] =
          (0 until nWords).map { w =>
            if (rnd.nextInt(50) == 0) null
            else java.lang.Long.valueOf(rnd.nextLong() & ((1L << wordBits) - 1))
          }
        (id, ws)
      }
      val df = rows.toDF("id", "ws")
      val wordCols = (0 until nWords).map(w => element_at(col("ws"), w + 1))
      val native = df.groupBy(col("id")).agg(
        ColumnAdapter.column(graft.expressions.SimHashPopcountSig(
          wordCols.map(ColumnAdapter.expression), width, wordBits)
          .toAggregateExpression()).as("sig"))
      def bit(j: Int): Column =
        shiftright(wordCols(j / wordBits), j % wordBits).bitwiseAND(1)
      val reference = df.groupBy(col("id")).agg(
        count(lit(1)).as("n"),
        (0 until width).map(j => sum(bit(j)).as(s"p$j")): _*)
        .select(col("id"), array((0 until (width + 63) / 64).map { w =>
          (0 until math.min(64, width - 64 * w)).map { j =>
            when(col(s"p${64 * w + j}") * 2 > col("n"), lit(1L << j))
              .otherwise(lit(0L))
          }.reduce(_ bitwiseOR _)
        }: _*).as("sig"))
      val n = native.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val r = reference.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(n === r, s"width=$width")
    }
    // deterministic exact-tie group: two rows with complementary words
    // — every bit has pop = 1 of n = 2, 2·pop == n, strict majority
    // says 0 on every bit
    val nW = (256 + wordBits - 1) / wordBits
    val mask = (1L << wordBits) - 1
    val tie = Seq(
      (1L, Seq.fill(nW)(0x5a5a5a5a5a5a5a5aL & mask)),
      (1L, Seq.fill(nW)(~0x5a5a5a5a5a5a5a5aL & mask))).toDF("id", "ws")
    val tieSig = tie.groupBy(col("id")).agg(
      ColumnAdapter.column(graft.expressions.SimHashPopcountSig(
        (0 until nW).map(w =>
          ColumnAdapter.expression(element_at(col("ws"), w + 1))), 256, wordBits)
        .toAggregateExpression()).as("sig"))
      .head.getSeq[Long](1)
    assert(tieSig.forall(_ == 0L), "exact ties must resolve to 0")
  }
}
