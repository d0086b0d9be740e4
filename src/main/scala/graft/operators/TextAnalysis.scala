package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines —
  * language ID, quality scoring, token counting. Extensions beyond the
  * reference's surface (BASELINE.json north star); all built from
  * codegen'd built-ins, no UDFs.
  *
  * Determinism contract: every ratio is emitted as integer fixed-point
  * (`x * scale div y`) so the DuckDB oracle matches bit-for-bit — no
  * float division anywhere.
  */
object TextAnalysis {

  /** Exact integer division for the fixed-point contract: the SQL `div`
    * function (IntegralDivide), i.e. true int64 division identical to
    * DuckDB `//` at ANY magnitude — no double round-trip, so the
    * "exact integers end to end" contract holds past 2^53 too.
    */
  private def idiv(a: Column, b: Column): Column =
    call_function("div", a, b)

  /** Marker stopwords per language for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny and deterministic; real corpora would
    * load a bigger lexicon through the same join.
    *
    * Widened in r17, driven by the real-text measurement
    * (`graft.dev.Measure langid_real` → LANGID_REAL.json): the original
    * 5-language lexicon had no fi/pt rows at all, and the shared
    * Romance stopwords ("de", "la", "que", "un") voted only for the
    * single language that happened to list them — so real French prose
    * leaked "es" votes it could never win back. A marker now appears
    * once per language that owns it (the join fans out per owning
    * language; membership uses of the word list are unaffected by the
    * duplicates). The DuckDB oracle regenerates from this constant
    * (SparkEntry.markersValues), so both engines move in lockstep.
    */
  val LangMarkers: Seq[(String, String)] = Seq(
    "the" -> "en", "a" -> "en", "of" -> "en", "and" -> "en", "in" -> "en",
    "el" -> "es", "la" -> "es", "de" -> "es", "y" -> "es", "que" -> "es",
    "un" -> "es",
    "der" -> "de", "die" -> "de", "und" -> "de", "das" -> "de", "ist" -> "de",
    "le" -> "fr", "les" -> "fr", "et" -> "fr", "un" -> "fr", "est" -> "fr",
    "la" -> "fr", "de" -> "fr", "que" -> "fr", "des" -> "fr", "il" -> "fr",
    "ja" -> "fi", "ei" -> "fi", "että" -> "fi", "oli" -> "fi", "hän" -> "fi",
    "o" -> "pt", "e" -> "pt", "do" -> "pt", "da" -> "pt", "em" -> "pt",
    "de" -> "pt", "que" -> "pt", "não" -> "pt", "um" -> "pt", "a" -> "pt",
    "的" -> "zh", "是" -> "zh", "了" -> "zh", "在" -> "zh", "我" -> "zh")

  /** Deterministic tie-break priority (smaller wins ties; alphabetic). */
  val LangPriority: Seq[(String, Int)] =
    Seq("de" -> 0, "en" -> 1, "es" -> 2, "fi" -> 3, "fr" -> 4,
      "pt" -> 5, "zh" -> 6)

  /** Language ID: count marker-stopword hits per candidate language,
    * pick the argmax (ties → LangPriority order); no hits → "und".
    *
    * Plan shape: explode tokens → broadcast-join the dictionary-sized marker
    * table → two-level aggregation. The marker join is a broadcast hash
    * join, so the only shuffle is the per-doc aggregation — scales to
    * arbitrary corpus size.
    */
  def langId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val markers = LangMarkers.toDF("marker", "cand_lang")
      .join(LangPriority.toDF("cand_lang", "prio"), "cand_lang")

    val tokens = Tokenize.splitTokens(inputCol = textCol)(
      docs.select(col(idCol), col(textCol)))

    val hits = tokens
      .join(broadcast(markers),
        graft.functions.Scalars.wordNorm(col("word")) === col("marker"))
      .groupBy(col(idCol), col("cand_lang"), col("prio"))
      .agg(count(lit(1)).as("n_hits"))

    // argmax(n_hits) with prio tie-break as a single hash aggregation:
    // max_by over the ordering struct (n_hits asc, -prio asc) replaces the
    // window row_number — no per-doc sort, partial agg map-side.
    val best = hits
      .groupBy(col(idCol))
      .agg(max_by(
        struct(col("cand_lang"), col("n_hits")),
        struct(col("n_hits"), -col("prio"))).as("__best"))
      .select(col(idCol), col("__best.cand_lang").as("cand_lang"),
        col("__best.n_hits").as("n_hits"))

    docs.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("cand_lang"), lit("und")).as("pred_lang"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** Quality scoring: structural signals a pretraining filter would use
    * (length, mean token length, stopword density, digit/punct density),
    * all integer fixed-point. `score_milli` is a bounded composite in
    * [0, 1000]. Single narrow projection — no shuffle at all.
    * `carryCols` ride along in the output (appended after the score
    * columns) so a downstream grouping key — e.g. [[Curation.domainCap]]'s
    * domain — never needs a self-join back to the corpus for columns
    * this projection already scanned.
    */
  def quality(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      carryCols: Seq[String] = Nil): DataFrame = {
    val text = col(textCol)
    val toks = filter(split(text, "\\s+"), t => !(t === "" || t.rlike("^\\s+$")))
    val nTokens = size(toks).cast("long")
    val sumTokChars = aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
    val stopSet = LangMarkers.map(_._1)
    val nStop = size(filter(toks, t => lower(t).isInCollection(stopSet))).cast("long")
    val nDigits = length(regexp_replace(text, "[^0-9]", "")).cast("long")
    // Explicit ASCII class (not \p{Alnum}) so the Java and RE2 (DuckDB
    // oracle) regex engines agree character-for-character.
    val nPunct = length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")).cast("long")
    val nChars = length(text).cast("long")

    val avgTokLenX100 = when(nTokens > 0, idiv(sumTokChars * 100, nTokens)).otherwise(lit(0L))
    val stopRatioX1000 = when(nTokens > 0, idiv(nStop * 1000, nTokens)).otherwise(lit(0L))
    val punctRatioX1000 = when(nChars > 0, idiv(nPunct * 1000, nChars)).otherwise(lit(0L))
    // Composite: reward stopword density and 3..10-char mean tokens,
    // penalize punctuation/digit noise; clamp to [0, 1000].
    val raw = lit(500L) +
      least(stopRatioX1000, lit(250L)) +
      when(avgTokLenX100.between(300, 1000), lit(250L)).otherwise(lit(0L)) -
      least(punctRatioX1000, lit(250L)) -
      least(when(nChars > 0, idiv(nDigits * 1000, nChars)).otherwise(lit(0L)), lit(250L))

    docs.select(Seq(
      col(idCol),
      nTokens.as("n_tokens"),
      nChars.as("n_chars_text"),
      avgTokLenX100.as("avg_token_len_x100"),
      stopRatioX1000.as("stop_ratio_x1000"),
      punctRatioX1000.as("punct_ratio_x1000"),
      greatest(lit(0L), least(lit(1000L), raw)).as("score_milli")) ++
      carryCols.map(col): _*)
  }

  /** Chunk window (tokens) for [[fingerprint]]'s rolling fingerprints. */
  val FingerprintWindow = 8

  /** Document fingerprinting: a canonical whole-document fingerprint
    * (SHA-256 of the space-joined token stream — whitespace-
    * normalization-invariant exact-dup key) plus rolling chunk
    * fingerprints (one hash per sliding [[FingerprintWindow]]-token
    * window — the shift-resistant shape used for partial-overlap /
    * winnowing detection). Emits the chunk-set summary (count, lexical
    * min/max) so output stays one row per doc; the full chunk array is
    * available via the intermediate columns if a caller wants the
    * postings. Narrow, shuffle-free, codegen'd.
    */
  /** The (token-array → rolling chunk fingerprints) expression shared
    * by [[fingerprint]] and [[overlapPairs]]: one sha per sliding
    * window, whole-doc sha for sub-window docs, empty for empty docs. */
  private def chunksOf(toks: Column): Column = {
    val w = FingerprintWindow
    val fullFp = sha2(concat_ws(" ", toks), 256)
    val windows = transform(
      sequence(lit(0), size(toks) - w),
      i => sha2(concat_ws(" ", slice(toks, i + 1, lit(w))), 256))
    when(size(toks) === 0, array().cast("array<string>"))
      .when(size(toks) < w, array(fullFp))
      .otherwise(windows)
  }

  /** `carryCols` pass through unchanged (e.g. an event-time column so
    * the output can feed a watermarked streaming dedup). */
  def fingerprint(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      carryCols: Seq[String] = Nil): DataFrame = {
    // Materialize the token array first (same CollapseProject reasoning
    // as NearDup.shingles — the window lambda references it ~3× each).
    val toksC = graft.core.Cols.fresh("__toks", Seq(idCol) ++ carryCols)
    val tokArr = filter(split(col(textCol), "\\s+"),
      t => !(t === "" || t.rlike("^\\s+$")))
    val toks = col(toksC)
    val fullFp = sha2(concat_ws(" ", toks), 256)
    val chunks = chunksOf(toks)

    docs.select(col(idCol) +: carryCols.map(col) :+ tokArr.as(toksC): _*)
      .select(
        col(idCol) +: carryCols.map(col) :+
        fullFp.as("full_fp") :+
        size(chunks).cast("long").as("n_chunks") :+
        coalesce(array_min(chunks), lit("")).as("min_chunk_fp") :+
        coalesce(array_max(chunks), lit("")).as("max_chunk_fp"): _*)
  }

  /** Shift-resistant partial-overlap detection — the consumer of the
    * rolling fingerprints: pairs of docs sharing ≥ minShared distinct
    * chunk fingerprints, with the shared count. Candidates come from an
    * equijoin on the 256-bit chunk hash — high-entropy keys, so the
    * join output is ∝ true overlaps (collision-free in practice), never
    * all-pairs: the same scale shape as MinHash candidates, applied to
    * contiguous-run overlap instead of set similarity.
    */
  def overlapPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minShared: Long = 1L): DataFrame = {
    val toksC = graft.core.Cols.fresh("__toks", Seq(idCol))
    val tokArr = filter(split(col(textCol), "\\s+"),
      t => !(t === "" || t.rlike("^\\s+$")))
    // DISTINCT per doc: a phrase repeated inside one doc is one
    // fingerprint; shared_chunks counts distinct shared windows.
    // Materialized-once seam (the winnowPairs structure): both join
    // sides re-run the tokenize + rolling-hash chunking without an
    // exchange of their own — the chunksOf lambdas defeat canonical
    // plan equality, so AQE never reuses the sides' exchanges
    // (measured at sf0.1: two identical 0.7 s single-task fingerprint
    // stages). One repartition on the fingerprint key is the shared
    // canonical shuffle, and the join then needs no further exchange.
    val ch = docs.select(col(idCol), tokArr.as(toksC))
      .select(col(idCol), explode(array_distinct(chunksOf(col(toksC)))).as("__fp"))
      .repartition(col("__fp"))
    ch.select(col(idCol).as("doc_a"), col("__fp"))
      .join(ch.select(col(idCol).as("doc_b"), col("__fp")), Seq("__fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_chunks"))
      .filter(col("shared_chunks") >= minShared)
  }

  // ------------------------------------------------------------ winnowing

  /** Winnowing geometry (Schleimer–Wilkerson–Aiken, SIGMOD'03 — the
    * MOSS local fingerprinting scheme): token k-gram size and window
    * width. The winnowing guarantee: any token run shared between two
    * docs of length ≥ [[WinnowK]] + [[WinnowWindow]] − 1 contributes
    * at least one SHARED selected fingerprint, while only ~2/(w+1) of
    * all k-grams are kept — position-robust partial-overlap detection
    * at a fraction of the postings volume of [[overlapPairs]]. */
  val WinnowK = 3
  val WinnowWindow = 4

  /** [[winnowPairs]] dials: drop fingerprints present in more than
    * `MaxDocFreq` docs before the pair join (a stopword trigram's
    * bucket would otherwise contribute df² candidate pairs — the same
    * df-cap dial as NearDup's shingle path), and require ≥ `MinShared`
    * distinct shared fingerprints per emitted pair. */
  val WinnowMaxDocFreq = 50
  val WinnowMinShared = 2L

  /** 60-bit k-gram hash: leading 15 hex chars of sha256, the
    * engine-portable hashing idiom shared with the CMS sketch. */
  private def hash60(s: Column): Column =
    conv(substring(sha2(s, 256), 1, 15), 16, 10).cast("long")

  /** Shared winnowing core: per doc, the k-gram hash array `__hs`,
    * the DISTINCT selected positions `__pos` (rightmost minimum of
    * each sliding [[WinnowWindow]]-window; sub-window docs select the
    * global rightmost min once), and the selected hashes `__sel`.
    * Each stage materializes into a projected column before the next
    * consumes it (the HOF-recompute trap); everything is a narrow
    * zero-shuffle projection of codegen'd built-ins.
    *
    * Rightmost-min via reversal: `array_position` finds the FIRST
    * occurrence, so position-in-reversed-slice `p` ⇒ rightmost index
    * `i + len(slice) − p` — the identical arithmetic runs in the
    * DuckDB oracle, making tie-breaks engine-exact. */
  private def winnowSelected(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val k = WinnowK
    val w = WinnowWindow
    val tsC = graft.core.Cols.fresh("__ts", Seq(idCol))
    val tokArr = filter(split(col(textCol), "\\s+"),
      t => !(t === "" || t.rlike("^\\s+$")))
    val grams = when(size(col(tsC)) >= k,
      transform(sequence(lit(1), size(col(tsC)) - (k - 1)),
        i => hash60(concat_ws(" ",
          (0 until k).map(o => element_at(col(tsC), i + o)): _*))))
      .otherwise(array().cast("array<long>"))
    val m = size(col("__hs"))
    val pos = when(m === 0, array().cast("array<long>"))
      .otherwise(transform(
        sequence(lit(1), greatest(m - (w - 1), lit(1))),
        i => {
          val s = slice(col("__hs"), i, lit(w))
          i.cast("long") + size(s) - array_position(reverse(s), array_min(s))
        }))
    docs.select(col(idCol), tokArr.as(tsC))
      .select(col(idCol), grams.as("__hs"))
      .withColumn("__pos", array_distinct(pos))
      .withColumn("__sel",
        transform(col("__pos"), p => element_at(col("__hs"), p.cast("int"))))
  }

  /** Per-doc winnowing summary: k-gram count, selected-fingerprint
    * count, and the min/max selected hash — the one-row-per-doc shape
    * whose density (`n_fps/n_kgrams` ≈ 2/(w+1)) is the tuning signal
    * before [[winnowPairs]] runs corpus-wide. */
  def winnow(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    winnowSelected(docs, idCol, textCol)
      .select(col(idCol),
        size(col("__hs")).cast("long").as("n_kgrams"),
        size(col("__pos")).cast("long").as("n_fps"),
        array_min(col("__sel")).as("fp_min"),
        array_max(col("__sel")).as("fp_max"))

  /** Partial-overlap candidate pairs from winnowed fingerprints: the
    * postings equijoin of [[overlapPairs]], but over the ~2/(w+1)
    * winnowed subset instead of every window — the MOSS shape. The
    * df-cap filter bounds any fingerprint's bucket at
    * [[WinnowMaxDocFreq]] docs, so join fan-out is ≤ df²·|buckets|
    * with df capped — never all-pairs. Shuffles: one hash-agg for the
    * df counts, one semi-join back, one equijoin + pair agg — all on
    * the fingerprint key. */
  def winnowPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // DISTINCT (doc, fp): a fingerprint re-selected at two positions
    // of one doc is one posting; shared_fps counts distinct overlaps.
    // Materialized-once seam: winnowSelected is a narrow zero-shuffle
    // pipeline (a sha256 per k-gram), and it feeds THREE consumers
    // below — the df-count agg and both sides of the pair self-join.
    // Ending the postings in one exchange on the fingerprint key makes
    // all three subtrees share the same canonical shuffle (AQE stage
    // reuse), so the k-gram hashing runs once; the agg and the join
    // then consume an already-__fp-partitioned 2-long postings table
    // with no further exchange. The same structure a 100 TB run wants:
    // shuffle the narrow postings, never recompute the text hashing.
    val fps = winnowSelected(docs, idCol, textCol)
      .select(col(idCol), explode(array_distinct(col("__sel"))).as("__fp"))
      .repartition(col("__fp"))
    val cnt = fps.groupBy("__fp").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2 && col("__c") <= WinnowMaxDocFreq)
    val ok = fps.join(cnt.select("__fp"), Seq("__fp"))
    ok.select(col(idCol).as("doc_a"), col("__fp"))
      .join(ok.select(col(idCol).as("doc_b"), col("__fp")), Seq("__fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= WinnowMinShared)
  }

  /** Fixed-size token chunking with overlap — the context-window prep
    * step: document → `⌈(n − chunk)/step⌉ + 1` chunks of `chunkTokens`
    * whitespace tokens starting every `step = chunkTokens − overlap`
    * tokens (the final chunk may be shorter; a doc under one window is
    * one chunk). Narrow per-row work: the token array materializes
    * ONCE into a projected column (the HOF-recompute trap), chunk
    * starts come from one `sequence` + `transform`, and each chunk is
    * a `slice` + join — no shuffle anywhere; output size is
    * input × (1/step) rows. Overlap keeps boundary-spanning spans
    * inside at least one chunk, the standard retrieval/training
    * window trick.
    */
  def chunk(
      docs: DataFrame,
      chunkTokens: Int,
      overlapTokens: Int = 0,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlapTokens")
    val step = chunkTokens - overlapTokens
    val toksC = graft.core.Cols.fresh("__toks", Seq(idCol))
    val tokArr = filter(split(col(textCol), "\\s+"),
      t => !(t === "" || t.rlike("^\\s+$")))
    docs.select(col(idCol), tokArr.as(toksC))
      .filter(size(col(toksC)) >= 1)
      .withColumn("__nch", expr(
        s"1 + CASE WHEN size($toksC) > $chunkTokens" +
          s" THEN (size($toksC) - $chunkTokens + $step - 1) div $step ELSE 0 END"))
      .select(col(idCol), col(toksC),
        explode(expr(s"transform(sequence(0, int(__nch) - 1), i -> i * $step)"))
          .as("__start"))
      // slice once into a column; deriving size and text from the same
      // projected array avoids materializing every chunk twice
      .select(col(idCol), col("__start"),
        expr(s"slice($toksC, __start + 1, $chunkTokens)").as("__chunk"))
      .select(
        col(idCol),
        (col("__start") / step).cast("long").as("chunk_id"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * lexer (letter runs | digit runs | single non-space symbol) — the
    * usual pre-tokenizer shape for byte-pair encoders. */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val bpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
    docs.select(
      col(idCol),
      FoldGroup.tokenCountExpr(text).as("ws_tokens"),
      size(regexp_extract_all(text, lit(bpePattern), lit(0))).cast("long")
        .as("bpe_tokens"))
  }

  /** Inverted-index build: word → (document frequency, sorted posting
    * list). Postings are emitted as a comma-joined string (a parquet-
    * friendly single column; at scale you'd `bucketBy(word)` the pair
    * stream instead and keep postings as rows).
    *
    * Shape: distinct (word, doc) pairs [one shuffle] → hash-agg per
    * word [second shuffle]. The hot-word giant-row hazard (a stopword's
    * posting list is the whole corpus) is the reason for `maxDf`: words
    * above the cap carry no retrieval signal and would dominate the
    * reduce-side memory — df-cap them out, the same dial web indexes
    * and [[NearDup.ngramJaccardPairs]]'s hot-shingle cap use. The cap
    * filters AFTER the df count, so `df` is always the true frequency.
    */
  def invertedIndex(
      toks: DataFrame,
      idCol: String = "doc_id",
      wordCol: String = "word",
      maxDf: Long = Long.MaxValue): DataFrame =
    toks.select(col(wordCol), col(idCol)).distinct()
      .groupBy(col(wordCol))
      .agg(
        count(lit(1)).as("df"),
        // sort NUMERICALLY first, then stringify (casting before the
        // sort would order "10" before "9")
        expr(s"""array_join(
                |  transform(sort_array(collect_list($idCol)), x -> CAST(x AS STRING)),
                |  ',')""".stripMargin).as("postings"))
      .where(col("df") <= maxDf)

  /** Default postings chunk size for [[invertedIndexSharded]]. */
  val PostingsChunkSize = 32

  /** Sharded inverted index: word → fixed-size posting CHUNKS
    * (word, df, chunk_no, postings), each chunk ≤ `chunkSize` doc ids
    * of the word's sorted posting list. This is the 100 TB shape of
    * [[invertedIndex]]: no CELL grows with the corpus — a stopword's
    * postings become df/chunkSize bounded ROWS, and rows (unlike one
    * unbounded `collect_list` cell on the reduce side) flow through
    * spillable sorts and hash aggregates.
    *
    * Shape: distinct (word, doc) pairs [one shuffle] → one exchange on
    * `word` serving BOTH window functions (per-word rank orders the
    * postings, per-word count is the true df) — WindowExec's sort
    * spills, so even a corpus-wide posting list never needs to fit in
    * memory — → hash-agg per (word, chunk) [final shuffle] where
    * `collect_list` is bounded by chunkSize. `maxDf` composes as in
    * [[invertedIndex]] (filters after the df count, so df stays true).
    */
  def invertedIndexSharded(
      toks: DataFrame,
      idCol: String = "doc_id",
      wordCol: String = "word",
      chunkSize: Int = PostingsChunkSize,
      maxDf: Long = Long.MaxValue): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    val byWord = org.apache.spark.sql.expressions.Window.partitionBy(col(wordCol))
    val ranked = toks.select(col(wordCol), col(idCol)).distinct()
      .withColumn("__rn", row_number().over(byWord.orderBy(col(idCol))))
      .withColumn("__df", count(lit(1)).over(byWord))
      .where(col("__df") <= maxDf)
    ranked
      .groupBy(col(wordCol),
        idiv((col("__rn") - 1).cast("long"), lit(chunkSize.toLong)).as("chunk_no"))
      .agg(
        max(col("__df")).as("df"),
        expr(s"""array_join(
                |  transform(sort_array(collect_list($idCol)), x -> CAST(x AS STRING)),
                |  ',')""".stripMargin).as("postings"))
      .select(col(wordCol), col("df"), col("chunk_no"), col("postings"))
  }

  /** Per-language document-length distribution: nearest-rank p50/p90/
    * p99 of the whitespace token count, composed from [[langId]] ×
    * [[tokenCounts]]. Nearest-rank (idx = ⌈q·n⌉, all-integer: `(q_num·n
    * + q_den − 1) div q_den`) rather than interpolated percentiles so
    * the statistic is engine-exact — no float interpolation to drift.
    *
    * Shape: the narrow tokenCounts projection joins langId's output on
    * doc_id, then ONE exchange on lang feeds both window functions
    * (rank and group count) and the final per-lang hash-agg picks the
    * rank-indexed rows — a sort per language partition, never a global
    * sort. Languages are few; if one partition dominated (one-language
    * corpus) the same query runs on any finer stratum key. */
  def lengthStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val byLang = org.apache.spark.sql.expressions.Window.partitionBy(col("pred_lang"))
    langId(docs, idCol, textCol).select(col(idCol), col("pred_lang"))
      .join(tokenCounts(docs, idCol, textCol).select(col(idCol), col("ws_tokens")), idCol)
      .withColumn("__rn", row_number().over(byLang.orderBy(col("ws_tokens"), col(idCol))))
      .withColumn("__n", count(lit(1)).over(byLang))
      .groupBy(col("pred_lang"))
      .agg(
        max(col("__n")).as("n_docs"),
        min(col("ws_tokens")).as("min_tokens"),
        max(when(col("__rn") === expr("(__n + 1) div 2"), col("ws_tokens"))).as("p50_tokens"),
        max(when(col("__rn") === expr("(9 * __n + 9) div 10"), col("ws_tokens"))).as("p90_tokens"),
        max(when(col("__rn") === expr("(99 * __n + 99) div 100"), col("ws_tokens"))).as("p99_tokens"),
        max(col("ws_tokens")).as("max_tokens"))
  }

  /** Unigram language-model quality scoring — the CCNet/KenLM-style
    * perplexity filter: score each document by its per-token corpus
    * cross-entropy and keep/flag the fluent middle of the distribution.
    * Here the LM IS the corpus unigram distribution (self-scoring; a
    * reference corpus plugs into the same join), and -log2 p(w) is the
    * exact integer `floorlog2(total) - floorlog2(count(w))` — computed
    * as `length(bin(total)) - length(bin(cnt))`, transcendental-free,
    * so two engines replaying the arithmetic agree bit-for-bit. The
    * ±1-bit quantization is irrelevant for filtering, which only needs
    * the relative order of scores.
    *
    * Scale shape: tokenize → per-doc term frequencies (hash-agg — this
    * FIRST agg collapses hot-token multiplicity, so the later join on
    * `word` sees one row per (doc, word) and no stopword skew) →
    * corpus counts (second, smaller hash-agg) → equijoin tf ⋈ model on
    * word. The model side is Zipf-bounded (vocabulary ≪ corpus), so
    * AQE usually broadcasts it; the 1-row corpus total joins as an
    * explicit broadcast. No floats, no UDFs, everything codegen.
    *
    * Output per doc: token count, total bits, and avg bits/token ×100
    * (the fixed-point cross-entropy a filter thresholds on). Docs with
    * zero tokens have no cross-entropy and are absent (the tokenizer
    * emits nothing for them).
    */
  def lmScore(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val norm = graft.functions.Scalars.wordNorm(col("word"))
    val tokens = Tokenize.splitTokens(inputCol = textCol)(
      docs.select(col(idCol), col(textCol)))
      .select(col(idCol), norm.as("__w"))
    val tf = tokens.groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__tf"))
    val model = tf.groupBy(col("__w")).agg(sum(col("__tf")).as("__cnt"))
    val total = model.agg(sum(col("__cnt")).as("__total"))
    val bits = model.crossJoin(broadcast(total))
      .select(col("__w"),
        (length(bin(col("__total"))) - length(bin(col("__cnt"))))
          .cast("long").as("__bits"))
    tf.join(bits, "__w")
      .groupBy(col(idCol))
      .agg(
        sum(col("__tf")).as("n_tokens"),
        sum(col("__tf") * col("__bits")).as("bits_total"))
      .withColumn("avg_bits_x100", idiv(col("bits_total") * 100, col("n_tokens")))
  }

  /** Pairwise source-vocabulary similarity — the corpus-overlap matrix
    * (which ingest feeds duplicate which, which sources bring NOVEL
    * vocabulary to the mix): exact Jaccard between the distinct
    * normalized-token sets of every source pair that shares at least
    * one word. Dedup-adjacent but set-granular: [[NearDup]] compares
    * documents, this compares whole strata.
    *
    * Shape: distinct (source, word) [one shuffle — the vocabulary
    * stream, ≪ token stream], a self-equijoin on word for the
    * intersection counts (a word shared by s sources emits s·(s−1)/2
    * pair rows — bounded by the SOURCE count squared, not the corpus),
    * and a broadcast of the source-sized vocabulary totals. Disjoint
    * pairs emit nothing (their Jaccard is 0 by absence).
    */
  def sourceSimilarity(
      docs: DataFrame,
      strataCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val words = Tokenize.splitTokens(inputCol = textCol)(
      docs.select(col(strataCol), col(textCol)))
      .select(col(strataCol).as("__s"),
        graft.functions.Scalars.wordNorm(col("word")).as("__w"))
      .distinct()
    val sizes = words.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
    words.join(words.select(col("__s").as("__s2"), col("__w")), "__w")
      .where(col("__s") < col("__s2"))
      .groupBy(col("__s"), col("__s2")).agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("__s"), col("__n").as("n_a"))), "__s")
      .join(broadcast(sizes.select(col("__s").as("__s2"), col("__n").as("n_b"))), "__s2")
      .select(col("__s").as("source_a"), col("__s2").as("source_b"),
        col("n_a"), col("n_b"), col("n_shared"),
        expr("(n_shared * 1000000) div (n_a + n_b - n_shared)").as("jaccard_x1e6"))
  }

  /** Bigram-conditional LM scoring — [[lmScore]]'s order-2 sibling
    * (the KenLM shape at its smallest): each adjacent token pair costs
    * `-log2 p(w2|w1)`, computed exactly as
    * `floorlog2(C(w1·)) - floorlog2(C(w1,w2))` in integer bits. Word
    * order now matters — scrambled text keeps its unigram score but
    * its bigram cost explodes, which is precisely the fluency signal
    * unigrams can't see.
    *
    * Shape: bigram generation is a NARROW array pass (split →
    * zip_with the 1-shifted slice — no posexplode+window, no shuffle
    * to form pairs), then the same three hash-aggs + Zipf-bounded
    * join as [[lmScore]]: per-doc pair tf first (kills hot-pair join
    * skew), corpus pair counts, context counts as a rollup OF the
    * pair counts (so C(w1·) = Σ C(w1,w2) exactly — the conditional
    * distribution normalizes by construction). Docs with < 2 tokens
    * have no bigrams and are absent.
    */
  def lmScoreBigram(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val raw = filter(split(col(textCol), "\\s+"),
      t => !graft.functions.Scalars.isBlank(t))
    val arr = transform(raw, w => graft.functions.Scalars.wordNorm(w))
    val pairs = docs.select(col(idCol), arr.as("__a"))
      .where(size(col("__a")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("__a"), lit(1), size(col("__a")) - 1),
        slice(col("__a"), lit(2), size(col("__a")) - 1),
        (x, y) => concat_ws(" ", x, y))).as("__b"))
    val tf = pairs.groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).as("__tf"))
    val pairCnt = tf.groupBy(col("__b")).agg(sum(col("__tf")).as("__cnt"))
      .withColumn("__w1", substring_index(col("__b"), " ", 1))
    val ctxCnt = pairCnt.groupBy(col("__w1")).agg(sum(col("__cnt")).as("__ctx"))
    val bits = pairCnt.join(ctxCnt, "__w1")
      .select(col("__b"),
        (length(bin(col("__ctx"))) - length(bin(col("__cnt"))))
          .cast("long").as("__bits"))
    tf.join(bits, "__b")
      .groupBy(col(idCol))
      .agg(
        sum(col("__tf")).as("n_bigrams"),
        sum(col("__tf") * col("__bits")).as("bits_total"))
      .withColumn("avg_bits_x100", idiv(col("bits_total") * 100, col("n_bigrams")))
  }

  /** Unicode-script mix per document — the writing-system profile that
    * complements [[langId]]'s stopword heuristic: stopword lexicons
    * can't see scripts they have no markers for, while codepoint
    * ranges classify every character. Counts are computed by class
    * REMOVAL (`length(text) - length(regexp_replace(text, cls, ''))`),
    * a zero-shuffle narrow projection of codegen built-ins.
    *
    * `dominant` picks the largest bucket with a fixed precedence chain
    * (latin > arabic > cjk > digit > other — a CASE cascade, so ties
    * resolve identically in any engine); all-whitespace/empty docs are
    * "none". Fractions are integer fixed-point ×1000 of the non-space
    * character count.
    */
  def scriptMix(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    def removed(cls: String): Column =
      (length(text) - length(regexp_replace(text, cls, ""))).cast("long")
    val nChars = length(text).cast("long")
    val latin = removed("[A-Za-z]")
    val digit = removed("[0-9]")
    val arabic = removed("[\\x{0600}-\\x{06FF}]")
    val cjk = removed("[\\x{4E00}-\\x{9FFF}]")
    // Explicit class instead of \s: Java \s == [ \t\n\x0B\f\r], but
    // RE2 (the DuckDB oracle) \s == [ \t\n\f\r] WITHOUT vertical tab —
    // spelling the class out makes both engines count U+000B the same.
    val space = removed("[ \\t\\n\\x0B\\f\\r]")
    docs.select(col(idCol), nChars.as("n_chars"), latin.as("n_latin"),
        digit.as("n_digit"), arabic.as("n_arabic"), cjk.as("n_cjk"),
        space.as("n_space"))
      .withColumn("n_other",
        col("n_chars") - col("n_latin") - col("n_digit") - col("n_arabic") -
          col("n_cjk") - col("n_space"))
      .withColumn("n_visible", col("n_chars") - col("n_space"))
      .withColumn("latin_x1000",
        when(col("n_visible") > 0, idiv(col("n_latin") * 1000, col("n_visible")))
          .otherwise(lit(0L)))
      .withColumn("dominant",
        when(col("n_visible") === 0, lit("none"))
          .when(col("n_latin") >= greatest(col("n_arabic"), col("n_cjk"),
            col("n_digit"), col("n_other")), lit("latin"))
          .when(col("n_arabic") >= greatest(col("n_cjk"), col("n_digit"),
            col("n_other")), lit("arabic"))
          .when(col("n_cjk") >= greatest(col("n_digit"), col("n_other")), lit("cjk"))
          .when(col("n_digit") >= col("n_other"), lit("digit"))
          .otherwise(lit("other")))
      .drop("n_visible")
  }

  /** Feature buckets for [[nbClassifier]] — wide enough that 5-ish
    * classes separate cleanly, small enough that the dense class×bucket
    * model is always broadcast-sized (classes · 1024 rows). */
  val NbBuckets = 1024

  /** Per-mille of the doc-id hash space used as the training split. */
  val NbTrainPerMille = 800

  /** Multinomial Naive Bayes over hashed bag-of-words features — the
    * LEARNED document classifier of the curation stack (the fastText
    * supervised shape minus the gradient loop: count, smooth, argmax),
    * complementing the fixed-lexicon [[langId]] heuristic. Trains on
    * the deterministic [[Curation.hashBucket]] doc-id split (no RNG —
    * both engines and every rerun agree on membership), then scores
    * EVERY document: predicted class = argmin over classes of
    * Σ_tokens bits_c(bucket) + priorBits(c), the −log₂ posterior in
    * exact floor-log2 integers (the [[lmScore]] bit trick, +1-smoothed
    * per bucket so unseen features cost the class's ceiling rather
    * than ∞). Ties break to the lexicographically smallest class, so
    * the argmin is ONE `min(struct(cost, class))` hash-agg — no
    * per-doc window, no sort.
    *
    * Scale shape: token text never shuffles (features become
    * [[NbBuckets]] small-int keys before the tf agg); the model is a
    * class×bucket table (≤ classes·buckets rows) built from one
    * hash-agg over the train slice and joined back BROADCAST; scoring
    * is the n·K grid (docs × classes — K = class count, the same
    * allowlisted shape as IVF's n·K centroid scoring) aggregated
    * twice: (doc, class) cost, then per-doc argmin. Docs with no
    * tokens are still classified — by prior alone. Classes absent
    * from the train slice cannot be predicted (documented, inherent
    * to any train/score split).
    *
    * Output: (idCol, predicted, cost_bits, actual, correct) — all
    * exact integers / strings, cross-engine hashable.
    */
  def nbClassifier(
      docs: DataFrame,
      labelCol: String = "lang",
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = NbBuckets,
      trainPerMille: Int = NbTrainPerMille): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(trainPerMille >= 1 && trainPerMille <= 1000,
      s"trainPerMille must be in [1,1000], got $trainPerMille")
    val norm = graft.functions.Scalars.wordNorm(col("word"))
    val bucket =
      conv(substring(sha2(norm, 256), 1, 15), 16, 10)
        .cast("long") % buckets.toLong
    val isTrain = Curation.hashBucket(col(idCol)) < trainPerMille
    val base = docs.select(col(idCol), col(labelCol).as("__actual"),
      col(textCol), isTrain.as("__train"))
    val toks = Tokenize.splitTokens(inputCol = textCol)(base)
      .select(col(idCol), col("__actual"), col("__train"), bucket.as("__b"))
    // class model from the train slice: per-(class, bucket) counts,
    // per-class token totals, per-class doc priors — all tiny aggs
    val cnt = toks.where(col("__train"))
      .groupBy(col("__actual").as("__c"), col("__b"))
      .agg(count(lit(1)).as("__cnt"))
    val classTotals = cnt.groupBy(col("__c")).agg(sum(col("__cnt")).as("__tc"))
    val priors = base.where(col("__train"))
      .groupBy(col("__actual").as("__c")).agg(count(lit(1)).as("__nc"))
    val nTrain = priors.agg(sum(col("__nc")).as("__nt"))
    val classes = priors.join(classTotals, Seq("__c"), "left")
      .crossJoin(broadcast(nTrain))
      .select(col("__c"),
        coalesce(col("__tc"), lit(0L)).as("__tc"),
        (length(bin(col("__nt") + 1L)) - length(bin(col("__nc") + 1L)))
          .cast("long").as("__prior_bits"))
    // per-(doc, bucket) tf — the only corpus-sized shuffle
    val tf = toks.groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__tf"))
    // n·K grid: every doc × every trainable class; token cost joins
    // the sparse count table broadcast, unseen buckets cost the
    // smoothed ceiling len(bin(Tc + B)) − 1
    val tokCost = tf.crossJoin(broadcast(classes.select(col("__c"), col("__tc"))))
      .join(broadcast(cnt), Seq("__b", "__c"), "left")
      .groupBy(col(idCol), col("__c"))
      .agg(sum(col("__tf") *
        (length(bin(col("__tc") + buckets.toLong)) -
         length(bin(coalesce(col("__cnt"), lit(0L)) + 1L))).cast("long"))
        .as("__tok_bits"))
    val grid = base.select(col(idCol), col("__actual"))
      .crossJoin(broadcast(classes.select(col("__c"), col("__prior_bits"))))
      .join(tokCost, Seq(idCol, "__c"), "left")
      .select(col(idCol), col("__actual"), col("__c"),
        (col("__prior_bits") + coalesce(col("__tok_bits"), lit(0L)))
          .as("__cost"))
    // argmin = ONE min(struct(cost, class)) aggregation with map-side
    // partials — lexicographic struct order gives (min cost, then min
    // class), the deterministic tie-break. The planner realizes it as
    // SortAggregate (struct buffers aren't hash-mutable — true of
    // every max_by/min_by argmax in this library); the point is there
    // is NO per-doc WindowExec: partial aggregation shrinks each map
    // partition to one row per (doc) before the shuffle, which a
    // window cannot do.
    grid.groupBy(col(idCol))
      .agg(
        min(struct(col("__cost"), col("__c"))).as("__best"),
        first(col("__actual")).as("actual"))
      .select(col(idCol),
        col("__best.__c").as("predicted"),
        col("__best.__cost").as("cost_bits"),
        col("actual"),
        when(col("__best.__c") === col("actual"), lit(1L))
          .otherwise(lit(0L)).as("correct"))
  }

  /** Sparse TF-IDF cosine document similarity — "related documents" by
    * term overlap, the LEXICAL complement of
    * [[Embeddings.cosineNearDup]]'s dense-vector pairs: weights are the
    * exact integers `tf · idf_bits` with `idf_bits = ⌊log2 N⌋ −
    * ⌊log2 df⌋` (the [[lmScore]] bin-length trick), norms are
    * [[Curation.isqrt]] exact integer roots, and the cosine ×10⁶ is
    * computed in DECIMAL(38,0) before flooring back to int64 — every
    * step replayable bit-for-bit by another engine.
    *
    * Shape: per-doc tf hash-agg FIRST (one row per (doc, term) enters
    * the join — no token-multiplicity skew), a vocabulary-sized df
    * agg, then the pair candidates from a TERM equijoin — never
    * all-pairs. `maxDf` is the load-bearing dial: pair work is
    * Σ_term df² ≤ maxDf · Σ df, linear in the posting stream with the
    * cap as the constant, and the words it drops are exactly the
    * near-zero-idf stopwords that contribute noise, not signal —
    * same cap, same reason as [[invertedIndex]] and the hot-shingle
    * cap in [[NearDup.ngramJaccardPairs]]. Pairs below `minCosX1e6`
    * are filtered after one decimal division per surviving pair.
    *
    * Overflow envelope: weights are ≤ tf·64; a doc with 10⁵-token tf
    * and 30-bit idf has wt ≈ 3·10⁶, so the int64 norm² sum holds to
    * ~10⁶ distinct terms per doc — far past real documents. The
    * cosine numerator `dot·10⁶` is the term that would wrap first
    * (~10¹⁴ on big docs), hence the DECIMAL(38,0) arithmetic there.
    */
  def tfidfSimilarity(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDf: Long = 100L,
      minCosX1e6: Long = 250000L): DataFrame = {
    val norm = graft.functions.Scalars.wordNorm(col("word"))
    val tokens = Tokenize.splitTokens(inputCol = textCol)(
      docs.select(col(idCol), col(textCol)))
      .select(col(idCol), norm.as("__w"))
    val tf = tokens.groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__tf"))
    val nDocs = tf.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("__n"))
    val dfs = tf.groupBy(col("__w")).agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDf)
    val idf = dfs.crossJoin(broadcast(nDocs))
      .select(col("__w"), col("__df"),
        (length(bin(col("__n"))) - length(bin(col("__df"))))
          .cast("long").as("__idf"))
    val wts = tf.join(idf, "__w")
      .select(col(idCol), col("__w"), col("__df"),
        (col("__tf") * col("__idf")).as("__wt"))
      .where(col("__wt") > 0)
    val norms = wts.groupBy(col(idCol))
      .agg(sum(col("__wt") * col("__wt")).as("__n2"))
      .select(col(idCol), Curation.isqrt(col("__n2")).as("__nrm"))
      .where(col("__nrm") > 0)
    // Pair candidates only need terms in ≥ 2 docs: a singleton term
    // can never form an id_a < id_b pair, but its diagonal join row
    // still costs shuffle — and df = 1 is the LONG TAIL of any real
    // vocabulary (typos, ids, hapax legomena), often the majority of
    // posting entries at corpus scale. Dropping it here is
    // result-identical (singletons still weight tf·idf and norms);
    // only the dead join rows disappear.
    val pairable = wts.where(col("__df") >= 2)
    val dots = pairable
      .select(col(idCol).as("id_a"), col("__w"), col("__wt").as("__wa"))
      .join(pairable
        .select(col(idCol).as("id_b"), col("__w"), col("__wt").as("__wb")),
        "__w")
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("__wa") * col("__wb")).as("__dot"))
    dots
      .join(norms.select(col(idCol).as("id_a"), col("__nrm").as("__na")), "id_a")
      .join(norms.select(col(idCol).as("id_b"), col("__nrm").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        expr("""(cast(__dot as decimal(38,0)) * 1000000)
               | div (cast(__na as decimal(38,0)) * cast(__nb as decimal(38,0)))"""
          .stripMargin.replace("\n", " ")).as("cos_x1e6"))
      .where(col("cos_x1e6") >= minCosX1e6)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) — corpus
    * keywords as the PageRank centers of the word co-occurrence
    * graph: nodes are normalized tokens, an undirected edge links
    * every ADJACENT token pair, and [[Graph.pageRank]]'s exact
    * fixed-point integer update scores centrality. Composes two
    * existing families end-to-end — the bigram array pass of
    * [[lmScoreBigram]] builds the edges, the graph machinery ranks —
    * with no new arithmetic to verify.
    *
    * Shape: edge generation is one narrow zip_with pass + a distinct
    * (vocabulary-pair-sized, ≪ token stream); the rank loop is
    * [[Graph.pageRank]]'s one-join-one-agg per round over a
    * vocabulary-sized node set; the final top-k is a distributed
    * TakeOrderedAndProject, no global sort. At web-corpus vocabularies
    * pass a smaller `scale` through [[Graph.pageRank]]'s headroom
    * note (n·scale must stay inside int64).
    */
  def keywords(
      docs: DataFrame,
      k: Int = 25,
      iters: Int = 4,
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val raw = filter(split(col(textCol), "\\s+"),
      t => !graft.functions.Scalars.isBlank(t))
    val arr = transform(raw, w => graft.functions.Scalars.wordNorm(w))
    val edges = docs.select(arr.as("__a"))
      .where(size(col("__a")) >= 2)
      .select(explode(zip_with(
        slice(col("__a"), lit(1), size(col("__a")) - 1),
        slice(col("__a"), lit(2), size(col("__a")) - 1),
        (x, y) => struct(least(x, y).as("lo"), greatest(x, y).as("hi"))))
        .as("__e"))
      .select(col("__e.lo").as("lo"), col("__e.hi").as("hi"))
      .where(col("lo") =!= col("hi"))
      .distinct()
    val sym = edges.select(col("lo").as("src"), col("hi").as("dst"))
      .union(edges.select(col("hi").as("src"), col("lo").as("dst")))
    Graph.pageRank(sym, iters = iters)
      .orderBy(col("pr").desc, col("id"))
      .limit(k)
      .select(col("id").as("word"), col("pr").as("pr_x1e12"))
  }
}
