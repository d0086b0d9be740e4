package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines — the steps a
  * 100 TB text corpus goes through between crawl and training that the
  * reference pipeline (an exact-dedup ETL,
  * tiny_etl/transformers/aggregators.py) stops short of:
  *
  *   - [[contaminationHits]] / [[decontaminate]] — benchmark n-gram
  *     decontamination (drop training docs that share verbatim n-grams
  *     with an eval set), the standard leakage guard.
  *   - [[scrubPii]] — regex PII redaction (emails / IPv4 / phone-like),
  *     with per-pattern match counts for audit.
  *   - [[repetitionStats]] — Gopher-style repetition quality signals
  *     (duplicate-token fraction, top-bigram mass) as integer
  *     fixed-point milli-fractions.
  *   - [[sampleStratified]] — deterministic per-stratum downsampling via
  *     a multiplicative hash (reproducible across runs AND engines,
  *     unlike `DataFrame.sampleBy`'s RNG).
  *   - [[mixtureByBudget]] — token-budget mixture selection (the
  *     data-mixing step): per-stratum hash-ordered prefix under a token
  *     budget, executed as a distributed prefix scan.
  *
  * Scale shapes: every candidate set comes from an equijoin on a
  * high-entropy key (the n-gram string), never an all-pairs product;
  * per-doc signals are narrow projections or hash-aggregations with
  * map-side partials; sampling is a broadcast join + narrow filter.
  * All ratios are integer fixed-point (`div`), so the DuckDB oracle
  * matches bit-for-bit.
  */
object Curation {

  // ----------------------------------------------------- decontamination

  /** Default contamination shingle width. 8-grams (vs NearDup's 3) is
    * the usual decontamination setting: long enough that a shared gram
    * is evidence of verbatim copying, not topical overlap. */
  val ContaminationN = 8

  /** Docs sharing ≥ 1 distinct word `n`-gram with the benchmark subset,
    * with the count of distinct shared grams: `(idCol, n_shared_grams)`.
    *
    * `isBenchmark` is any deterministic predicate over the doc row
    * (e.g. a membership flag or an id rule) that splits the corpus into
    * eval (benchmark) and training sides.
    *
    * Shape: distinct shingles per doc (one compiled pass,
    * [[NearDup.shingles]]) → the benchmark side is deduped to a distinct
    * gram set and broadcast (an eval benchmark is small by definition;
    * [[contaminationBloom]] is the shape for one that is not) → equijoin on
    * the gram string → one hash-agg per contaminated doc. The corpus
    * side never shuffles when the benchmark broadcasts; join output is
    * ∝ true contamination, because grams are distinct on BOTH sides.
    */
  def contaminationHits(
      docs: DataFrame,
      isBenchmark: Column,
      n: Int = ContaminationN,
      idCol: String = "doc_id",
      textCol: String = "text",
      materializeGrams: Boolean = false): DataFrame = {
    val grams = contaminationGrams(docs, isBenchmark, n, idCol, textCol,
      materializeGrams)
    val bench = grams.filter(col("__bench")).select(col("s")).distinct()
    grams.filter(!col("__bench"))
      .join(broadcast(bench), "s")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Tagged shingle table shared by the two decontamination operators.
    *
    * `materialize = false` (the default) keeps it a NARROW generate:
    * the benchmark side re-runs the tokenize, but the corpus-sized
    * gram table never shuffles — the right trade when the operator
    * runs ALONE, because the recompute is one cheap compiled pass
    * while the materialized row is a gram STRING (not a packed long,
    * unlike the minhash/winnow seams). `materialize = true` ends the
    * table in one exchange on the doc key — the materialized-once
    * seam (see [[NearDup.minHashPairs]]) for COMPOSED queries that
    * consume the same grams several times: the exact+bloom battery
    * query evaluates the generate 4× without it, and because the
    * exchange is canonically identical across both operators, AQE's
    * stage cache computes it once for the whole composed plan
    * (measured: 2.6 s → 1.0 s at sf0.1). */
  private def contaminationGrams(
      docs: DataFrame,
      isBenchmark: Column,
      n: Int,
      idCol: String,
      textCol: String,
      materialize: Boolean): DataFrame = {
    val grams = NearDup.shingles(
      docs.withColumn("__bench", isBenchmark), idCol = idCol, textCol = textCol,
      n = n, carryCols = Seq("__bench"))
    if (materialize) grams.repartition(col(idCol)) else grams
  }

  /** The clean corpus: training-side docs with NO `n`-gram overlap with
    * the benchmark — [[contaminationHits]] turned into a left-anti join.
    */
  def decontaminate(
      docs: DataFrame,
      isBenchmark: Column,
      n: Int = ContaminationN,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val hits = contaminationHits(docs, isBenchmark, n, idCol, textCol)
      .select(col(idCol))
    docs.filter(!isBenchmark).join(hits, Seq(idCol), "left_anti")
  }

  /** Near-dup decontamination — the paraphrase-tolerant form of
    * [[decontaminate]]: a training doc is scrubbed when it is a
    * CONFIRMED MinHash near-duplicate of some benchmark doc — banded
    * candidates (the pair must agree on ≥ 1 of the k signature words,
    * [[NearDup.minHashPairsBetween]]'s r = 1 recall contract — a
    * high-Jaccard pair is caught with P = 1 − (1 − J)^k, not with
    * certainty) confirmed at exact shingle Jaccard ≥ the threshold.
    * This closes the gap verbatim decontamination leaves open at
    * training scale: an eval item lightly reworded before landing in a
    * crawl shares few exact 8-grams but keeps high shingle Jaccard,
    * and a model graded on it is still contaminated.
    *
    * 100 TB shape: cross-corpus pairs come from the banded
    * (hash index, hash value) equijoin — each side signed once, never
    * train×benchmark — and the scrub is one anti-join on the hit ids.
    * The benchmark side is small by nature, so the recurring cost is
    * the training corpus's signatures, the same pass its own dedup
    * already pays. */
  def decontaminateFuzzy(
      docs: DataFrame,
      isBenchmark: Column,
      idCol: String = "doc_id",
      textCol: String = "text",
      thresholdMilli: Int = NearDup.ThresholdMilli): DataFrame =
    decontaminateFuzzyBetween(docs.filter(!isBenchmark),
      docs.filter(isBenchmark), idCol, textCol, thresholdMilli)

  /** Two-frame core of [[decontaminateFuzzy]] — train and benchmark as
    * separate relations (id spaces must be disjoint). The ONE
    * definition behind the predicate form, the SQL table function, and
    * the streaming ingest gate
    * ([[graft.streaming.Streams.ingestDecontam]]), so the three
    * surfaces cannot drift. Returns the surviving train rows with ALL
    * their columns. */
  def decontaminateFuzzyBetween(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      thresholdMilli: Int = NearDup.ThresholdMilli): DataFrame = {
    require(thresholdMilli >= 1 && thresholdMilli <= 1000,
      s"thresholdMilli must be in [1, 1000] (Jaccard per-mille), got " +
        s"$thresholdMilli — 0 would scrub every banded candidate, > 1000 " +
        "is unsatisfiable and would pass every contaminated doc as clean")
    val hits = NearDup.minHashPairsBetween(
        train.select(col(idCol), col(textCol)),
        benchmark.select(col(idCol), col(textCol)),
        idCol, textCol, thresholdMilli = thresholdMilli)
      .select(col("doc_a").as(idCol)).distinct()
    train.join(hits, Seq(idCol), "left_anti")
  }

  // --------------------------------------- bloom-filter membership scrub

  /** Default Bloom filter size (bits) and probe count for
    * [[contaminationBloom]]. 2²⁰ bits / 5 probes holds ~10⁵ reference
    * grams under 1 % per-probe load — size real deployments with
    * [[bloomBitsFor]] instead of freezing these. */
  val BloomBits: Long = 1L << 20
  val BloomHashes: Int = 5

  /** Filter size for a target reference-set cardinality: the classic
    * `bitsPerItem` sizing (fpp ≈ 0.6185^bitsPerItem — 16 bits/item
    * ≈ 0.05 %), rounded up to whole 32-bit words. Mirrors
    * [[Embeddings.centroidStepFor]]: the DIAL is part of the operator,
    * so the filter grows with the reference set instead of silently
    * saturating (a saturated bloom flags everything). */
  def bloomBitsFor(nItems: Long, bitsPerItem: Int = 16): Long = {
    require(nItems >= 1 && bitsPerItem >= 1)
    val raw = nItems * bitsPerItem.toLong
    ((raw + 31) / 32) * 32
  }

  /** Probe count matched to `bitsPerItem`: k = round(bits·ln 2), the
    * fpp-minimizing choice (16 bits/item → 11 probes). */
  def bloomHashesFor(bitsPerItem: Int = 16): Int =
    math.max(1, math.round(bitsPerItem * math.log(2.0)).toInt)

  /** 60-bit integer slice of sha256 — the library-wide engine-portable
    * hash idiom (same as [[NearDup]]'s shingle keys). `from` is the
    * 1-based hex-digit offset; slices 1 and 16 are independent. */
  private def shaSlice60(c: Column, from: Int): Column =
    conv(substring(sha2(c, 256), from, 15), 16, 10).cast("long")

  /** The k probe positions of one item under Kirsch–Mitzenmacher
    * double hashing, pos_i = (h1 + i·h2) mod m with h1, h2 reduced mod
    * m first (so no sum ever leaves small-integer range). Emitted as
    * one row per probe: (input row ++ __w word index, __mask bit). */
  private def bloomProbes(
      items: DataFrame, itemCol: String, mBits: Long, k: Int): DataFrame = {
    require(mBits > 0 && mBits % 32 == 0,
      s"mBits must be a positive multiple of 32, got $mBits")
    require(k >= 1, s"k must be >= 1, got $k")
    val h1 = pmod(shaSlice60(col(itemCol), 1), lit(mBits))
    val h2 = pmod(shaSlice60(col(itemCol), 16), lit(mBits))
    items
      .withColumn("__i", explode(sequence(lit(0L), lit(k - 1L))))
      .withColumn("__p", pmod(h1 + col("__i") * h2, lit(mBits)))
      .withColumn("__w", expr("__p div 32"))
      .withColumn("__mask", expr("shiftleft(cast(1 as bigint), cast(__p % 32 as int))"))
      .drop("__i", "__p")
  }

  /** Build a Bloom filter over `items(itemCol)` as a TABLE of set
    * 32-bit words — (`__w` word index, `bits`): the distributed
    * representation of the filter, built by ONE hash-aggregation
    * (`bit_or` with map-side partials; `bit_or` is idempotent, so
    * duplicate items need no dedup shuffle first). At most mBits/32
    * rows regardless of reference-set size — always broadcastable,
    * which is the POINT: membership against a reference set too big to
    * broadcast as strings becomes a broadcast of its fixed-size bit
    * array. Absent words are all-zero (the probe side coalesces). */
  def bloomBuild(
      items: DataFrame,
      itemCol: String,
      mBits: Long = BloomBits,
      k: Int = BloomHashes): DataFrame =
    bloomProbes(items.select(col(itemCol)), itemCol, mBits, k)
      .groupBy(col("__w"))
      .agg(bit_or(col("__mask")).as("bits"))

  /** Tag each row of `items` with `__member`: true iff ALL k probe
    * bits are set in `bloom` (might-contain — false positives at the
    * filter's fpp, NEVER false negatives). One narrow k-way explode, a
    * broadcast left join on the word index, and one bool_and hash-agg
    * back to row granularity; `groupCols` names the columns that
    * identify a row (they ride the agg as grouping keys). */
  def bloomMightContain(
      items: DataFrame,
      bloom: DataFrame,
      itemCol: String,
      groupCols: Seq[String],
      mBits: Long = BloomBits,
      k: Int = BloomHashes): DataFrame =
    bloomProbes(items, itemCol, mBits, k)
      .join(broadcast(bloom), Seq("__w"), "left")
      .withColumn("__hit",
        coalesce(col("bits"), lit(0L)).bitwiseAND(col("__mask")) =!= 0)
      .groupBy(groupCols.map(col): _*)
      .agg(bool_and(col("__hit")).as("__member"))

  /** [[contaminationHits]] re-expressed through the Bloom filter — the
    * shape that survives a reference set too large to broadcast as
    * strings (cross-crawl dedup, multi-benchmark unions): the filter
    * build touches the reference side once, the corpus probes a
    * broadcast ≤ mBits/32-row word table, and NOTHING joins on the
    * gram string. Per training doc: distinct-gram count, bloom-flagged
    * gram count, and the verdict. False-positive grams can overcount
    * `n_flagged` (at the filter's fpp, bounded by [[bloomBitsFor]]'s
    * sizing); a flagged doc set is therefore a SUPERSET of the exact
    * operator's — the safe direction for a leakage guard. */
  def contaminationBloom(
      docs: DataFrame,
      isBenchmark: Column,
      n: Int = ContaminationN,
      mBits: Long = BloomBits,
      k: Int = BloomHashes,
      idCol: String = "doc_id",
      textCol: String = "text",
      materializeGrams: Boolean = false): DataFrame = {
    val grams = contaminationGrams(docs, isBenchmark, n, idCol, textCol,
      materializeGrams)
    val bloom = bloomBuild(grams.filter(col("__bench")), "s", mBits, k)
    bloomMightContain(
        grams.filter(!col("__bench")).select(col(idCol), col("s")),
        bloom, "s", Seq(idCol, "s"), mBits, k)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__member"), 1L).otherwise(0L)).as("n_flagged"))
      .withColumn("bloom_hit", col("n_flagged") > 0)
  }

  // ----------------------------------------------------- PII scrubbing

  /** Email-ish pattern — kept to the Java-regex ∩ RE2 common subset so
    * the DuckDB oracle runs the same pattern text. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 (unvalidated octet range — redaction favors
    * recall). */
  val Ipv4Pattern = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"

  /** US-local phone-like `ddd-dddd`. */
  val PhonePattern = "\\b\\d{3}-\\d{4}\\b"

  /** Redacts PII-shaped substrings in `textCol` IN PLACE (email → ip →
    * phone, in that order) and adds `n_emails` / `n_ips` / `n_phones`
    * audit counts. Counts are per-pattern matches against the ORIGINAL
    * text, independent of redaction order (an IPv4 inside an email
    * address counts for both).
    *
    * Shape: a pure narrow projection — codegen'd `regexp_*` built-ins,
    * no UDF, no shuffle; scales embarrassingly.
    */
  def scrubPii(
      df: DataFrame,
      textCol: String = "text",
      emailToken: String = "<EMAIL>",
      ipToken: String = "<IP>",
      phoneToken: String = "<PHONE>"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", regexp_count(t, lit(EmailPattern)).cast("long"))
      .withColumn("n_ips", regexp_count(t, lit(Ipv4Pattern)).cast("long"))
      .withColumn("n_phones", regexp_count(t, lit(PhonePattern)).cast("long"))
      .withColumn(textCol,
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailPattern, emailToken),
            Ipv4Pattern, ipToken),
          PhonePattern, phoneToken))
  }

  // ----------------------------------------------------- repetition stats

  /** Gopher-style repetition signals per doc:
    * `(idCol, n_tokens, n_distinct_tokens, dup_token_frac_milli,
    * n_bigrams, top_bigram_count, top_bigram_frac_milli, flagged)`.
    *
    *   - `dup_token_frac_milli` = 1000·(n_tokens − n_distinct) div
    *     n_tokens — the mass held by repeated tokens;
    *   - `top_bigram_frac_milli` = 1000·top_bigram_count div n_bigrams —
    *     the mass of the single most frequent word bigram;
    *   - `flagged` = either fraction at/over its threshold.
    *
    * Docs with < 2 tokens have no bigrams and are dropped (no repetition
    * signal exists for them).
    *
    * Shape: a pure NARROW projection — zero shuffles. Repetition is a
    * per-doc property, so nothing corpus-sized ever needs to move: the
    * most-frequent-bigram count is the longest run in the doc's SORTED
    * bigram array, computed per row (sort_array + one aggregate pass)
    * instead of exploding the corpus's entire bigram stream through two
    * hash-agg shuffles (measured ~5× on the sf0.1 battery: 4.9 s → 1.0 s
    * steady-state). The HOF lambdas
    * are per-ROW — the acceptable side of the CodegenFallback trade
    * (per-PAIR HOFs are the fatal kind). Raw (non-distinct) bigrams,
    * since repetition is exactly what dedup would erase. All fractions
    * integer fixed-point.
    */
  def repetitionStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      flagDupMilli: Int = 700,
      flagTopBigramMilli: Int = 180): DataFrame = {
    val toks = filter(split(col(textCol), "\\s+"),
      t => !(t === "" || t.rlike("^\\s+$")))
    // longest run of equal adjacent elements in the sorted bigram list =
    // the count of the most frequent bigram; one fold, exact
    val topRun =
      """aggregate(
        |  sort_array(transform(sequence(0, size(__ts) - 2),
        |                       i -> concat_ws(' ', __ts[i], __ts[i+1]))),
        |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
        |  (acc, g) -> named_struct(
        |    'prev', g,
        |    'run',  IF(acc.prev <=> g, acc.run + 1, 1L),
        |    'best', greatest(acc.best, IF(acc.prev <=> g, acc.run + 1, 1L))),
        |  acc -> acc.best)""".stripMargin
    docs
      .select(col(idCol), toks.as("__ts"))
      .filter(size(col("__ts")) >= 2)
      .select(
        col(idCol),
        size(col("__ts")).cast("long").as("n_tokens"),
        size(array_distinct(col("__ts"))).cast("long").as("n_distinct_tokens"),
        (size(col("__ts")) - 1).cast("long").as("n_bigrams"),
        expr(topRun).as("top_bigram_count"))
      .select(
        col(idCol), col("n_tokens"), col("n_distinct_tokens"),
        expr("((n_tokens - n_distinct_tokens) * 1000) div n_tokens")
          .as("dup_token_frac_milli"),
        col("n_bigrams"), col("top_bigram_count"),
        expr("(top_bigram_count * 1000) div n_bigrams")
          .as("top_bigram_frac_milli"))
      .withColumn("flagged",
        col("dup_token_frac_milli") >= flagDupMilli ||
          col("top_bigram_frac_milli") >= flagTopBigramMilli)
  }

  // ----------------------------------------------------- stratified sampling

  /** Knuth's multiplicative-hash constant (⌊2^32/φ⌋, an odd number
    * coprime to 2^32). */
  val HashMul = 2654435761L

  /** Deterministic hash bucket in [0, buckets): id is first reduced mod
    * 2^31−1 so the product stays well inside int64 for ANY int64 id —
    * ANSI mode would otherwise overflow-error at id ≳ 3.5e9, exactly the
    * ids a 100 TB corpus has. Pure int64 arithmetic, so any engine
    * reproduces it (the DuckDB oracle runs the same three-step
    * expression). */
  /** The full 32-bit multiplicative hash of an id — the deterministic
    * shuffle order under [[hashBucket]] (= `hashOrder % buckets`). */
  def hashOrder(id: Column): Column =
    ((id % lit(2147483647L)) * lit(HashMul)) % lit(4294967296L)

  /** [[hashOrder]] as engine-neutral SQL text — THE single source the
    * differential oracles interpolate, so the reduction moduli can
    * never drift between engine and oracle copies. */
  def hashOrderSql(idExpr: String): String =
    s"((($idExpr) % 2147483647) * $HashMul) % 4294967296"

  def hashBucket(id: Column, buckets: Int = 1000): Column =
    hashOrder(id) % lit(buckets)

  /** Deterministic stratified downsampling: keep a row iff
    * `hashBucket(id) < permille(stratum)`. `rates` maps stratum value →
    * keep-rate in permille (0–1000); strata absent from `rates` are
    * dropped (rate 0). The hash is a function of the ROW ID, so the
    * decision is stable under re-runs, engine changes, and corpus
    * growth — the property `sampleBy`'s seeded RNG only gives within one
    * Spark version/partitioning.
    *
    * Shape: broadcast the (tiny) rates table, then a narrow filter — no
    * shuffle of the corpus.
    */
  def sampleStratified(
      df: DataFrame,
      rates: Seq[(String, Int)],
      strataCol: String = "lang",
      idCol: String = "doc_id"): DataFrame = {
    require(rates.forall { case (_, r) => r >= 0 && r <= 1000 },
      "rates are permille and must be in [0, 1000]")
    val spark = df.sparkSession
    import spark.implicits._
    val ratesDf = rates.toDF(strataCol, "__permille")
    df.join(broadcast(ratesDf), strataCol)
      .filter(hashBucket(col(idCol)) < col("__permille"))
      .drop("__permille")
  }

  /** Deterministic weighted top-k sampling — fixed-size selection where
    * a row's inclusion odds scale with its weight (token count, quality
    * score, importance weight from [[dsirWeights]]): the integer
    * priority-sampling scheme `priority = hashOrder(id) div weight`,
    * keep the k smallest (priority, id). A row with twice the weight
    * halves its priority, doubling its selection odds under the
    * ~uniform hash — the fixed-point cousin of A-Res exponential
    * sampling, chosen because it is EXACT integer arithmetic both
    * engines replay bit-for-bit (no log/pow to drift). Weights clamp
    * to ≥ 1 so zero-weight rows stay selectable at the floor rather
    * than dividing by zero.
    *
    * Shape: a narrow projection computes priorities in the scan, then
    * ONE distributed top-k (TakeOrderedAndProject — per-partition
    * partial top-k, never a global sort). Selection is stable under
    * re-runs, engine swaps, and partitioning changes; adding rows can
    * only displace, never reshuffle, the kept set — the same
    * incremental-ingest property the hash-membership samplers here
    * share.
    */
  def sampleWeighted(
      df: DataFrame,
      k: Int,
      idCol: String = "doc_id",
      weightCol: String = "n_chars"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.withColumn("priority",
        call_function("div", hashOrder(col(idCol)),
          greatest(col(weightCol), lit(1L))))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** Cluster-coverage sampling — the diversity-aware selection step of
    * a training-data pipeline (the SemDeDup/DsDm-style "pick the best
    * of each semantic region" shape): given per-record quality scores
    * and a cluster assignment (e.g.
    * [[graft.operators.Embeddings.ivfAssign]] cells), keep the top
    * `perCell` records of every cluster by (score DESC, id ASC —
    * deterministic in any engine). Where weighted/stratified sampling
    * balances by SOURCE labels, this balances by embedding-space
    * COVERAGE: no region is over-represented however much raw mass it
    * has.
    *
    * 100 TB shape: one equijoin on the id (both sides shuffle once) and
    * one rank window partitioned by cell. At a fixed seed step the cell
    * COUNT grows with the corpus while the per-cell population stays
    * ≈ step, so window partitions are bounded; the `rank <= perCell`
    * filter compiles to a WindowGroupLimit (each map partition prunes
    * to its own top-perCell before the cell shuffle — PlanShapeSpec
    * asserts it), so the exchange carries O(cells · perCell) candidate
    * rows, not the corpus.
    */
  def coverageSample(
      scored: DataFrame,
      cells: DataFrame,
      perCell: Int = 1,
      idCol: String = "doc_id",
      cellIdCol: String = "vec_id",
      cellCol: String = "cell",
      scoreCol: String = "score_milli"): DataFrame = {
    require(perCell >= 1, s"perCell must be >= 1, got $perCell")
    val joined = scored.select(col(idCol), col(scoreCol))
      .join(cells.select(col(cellIdCol).as(idCol), col(cellCol)), idCol)
    val w = Window.partitionBy(col(cellCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    joined
      .withColumn("cell_rank", row_number().over(w).cast("long"))
      .where(col("cell_rank") <= perCell)
      .select(col(idCol), col(cellCol), col(scoreCol), col("cell_rank"))
  }

  /** Markup stripping + whitespace normalization — the first transform
    * a web crawl sees: drop tags (`<[^>]*>` → space, so adjacent words
    * never fuse), unescape the four core HTML entities (`&amp;` LAST —
    * unescaping it first would double-decode `&amp;lt;`), collapse
    * whitespace runs, trim. Pure narrow projection, zero shuffles; all
    * regexes are plain character classes with identical semantics in
    * Java and RE2, so the oracle matches byte-for-byte. `n_tags`
    * audits how much markup was removed (counted BEFORE stripping).
    */
  def cleanMarkup(
      docs: DataFrame,
      textCol: String = "text",
      outCol: String = "clean_text"): DataFrame = {
    val noTags = regexp_replace(col(textCol), "<[^>]*>", " ")
    val unescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    docs
      .withColumn("n_tags",
        size(regexp_extract_all(col(textCol), lit("<[^>]*>"), lit(0))).cast("long"))
      .withColumn(outCol, trim(regexp_replace(unescaped, "\\s+", " ")))
  }

  /** Rank-based bucket assignment per stratum — the curriculum/binning
    * step: each row's bucket is `⌊(rank − 1) · buckets / n⌋` within its
    * stratum (ranks by `(valueCol, idCol)` — deterministic under value
    * ties), so buckets are BALANCED by construction regardless of the
    * value distribution, unlike fixed value cutoffs. One shuffle on the
    * stratum, one per-partition sort, both window functions on one
    * spec.
    *
    * Scale note: like any exact-rank operator this sorts each stratum
    * in one window partition. With few giant strata the 100 TB form
    * keeps the same contract but derives approximate cutoffs first
    * (`percentile_approx`, or a RangePartitioner-style sample) and
    * assigns by comparison — rank-exactness traded for boundedness,
    * the same trade `lengthStats` documents.
    */
  def rankBuckets(
      df: DataFrame,
      valueCol: String,
      strataCol: String,
      idCol: String = "doc_id",
      buckets: Int = 4): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val w = Window.partitionBy(col(strataCol))
    // nulls-first EXPLICITLY: Spark's ASC default is nulls-first but
    // DuckDB's is nulls-LAST — silent cross-engine divergence on the
    // first null value otherwise
    df
      .withColumn("__rn",
        row_number().over(w.orderBy(
          col(valueCol).asc_nulls_first, col(idCol))).cast("long"))
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("bucket", expr(s"((__rn - 1) * $buckets) div __cnt"))
      .drop("__rn", "__cnt")
  }

  /** Token-budget mixture selection — the data-mixing step that turns a
    * curated pool into a training mix: per stratum (source/domain),
    * keep the prefix of the [[hashOrder]]-shuffled doc stream whose
    * running `weightCol` total stays ≤ the stratum's budget. The hash
    * order makes the prefix a uniform sample, deterministic across
    * runs, engines, and corpus growth (a doc's position never depends
    * on other docs). Weights are positive, so once the running total
    * overflows the budget every later doc is over too — the filter IS
    * the prefix rule. Strata absent from `budgets` get `defaultBudget`.
    *
    * Scale shape — a distributed prefix scan, NOT one window partition
    * per stratum (a handful of strata would mean a handful of giant
    * sorted partitions): docs land in `buckets` CONTIGUOUS hash-range
    * sub-buckets per stratum (bucket = hashOrder div width — monotone
    * in hash order, balanced because the multiplicative hash is
    * ~uniform); per-bucket totals (one hash-agg, map-side partials)
    * give each bucket its exclusive prefix offset via a window over
    * the tiny strata × buckets table; the broadcast offsets join back
    * and each (stratum, bucket) partition computes its own running
    * sum. Range buckets keep the global selection order exactly
    * `(hashOrder, id)`, so `buckets` is a pure execution dial — the
    * selected set is identical for any value (spec-asserted), and the
    * single-window oracle needs no bucket term. Per-partition sort
    * size shrinks with `buckets`; no corpus-wide sort anywhere.
    */
  /** Shared distributed prefix scan: the input plus an inclusive
    * running `weightCol` total (`__cum`) over each stratum's
    * (hashOrder, id)-ordered stream, plus the `__b`/`__o` tags —
    * contiguous hash-range buckets, per-bucket totals hash-agged into
    * broadcast exclusive offsets, then per-(stratum, bucket) running
    * sums. Callers drop the helper columns. */
  private def hashPrefixSum(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      weightCol: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val bucketWidth = math.max(1L, 4294967296L / buckets)
    // materialized-once seam: both consumers below need clustering on
    // (strata, __b), so one explicit repartition on exactly those keys
    // is the only big-frame exchange — AQE's ReusedExchange then
    // computes the upstream ONCE. For the seam to actually reuse, the
    // two consumers' exchange SUBTREES must be identical after column
    // pruning, which is why the bucket total is computed as a WINDOW
    // over the same (partition, order) spec as the running sum instead
    // of a groupBy aggregate: the aggregate's branch pruned __o/idCol
    // out of its exchange child (it needs neither), splitting the
    // exchange in two and re-running the entire input DAG per
    // consumer — for docs_training_set that input is the curate
    // pipeline (quality × langid × dedup), the capstone's dominant
    // cost at the 100× soak.
    val tagged = df
      .withColumn("__o", hashOrder(col(idCol)))
      .withColumn("__b", expr(s"__o div ${bucketWidth}L"))
      .repartition(col(strataCol), col("__b"))
    val wBucket = Window.partitionBy(col(strataCol), col("__b"))
      .orderBy(col("__o"), col(idCol))
    val bucketed = tagged
      .withColumn("__run", sum(col(weightCol)).over(
        wBucket.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__btot", sum(col(weightCol)).over(
        wBucket.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // cross-bucket offsets: one row per (stratum, bucket) — the frame
    // is buckets-sized after the no-exchange aggregate (input already
    // clustered on the keys), so its own stratum window is tiny
    val offsets = bucketed
      .groupBy(col(strataCol), col("__b"))
      .agg(max(col("__btot")).as("__bw"))
      .withColumn("__off", coalesce(
        sum(col("__bw")).over(Window.partitionBy(col(strataCol)).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(strataCol), col("__b"), col("__off"))
    bucketed
      .join(broadcast(offsets), Seq(strataCol, "__b"))
      .withColumn("__cum", col("__off") + col("__run"))
      .drop("__off", "__run", "__btot")
  }

  /** Per-domain document cap — the C4/RefinedWeb-style "at most k
    * documents per registrable domain, best quality first" curation
    * step that stops any single site from dominating a web-scale
    * training mix. Scores every document with
    * [[TextAnalysis.quality]]'s integer-exact composite, then keeps
    * the top-k rows per domain by (score DESC, id ASC — deterministic
    * in any engine). The fixture's `source` column plays the
    * registrable domain; a real crawl passes the eTLD+1 column.
    *
    * 100 TB shape: one quality projection (narrow, codegen) + one
    * [[Sessions.topKPerKey]] ranked window — which Spark 4 plans as
    * WindowGroupLimit, pushing a per-partition top-k below the
    * exchange so a million-page domain ships only k·partitions rows
    * to the final sort, never the domain's whole row set
    * (PlanShapeSpec asserts the shape). Output: id, domain,
    * score_milli, domain_rank (1-based within domain). */
  def domainCap(
      docs: DataFrame,
      k: Int,
      domainCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val scored = TextAnalysis
      .quality(docs, idCol, textCol, carryCols = Seq(domainCol))
      .select(col(idCol), col(domainCol), col("score_milli"))
    Sessions.topKPerKey(scored, k,
      partitionCols = Seq(domainCol),
      orderCols = Seq(col("score_milli").desc, col(idCol).asc),
      rankCol = "domain_rank")
      .select(col(idCol), col(domainCol), col("score_milli"),
        col("domain_rank"))
  }

  /** Incremental [[domainCap]] — merge a maintained per-domain top-k
    * snapshot with a newly SCORED tranche. Correct by associativity of
    * per-key top-k under a total order:
    * topK(A ∪ B) = topK(topK(A) ∪ B) — a row outside A's domain top-k
    * can never enter (A ∪ B)'s (k better rows already beat it), so the
    * snapshot loses nothing the union's answer needs. The (score DESC,
    * id ASC) order is total and deterministic, making the equality
    * exact, not just set-typical (CurationSpec pins tranche-by-tranche
    * == one-shot).
    *
    * Increment-bounded, the [[graft.streaming.Streams]] ingest
    * discipline: only domains TOUCHED by the tranche re-rank (prior
    * rows of untouched domains pass through verbatim, ranks intact —
    * a left_anti on the tranche's distinct domains); the re-rank input
    * is ≤ k·touched + tranche rows, never the corpus. Premise shared
    * with the ingest family: doc ids are unique across tranches (a
    * re-ingested doc would occupy two slots; updates are CDC's job).
    *
    * `prior`: (idCol, domainCol, score_milli, domain_rank) — a previous
    * output of this merge or of [[domainCap]]; pass an empty frame for
    * the first tranche. `scored`: (idCol, domainCol, score_milli) —
    * [[TextAnalysis.quality]]'s score with the domain carried. */
  def domainCapMerge(
      prior: DataFrame,
      scored: DataFrame,
      k: Int,
      domainCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cols = Seq(col(idCol), col(domainCol), col("score_milli"))
    val touched = scored.select(col(domainCol).as("__dom")).distinct()
    // NULL-SAFE touched test (<=>): the batch window groups null
    // domains as ONE partition, so the merge must too — a plain
    // equi-join never matches null, which would classify every prior
    // null-domain row as "untouched" forever while each tranche's null
    // rows got a fresh rank 1..k (snapshot grows by k per tranche and
    // diverges from the one-shot; CurationSpec pins the null-domain
    // tranche case).
    val untouched = prior
      .join(touched, col(domainCol) <=> col("__dom"), "left_anti")
      .select(col(idCol), col(domainCol), col("score_milli"),
        col("domain_rank"))
    val contested = prior
      .join(touched, col(domainCol) <=> col("__dom"), "left_semi")
      .select(cols: _*)
      .unionByName(scored.select(cols: _*))
    untouched.unionByName(
      Sessions.topKPerKey(contested, k,
        partitionCols = Seq(domainCol),
        orderCols = Seq(col("score_milli").desc, col(idCol).asc),
        rankCol = "domain_rank")
        .select(col(idCol), col(domainCol), col("score_milli"),
          col("domain_rank")))
  }

  def mixtureByBudget(
      df: DataFrame,
      budgets: Seq[(String, Long)],
      defaultBudget: Long,
      strataCol: String = "source",
      idCol: String = "doc_id",
      weightCol: String = "n_tokens",
      buckets: Int = 64): DataFrame = {
    require(budgets.forall(_._2 >= 0) && defaultBudget >= 0,
      "budgets are token counts and must be >= 0")
    val spark = df.sparkSession
    import spark.implicits._
    val budgetsDf = budgets.toDF(strataCol, "__budget")
    hashPrefixSum(df, strataCol, idCol, weightCol, buckets)
      .join(broadcast(budgetsDf), Seq(strataCol), "left")
      .filter(col("__cum") <= coalesce(col("__budget"), lit(defaultBudget)))
      .drop("__b", "__o", "__budget", "__cum")
  }

  /** Sequence packing — assign docs to fixed token-budget packs (the
    * context-window batching step downstream of chunking): in the same
    * deterministic per-stratum hash order as [[mixtureByBudget]], doc
    * d lands in pack `(cum(d) − 1) div budget` of its stratum, so
    * consecutive docs fill a pack up to the budget and spill into the
    * next. Same distributed prefix scan, zero extra shuffles beyond
    * it. A doc heavier than the whole budget overflows its pack —
    * splitting is [[TextAnalysis.chunk]]'s job upstream, not the
    * packer's. Output: the input plus `pack_id`.
    */
  def packByBudget(
      df: DataFrame,
      budgetTokens: Long,
      strataCol: String = "source",
      idCol: String = "doc_id",
      weightCol: String = "n_tokens",
      buckets: Int = 64): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens must be >= 1, got $budgetTokens")
    hashPrefixSum(df, strataCol, idCol, weightCol, buckets)
      .withColumn("pack_id", expr(s"(__cum - 1) div ${budgetTokens}L"))
      .drop("__b", "__o", "__cum")
  }

  /** Exact integer square root — `floor(sqrt(n))` with the float
    * estimate corrected to the true integer root, so the result is
    * engine-exact even where a correctly-rounded double sqrt lands on
    * the wrong side of an integer boundary (n ≥ 2^52 territory; the
    * correction also absorbs any cast-rounding difference between
    * engines). Non-negative inputs only. */
  def isqrt(n: Column): Column = {
    // floor(sqrt(Long.MaxValue)) — candidates are clamped here so the
    // squared correction probes can never overflow int64 (ANSI mode
    // would raise; a clamped candidate still corrects right: any root
    // is ≤ the cap, and cap² ≤ n promotes to the cap legitimately)
    val cap = lit(3037000499L)
    val s0 = least(floor(sqrt(n.cast("double"))).cast("long"), cap)
    val m = least(s0 + 1, cap)
    val s1 = when(m * m <= n, m).otherwise(s0)
    when(s1 * s1 > n, s1 - 1).otherwise(s1)
  }

  /** Temperature-based source mixing (T = 2) — the standard mixture
    * flattener for multi-source training corpora: target shares go
    * ∝ count^(1/T) = √count, so dominant sources are downsampled
    * toward (never past) the small ones. Per-stratum keep rate is
    * `(1000 · √c_min) div √c_i` permille — the SMALLEST stratum keeps
    * everything, a stratum 4× larger keeps half — applied with the
    * same deterministic [[hashBucket]] decision as
    * [[sampleStratified]], so membership is stable under re-runs and
    * engine swaps. √ is [[isqrt]]: all-integer, oracle-exact.
    *
    * Shape: one count hash-agg (strata-sized result), a 1-row min
    * joined back broadcast to form rates, and the rate table joined
    * back broadcast to the corpus for the filter — the corpus itself
    * never shuffles. Output: the input rows that survive, plus
    * `rate_x1000`.
    */
  def temperatureMix(
      df: DataFrame,
      strataCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__cnt"))
    val w = counts.select(col(strataCol), isqrt(col("__cnt")).as("__w"))
    val wm = w.agg(min(col("__w")).as("__wm"))
    val rates = w.crossJoin(broadcast(wm))
      .select(col(strataCol), expr("(1000 * __wm) div __w").as("rate_x1000"))
    df.join(broadcast(rates), strataCol)
      .where(hashBucket(col(idCol)) < col("rate_x1000"))
  }

  /** Two-sample categorical drift monitor — the χ² homogeneity test
    * between two corpus snapshots (yesterday's ingest vs today's, the
    * base corpus vs an increment), per category. A pipeline that
    * re-trains on a rolling corpus needs exactly this alarm: "the
    * source/language/quality-bucket mix moved".
    *
    * Per category i with counts a_i, b_i and snapshot totals nA, nB,
    * the contribution is the cross-multiplied
    * `(a_i·nB − b_i·nA)² / (nA·nB·(a_i+b_i))` — the standard χ²
    * statistic with the expected-count division cleared, emitted
    * ×10⁶ via integer `div` so engines agree exactly. Σ over the
    * output column is the test statistic (df = categories − 1).
    *
    * Shape: ONE hash-agg over (category) with conditional counts —
    * the snapshot predicate becomes two `sum(when)` partials, so both
    * snapshots are counted in a single pass over the union — plus a
    * 1-row totals aggregate joined back broadcast. Overflow headroom:
    * the numerator is computed in DECIMAL(38,0) with the ×10⁶ scale
    * split across the division (`⌊c²·10⁶/d⌋ = (c² div d)·10⁶ +
    * ((c² mod d)·10⁶ div d)`, exact), so the largest intermediate is
    * c² ≤ nA⁴ — safe to snapshots of ~10⁹ rows, far past the int64
    * envelope the naive `c²·10⁶` form silently wraps at (~10⁴-row
    * snapshots under worst-case drift).
    */
  def distributionDrift(
      rows: DataFrame,
      category: Column,
      inSnapshotB: Column): DataFrame = {
    val counts = rows
      .groupBy(category.as("category"))
      .agg(
        sum(when(!inSnapshotB, 1L).otherwise(0L)).as("n_a"),
        sum(when(inSnapshotB, 1L).otherwise(0L)).as("n_b"))
    val totals = counts.agg(
      sum(col("n_a")).as("__ta"), sum(col("n_b")).as("__tb"))
    counts.crossJoin(broadcast(totals))
      .withColumn("__c",
        expr("""cast(n_a as decimal(38,0)) * cast(__tb as decimal(38,0))
               | - cast(n_b as decimal(38,0)) * cast(__ta as decimal(38,0))"""
          .stripMargin.replace("\n", " ")))
      .withColumn("__d",
        expr("""cast(__ta as decimal(38,0)) * cast(__tb as decimal(38,0))
               | * cast(n_a + n_b as decimal(38,0))"""
          .stripMargin.replace("\n", " ")))
      .select(col("category"), col("n_a"), col("n_b"),
        expr("""(__c * __c div __d) * 1000000
               | + ((__c * __c % __d) * 1000000 div __d)"""
          .stripMargin.replace("\n", " "))
          .as("chi2_x1e6"))
  }

  /** Hashed-feature buckets for [[dsirWeights]] — small enough that the
    * two bucket-granular LM tables always broadcast, large enough that
    * hash collisions don't blur the importance signal at test scale. */
  val DsirBuckets = 256

  /** DSIR importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by how much more likely its hashed bag-of-words is
    * under a TARGET distribution (the corpus you wish you had more of —
    * here any row where `isTarget` holds) than under the RAW corpus,
    * log w(d) = Σ_tokens [log p_target(bucket) − log p_raw(bucket)].
    * The quality-classifier alternative ([[TextAnalysis.quality]])
    * scores documents in isolation; DSIR scores them RELATIVE to a
    * target corpus, which is the knob a pretraining mix actually turns
    * ("more docs that look like Wikipedia", not "more docs with few
    * exclamation marks").
    *
    * Exact cross-engine arithmetic: features are the 60-bit sha256
    * slice of the normalized token mod [[DsirBuckets]] (the
    * [[Relevance.hashedFeatures]] trick — both engines can compute
    * sha256, neither needs a shipped vocabulary), and each bucket's
    * −log2 p is the floor-log2 bit count via bin-string lengths (the
    * [[TextAnalysis.lmScore]] trick) with add-1 smoothing over buckets
    * so both models are total: bits_X(b) = ⌊log2(T_X + B)⌋ −
    * ⌊log2(c_X(b) + 1)⌋. Per-token log-weight = bits_raw − bits_target
    * (positive ⇒ more target-like). `selected` = the resampling
    * decision at the natural threshold w ≥ 1 (avg log-weight ≥ 0).
    *
    * Scale shape: one (doc, bucket) tf hash-agg with map-side partials
    * (shuffle keys are small ints — the token text never shuffles),
    * both models from ONE bucket-granular agg over it (the target
    * count is a `sum(when)` partial, so raw and target are counted in
    * a single pass), a 1-row totals agg, and the ≤ B-row bits table
    * joins back broadcast. The corpus itself never joins anything
    * wide. Output covers every input document (token-less docs carry
    * zeros and are not selected).
    */
  def dsirWeights(
      docs: DataFrame,
      isTarget: Column,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = DsirBuckets): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val norm = graft.functions.Scalars.wordNorm(col("word"))
    val bucket =
      conv(substring(sha2(norm, 256), 1, 15), 16, 10)
        .cast("long") % buckets.toLong
    val toks = graft.operators.Tokenize.splitTokens(inputCol = textCol)(
      docs.select(col(idCol), col(textCol), isTarget.as("__tgt")))
      .select(col(idCol), col("__tgt"), bucket.as("__b"))
    // r17 measured-and-left-alone: tf's two consumers (bucket model,
    // per-doc weights) do re-run the tokenize + sha bucket pass (two
    // 0.8 s single-task map stages at sf0.1), but a repartition seam
    // made it WORSE (three map stages) — column pruning pushes each
    // consumer's projection below a RepartitionByExpression, so the
    // seam exchange forks unless every consumer needs identical
    // columns, which these don't.
    val tf = toks.groupBy(col(idCol), col("__tgt"), col("__b"))
      .agg(count(lit(1)).as("__tf"))
    val model = tf.groupBy(col("__b")).agg(
      sum(col("__tf")).as("__cr"),
      sum(when(col("__tgt"), col("__tf")).otherwise(0L)).as("__ct"))
    val totals = model.agg(
      sum(col("__cr")).as("__tr"), sum(col("__ct")).as("__tt"))
    val bits = model.crossJoin(broadcast(totals))
      .select(col("__b"),
        ((length(bin(col("__tr") + buckets.toLong)) -
          length(bin(col("__cr") + 1L))) -
         (length(bin(col("__tt") + buckets.toLong)) -
          length(bin(col("__ct") + 1L)))).cast("long").as("__logw"))
    val perDoc = tf.join(broadcast(bits), Seq("__b"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__tf")).as("__n"),
        sum(col("__tf") * col("__logw")).as("__lw"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_tokens"),
        coalesce(col("__lw"), lit(0L)).as("logw_bits_total"),
        when(coalesce(col("__n"), lit(0L)) > 0,
          expr("coalesce(__lw, 0L) * 100 div __n"))
          .otherwise(lit(0L)).as("avg_logw_x100"),
        when(coalesce(col("__n"), lit(0L)) > 0 && coalesce(col("__lw"), lit(0L)) >= 0,
          lit(1L)).otherwise(lit(0L)).as("selected"))
  }
}
