package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-relevance scoring — BM25 and a linear-idf TF-IDF — for the
  * "most distinctive terms per document" ask of a training-data
  * pipeline (keyword extraction, topic tagging, per-doc summaries).
  * Extends the reference's per-group fold surface
  * (tiny_etl/transformers/aggregators.py:17-68) with corpus-GLOBAL
  * statistics the per-process reference cannot compute: document
  * frequency and average document length need the whole corpus, which
  * is exactly what a shuffle is for.
  *
  * All scores are integer fixed-point so the DuckDB oracle matches
  * bit-for-bit (no transcendental idf: `ln` is not replicable across
  * engines at the last ulp; the linear variants rank near-identically
  * for retrieval and are EXACT cross-engine):
  *
  *   bm25(t, d) = tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
  *
  * with k1 = 1.2, b = 0.75, avgdl = SDL/N. Multiplying numerator and
  * denominator by 10⁴·SDL clears every fraction:
  *
  *   bm25_x1000 = (22000·tf·SDL·1000) div
  *                (10000·tf·SDL + 3000·SDL + 9000·dl·N)
  *
  *   tfidf_x1000 = (tf·1000·N) div df          (linear idf N/df)
  *
  * Magnitudes: the dominant product is 2.2·10⁷·tf·SDL — int64-safe to
  * ~40 G total tokens with tf ≤ 10³. Beyond that (a true 100 TB
  * corpus) switch the three products to decimal(38,0); the plan shape
  * is unchanged.
  *
  * Scale shape: one hash-agg per statistic — tf on (doc, word), df on
  * word, dl/N/SDL as an aggregate-to-scalar branch broadcast back via
  * crossJoin — then a single exchange on doc_id serves BOTH windows
  * (the dl sum and the top-k rank), and the rank filter compiles to
  * WindowGroupLimit so each partition keeps only k rows before the
  * final sort. Nothing corpus-sized is ever collected or broadcast.
  */
object Relevance {

  /** BM25 k1 × 100 (k1 = 1.2). */
  val K1x100 = 120

  /** BM25 b × 100 (b = 0.75). */
  val Bx100 = 75

  /** The four fixed-point coefficients of the saturated-tf kernel
    *   ((k1+1)·tf) / (k1·((1−b) + b·dl·N/SDL) + tf)
    * after clearing the ×100 scales — derived HERE and nowhere else;
    * the scoring expressions and the SQL oracles all interpolate these
    * so k1/b can never drift between sites. */
  val CoefNum: Long = (K1x100 + 100L) * 100L      // (k1+1)·10⁴  = 22000
  val CoefTf: Long = 100L * 100L                  // tf scale    = 10000
  val CoefConst: Long = K1x100 * (100L - Bx100)   // k1(1−b)·10⁴ =  3000
  val CoefDl: Long = K1x100 * Bx100.toLong        // k1·b·10⁴    =  9000

  /** The kernel as SQL text over columns (tf, __sdl, __dl, __n). */
  val bm25KernelSql: String =
    s"(${CoefNum}L * tf * __sdl * 1000L) div " +
      s"(${CoefTf}L * tf * __sdl + ${CoefConst}L * __sdl + ${CoefDl}L * __dl * __n)"

  /** Per-term retrieval scores over (tf, df, __dl, __n, __sdl): the
    * saturated-tf BM25 kernel × linear idf, and plain linear TF-IDF —
    * the two scorers [[search]] accepts and `text_hybrid_search`
    * fuses. */
  val Bm25TermScoreSql: String = s"(($bm25KernelSql) * __n) div df"
  val TfIdfTermScoreSql: String = "(tf * 1000L * __n) div df"

  /** Per-(doc, word) term frequencies from a token stream. */
  def termFrequencies(
      toks: DataFrame,
      idCol: String = "doc_id",
      wordCol: String = "word"): DataFrame =
    toks.groupBy(col(idCol), col(wordCol)).agg(count(lit(1)).as("tf"))

  /** Top-`k` terms per doc by fixed-point BM25 over a (doc_id, word)
    * token stream (e.g. [[Tokenize.splitTokens]] output). Emits
    * doc_id, word, tf, df, bm25_x1000, tfidf_x1000, rnk. */
  def bm25TopTerms(
      toks: DataFrame,
      k: Int = 3,
      idCol: String = "doc_id",
      wordCol: String = "word"): DataFrame = {
    val tf = termFrequencies(toks, idCol, wordCol)
    // corpus scalars: N docs, total token mass SDL (tiny branch off tf)
    val stats = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("__dl"))
      .agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__sdl"))
    val dfreq = tf.groupBy(col(wordCol)).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col(idCol))
    val scored = tf
      .join(dfreq, wordCol)
      .crossJoin(broadcast(stats))
      .withColumn("__dl", sum(col("tf")).over(byDoc))
      // `div` (IntegralDivide) keeps the arithmetic in exact int64 —
      // `/` would detour through double and lose low bits cross-engine
      .withColumn("bm25_x1000", expr(bm25KernelSql))
      .withColumn("tfidf_x1000", expr("(tf * 1000L * __n) div df"))
      .withColumn("rnk", row_number().over(
        byDoc.orderBy(col("bm25_x1000").desc, col(wordCol))))
    scored
      .where(col("rnk") <= k)
      .select(col(idCol), col(wordCol), col("tf"), col("df"),
        col("bm25_x1000"), col("tfidf_x1000"), col("rnk"))
  }

  /** Feature hashing (the "hashing trick"): project the unbounded
    * vocabulary onto a FIXED number of buckets so downstream trainers
    * get constant-width sparse vectors with no vocabulary dictionary
    * to build, ship, or keep consistent — the standard scale move when
    * the corpus vocabulary would not fit a broadcast. Collisions are
    * the accepted trade (two words sharing a bucket merge their mass).
    *
    * The bucket hash is the cross-engine-replicable 60-bit sha256
    * slice ([[NearDup.Sha256Family]]'s trick): sha256 of a UTF-8
    * string is identical in every engine, so the DuckDB oracle
    * replicates the FULL bucketing — unlike xxhash64, which only one
    * engine can compute. Scores are the same integer linear-idf
    * fixed point as [[bm25TopTerms]]' tfidf_x1000.
    *
    * Scale shape: one (doc, bucket) hash-agg with map-side partials
    * (the narrow hash projection replaces the word column BEFORE the
    * shuffle, so shuffle keys are small ints, not strings), a
    * bucket-granularity df agg (≤ `buckets` rows), and a broadcast
    * 1-row corpus scalar — the corpus never joins anything wide.
    * Output rows ≤ |docs| · buckets.
    */
  def hashedFeatures(
      toks: DataFrame,
      buckets: Int = 64,
      idCol: String = "doc_id",
      wordCol: String = "word"): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val bucket =
      conv(substring(sha2(col(wordCol), 256), 1, 15), 16, 10)
        .cast("long") % buckets.toLong
    val tf = toks.select(col(idCol), bucket.as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("bucket")).agg(count(lit(1)).as("df"))
    val nDocs = toks.select(col(idCol)).distinct().agg(count(lit(1)).as("__n"))
    tf.join(dfreq, Seq("bucket"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf_x1000", expr("(tf * 1000L * __n) div df"))
      .select(col(idCol), col("bucket"), col("tf"), col("df"), col("tfidf_x1000"))
  }

  /** BM25 retrieval: top-`k` documents for a bag-of-terms query, the
    * read side of the relevance stack. Per-term score = the saturated-
    * tf BM25 kernel × linear idf (`N div df` — transcendental-free
    * like everything here, same ranking family as [[bm25TopTerms]]'
    * `tfidf_x1000`), summed over the query's terms found in the doc.
    *
    * Scale shape: the query-term filter hits the (doc, word) tf table
    * FIRST — candidates = the query terms' postings, never the corpus
    * — then per-doc length and the two corpus scalars join in
    * (broadcast), one doc-granularity hash-agg sums the term scores,
    * and top-k is TakeOrderedAndProject (partial top-k per partition,
    * no global sort). Ties break by doc_id.
    */
  def search(
      toks: DataFrame,
      queryTerms: Seq[String],
      k: Int = 10,
      idCol: String = "doc_id",
      wordCol: String = "word",
      termScoreSql: String = Bm25TermScoreSql): DataFrame = {
    require(queryTerms.nonEmpty, "search needs at least one query term")
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = termFrequencies(toks, idCol, wordCol)
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("__dl"))
    val stats = dl.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__sdl"))
    val dfreq = tf.groupBy(col(wordCol)).agg(count(lit(1)).as("df"))
    tf.where(col(wordCol).isin(queryTerms: _*))
      .join(dfreq, wordCol)
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("__term_score", expr(termScoreSql))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_terms"), sum(col("__term_score")).as("score_x1000"))
      .orderBy(col("score_x1000").desc, col(idCol))
      .limit(k)
      // the 1-based list position, for downstream fusion; the window
      // runs over the ≤ k rows that survived the limit. The partition
      // key is a constant-VALUED but non-foldable expression (pmod by
      // 1 is always 0): all rows land in one partition — exactly the
      // empty-spec semantics — but the spec is non-empty, so
      // WindowExec's "No Partition Defined" warning (tuned for
      // unbounded frames, spurious at ≤ k rows) never fires, and
      // EliminateWindowPartitions can't strip it (not foldable).
      // xxhash64 first: idCol is a public parameter, and pmod on a
      // raw STRING id would fail under ANSI's strict cast.
      .withColumn("rnk", row_number().over(
        Window.partitionBy(pmod(xxhash64(col(idCol)), lit(1)))
          .orderBy(col("score_x1000").desc, col(idCol))).cast("long"))
  }

  /** Hybrid retrieval in ONE corpus pass: the postings pipeline (tf,
    * dl, corpus scalars, df) runs once, a single aggregation emits
    * BOTH per-doc scores (BM25×idf and TF-IDF), and the two rankings
    * branch off the checkpointed hit table — which holds only the
    * docs containing a query term, so the branches are broadcast-
    * sized. Relying on plan-subtree sharing instead would tokenize
    * and aggregate the corpus once per scorer (ReuseExchange is
    * size/AQE-dependent, never guaranteed). Fused by [[rrfFuse]].
    */
  def hybridSearch(
      toks: DataFrame,
      queryTerms: Seq[String],
      k: Int = 10,
      perListK: Int = 20,
      c: Int = 60,
      idCol: String = "doc_id",
      wordCol: String = "word"): DataFrame = {
    require(queryTerms.nonEmpty, "hybridSearch needs at least one query term")
    val tf = termFrequencies(toks, idCol, wordCol)
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("__dl"))
    val stats = dl.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__sdl"))
    val dfreq = tf.groupBy(col(wordCol)).agg(count(lit(1)).as("df"))
    val scored = tf.where(col(wordCol).isin(queryTerms: _*))
      .join(dfreq, wordCol)
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("__bm", expr(Bm25TermScoreSql))
      .withColumn("__ti", expr(TfIdfTermScoreSql))
      .groupBy(col(idCol))
      .agg(sum(col("__bm")).as("__sbm"), sum(col("__ti")).as("__sti"))
      .localCheckpoint()
    def ranked(scoreCol: String) = scored
      .orderBy(col(scoreCol).desc, col(idCol))
      .limit(perListK)
      // constant non-foldable type-agnostic partition key — see
      // [[search]]'s rnk note
      .withColumn("rnk", row_number().over(
        Window.partitionBy(pmod(xxhash64(col(idCol)), lit(1)))
          .orderBy(col(scoreCol).desc, col(idCol))).cast("long"))
      .select(col(idCol), col("rnk"))
    rrfFuse(Seq(ranked("__sbm"), ranked("__sti")), k, c, idCol)
  }

  /** Reciprocal-rank fusion — the standard way to combine rankings
    * whose scores live on incomparable scales (BM25 vs TF-IDF vs
    * vector cosine): fused(d) = Σᵢ 10⁶ div (c + rankᵢ(d)), with a doc
    * absent from a list contributing 0. Exact integer arithmetic
    * (engine-neutral, unlike float RRF), one full-outer join per
    * list (each list is ≤ k rows — driver-free, broadcast-sized),
    * deterministic (fused DESC, id) top-k.
    */
  def rrfFuse(
      rankings: Seq[DataFrame],
      k: Int = 10,
      c: Int = 60,
      idCol: String = "doc_id",
      rankCol: String = "rnk"): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(c >= 0, s"c must be >= 0, got $c")
    val scored = rankings.zipWithIndex.map { case (df, i) =>
      df.select(col(idCol), expr(s"1000000L div ($c + $rankCol)").as(s"__rrf$i"))
    }
    val joined = scored.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val total = scored.indices.map(i => coalesce(col(s"__rrf$i"), lit(0L)))
      .reduce(_ + _)
    joined
      .withColumn("rrf_x1e6", total)
      .orderBy(col("rrf_x1e6").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("rrf_x1e6"))
  }

  /** Corpus collocations: the `k` strongest adjacent-bigram
    * associations by LIFT — `P(xy) / (P(x)·P(y))` with unigram
    * probabilities over the token stream and bigram probability over
    * the adjacent-pair stream — in integer fixed point:
    *
    *   lift_x1000 = (c_xy · N_uni² · 1000) div (N_big · c_x · c_y)
    *
    * Lift is the exponential of PMI, so it ranks pairs identically to
    * PMI while staying transcendental-free (engine-exact; `ln` is not
    * replicable to the last ulp across engines). Headroom: c_xy·N_uni²
    * ·1000 is int64-safe to ~2·10⁶ total tokens with hot bigrams at
    * 10³ — past that, lift the products to decimal(38,0) (same plan).
    *
    * Shape: bigrams come from a NARROW per-row pass over each doc's
    * token array (no self-join, no window over the corpus); then one
    * hash-agg per statistic and two equijoins of the min-count-filtered
    * bigram table against the unigram counts (AQE broadcasts whichever
    * side is small; both are post-aggregation, never the corpus). The
    * final top-k compiles to TakeOrderedAndProject — a per-partition
    * heap of k rows, not a global sort.
    *
    * @param minCount drop bigrams rarer than this — both the noise
    *                 floor (lift of a 1-count pair is meaningless) and
    *                 the join-size bound
    */
  def collocations(
      docs: DataFrame,
      k: Int = 50,
      minCount: Long = 5L,
      textCol: String = "text"): DataFrame = {
    val toks = filter(split(col(textCol), "\\s+"),
      t => !(t === "" || t.rlike("^\\s+$")))
    val tokRows = docs.select(toks.as("__ts"))
    val uni = tokRows
      .select(explode(col("__ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nUni = tokRows
      .agg(sum(size(col("__ts"))).cast("long").as("__n_uni"))
    val big = tokRows
      .where(size(col("__ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(__ts) - 2), i -> struct(__ts[i] AS w1, __ts[i+1] AS w2))"
      )).as("__g"))
      .select(col("__g.w1").as("w1"), col("__g.w2").as("w2"))
    val nBig = big.agg(count(lit(1)).as("__n_big"))
    big
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("__cx")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("__cy")), "w2")
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nBig))
      .withColumn("lift_x1000", expr(
        "(c_xy * __n_uni * __n_uni * 1000L) div (__n_big * __cx * __cy)"))
      .select(col("w1"), col("w2"), col("c_xy"), col("lift_x1000"))
      .orderBy(col("lift_x1000").desc, col("w1"), col("w2"))
      .limit(k)
  }
}
