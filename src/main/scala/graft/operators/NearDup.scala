package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate document detection — the dedup ask beyond the
  * reference's exact UniqueFilterTransformer parity
  * (tiny_etl/transformers/aggregators.py:71-132): word n-gram shingles,
  * exact n-gram Jaccard, MinHash LSH, and SimHash, each ending in the
  * same exact-Jaccard confirmation so all three paths emit the same
  * confirmed pairs (doc_a < doc_b, jaccard_x1000 ≥ threshold).
  *
  * Scale shapes:
  *   - [[ngramJaccardPairs]] (exact): candidates = docs sharing ≥1
  *     shingle, via a shuffle equijoin on the shingle string. Complete
  *     (J ≥ t ⇒ ≥1 shared shingle) but hot shingles make it quadratic —
  *     the correctness baseline, not the 100 TB path.
  *   - [[minHashPairs]]: k independent min-hashes per doc; candidates =
  *     pairs agreeing on ANY (i, h_i) — an equijoin on (hash index,
  *     hash value), i.e. k·|docs| rows, never all-pairs. One-row bands
  *     (r=1, b=k) make the false-negative rate (1−J)^k — ≤ 1e-16 at
  *     J ≥ 0.9, k = 16 — so confirmed output matches exact ground truth.
  *   - [[simHashPairs]]: sign fingerprint of the shingle-hash set;
  *     candidates = pairs sharing a band AND within the Hamming
  *     cutoff, then exact-confirm. Cheapest signature (widthBits/8
  *     bytes per doc); width and band count are the scale dials —
  *     see the banding scaladoc at [[SimHashBands]].
  *
  * Every ratio is integer fixed-point (jaccard_x1000 = 1000·|∩| div
  * |∪|; the threshold test is cross-multiplied) — no float division, so
  * the DuckDB oracle matches bit-for-bit.
  */
/** A per-shingle hash family for SimHash signatures: `word(w, s)` is
  * hash word w of shingle column s, carrying `wordBits` usable
  * (uniform) low bits; `maxWidthBits` caps the signature width the
  * family can source (finite-output hashes run out of bits). The
  * family decides cross-engine replicability — see
  * [[NearDup.XxHashFamily]] / [[NearDup.Sha256Family]]. */
final case class SimHashFamily(
    wordBits: Int,
    word: (Int, Column) => Column,
    maxWidthBits: Int = Int.MaxValue) {
  require(wordBits >= 1 && wordBits <= 64, s"wordBits must be in [1,64], got $wordBits")
}

object NearDup {

  /** Shingle width (word n-grams). */
  val ShingleN = 3

  /** Confirmation threshold: keep pairs with Jaccard ≥ 0.8. */
  val ThresholdMilli = 800

  /** MinHash signature length (= band count at r=1). */
  val NumMinHashes = 16

  /** Default SimHash banding: 64-bit signature, 16 bands × 4 bits with
    * a Hamming ≤ 15 cutoff. This default pairing is EXACT, not
    * probabilistic: by pigeonhole, h bit flips can touch at most h of
    * the 16 bands, so any pair within Hamming 15 is guaranteed to agree
    * on ≥ 1 band — the candidate stage finds exactly the Hamming-≤15
    * ball, and exact confirmation removes any false positive inside it.
    *
    * The exactness guarantee and sub-quadratic candidates are in
    * TENSION: `bands > hammingMax` forces `widthBits / bands` band bits,
    * and 4-bit bands mean 16 possible values per band — for unrelated
    * docs the expected candidate fraction is 1−(1−2⁻⁴)¹⁶ ≈ 64 % of ALL
    * pairs, i.e. Θ(n²) join output regardless of corpus size. That is
    * acceptable only on corpora small enough to all-pairs anyway.
    *
    * The 100 TB path therefore gives up pigeonhole exactness for the
    * same probabilistic-recall contract MinHash banding uses: size the
    * band ENTROPY to the corpus via [[simHashBandBitsFor]]
    * (bandBits ≈ log₂ n + margin ⇒ expected band collisions between
    * unrelated docs ≈ bands · n²/2 · 2^−bandBits = O(n · bands /
    * 2^margin) — linear in n), with recall for a pair at per-bit
    * disagreement rate p of 1−(1−(1−p)^bandBits)^bands. Both dials
    * (signature width, band count) are parameters of
    * [[simHashCandidates]] / [[simHashPairs]]; the defaults keep the
    * small-corpus exact mode. */
  val SimHashBands = 16
  val HammingMax = 15
  val SimHashWidthBits = 64

  /** Band bits sized so unrelated-pair band collisions stay O(n):
    * ceil(log₂ corpusSize) + marginBits (capped at 60 so a band always
    * fits a long with room for the mask). */
  def simHashBandBitsFor(corpusSize: Long, marginBits: Int = 3): Int = {
    val ceilLog2 =
      if (corpusSize <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(corpusSize - 1)
    math.min(60, math.max(1, ceilLog2 + marginBits))
  }

  /** (idCol, shingle) — DISTINCT word-n-gram shingles per doc, built
    * narrowly in one compiled pass over the token array
    * ([[graft.expressions.DistinctShingles]] — same output as the
    * array_distinct∘transform HOF chain it replaced, without the
    * interpreted lambdas, the per-row index/gram allocations, or the
    * lambda-recompute trap that previously forced a separate token
    * projection). Docs with fewer than n tokens yield no rows.
    */
  def shingles(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = ShingleN,
      carryCols: Seq[String] = Nil): DataFrame = {
    val tokArr = filter(split(col(textCol), "\\s+"),
      t => !(t === "" || t.rlike("^\\s+$")))
    val grams = org.apache.spark.sql.graft.ColumnAdapter.column(
      graft.expressions.DistinctShingles(
        org.apache.spark.sql.graft.ColumnAdapter.expression(tokArr), n))
    docs.select(col(idCol) +: carryCols.map(col) :+ explode(grams).as("s"): _*)
  }

  /** A materialized-once seam exchange with its partition count PINNED
    * to the session's shuffle.partitions — for seams whose consumers
    * are CPU-DENSE per byte (sha256 signature aggs, banded-Levenshtein
    * confirms, pHash decodes): their exchange BYTES are small (narrow
    * rows), so AQE's byte-based coalescing re-serializes exactly the
    * work the exchange exists to spread (measured at sf0.1: the
    * scaled-SimHash signature agg ran its ~4 s of sha256 on 4 of 32
    * cores behind an un-pinned seam). An explicit partition count is
    * AQE-exempt by contract; the value follows
    * spark.sql.shuffle.partitions, which every entry point derives from
    * the deployment's conf (SPARK_GRAFT_CPUS locally), so the pin stays
    * scale-adaptive rather than a local[32] constant.
    *
    * Pin ONLY dense seams: for cheap-hash consumers (xxhash MinHash
    * signatures, plain shingle joins) the measured trade INVERTS — a
    * 32-task stage carries ~8-10× the aggregate task time of the
    * AQE-coalesced few-task stage (per-task fixed costs: agg hash-map
    * allocation, codegen warm-up) and the composite resolve-family
    * queries regressed 0.7-1.8 s each under a blanket pin, so
    * minHashPairs / ngramJaccardPairs / winnowPairs keep their bare
    * AQE-coalesced seams deliberately. */
  private[graft] def seamRepartition(df: DataFrame, keyCols: String*): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions,
      keyCols.map(col): _*)

  /** doc → distinct-shingle count. Counts `s` (never null — shingles
    * are generated strings), NOT `lit(1)`: an unreferenced `s` lets
    * column pruning push a doc-id-only projection BELOW the caller's
    * shingle-seam repartition, which forks the seam into a second
    * exchange + a second full tokenize+shingle generate (r18, measured
    * in the neardup_simhash_recall executed plan: the truth side's
    * size agg re-ran the generate behind its own pruned exchange while
    * every other consumer reused the seam). Referencing `s` keeps the
    * subtree byte-identical to the other consumers', so the seam
    * exchange unifies; count(s) == count(1) on non-null input. */
  private def sizesOf(sh: DataFrame, idCol: String): DataFrame =
    sh.groupBy(col(idCol)).agg(count(col("s")).as("__n"))

  /** Exact-Jaccard confirmation of candidate pairs: joins the (small)
    * candidate set back to the shingle table on (doc, shingle) to count
    * intersections — never an all-pairs product — and keeps pairs with
    * 1000·|∩| ≥ threshold·|∪|. Output: (doc_a, doc_b, jaccard_x1000).
    */
  def confirm(
      cand: DataFrame, // columns: doc_a, doc_b
      sh: DataFrame,
      idCol: String = "doc_id",
      thresholdMilli: Int = ThresholdMilli): DataFrame =
    confirmBetween(cand, sh, sh, idCol, thresholdMilli)

  /** Two-sided [[confirm]]: doc_a's shingles come from `shA`, doc_b's
    * from `shB` — the cross-corpus (incremental-dedup) form; the
    * one-corpus confirm is the diagonal shA = shB. */
  def confirmBetween(
      cand: DataFrame, // columns: doc_a, doc_b
      shA: DataFrame,
      shB: DataFrame,
      idCol: String = "doc_id",
      thresholdMilli: Int = ThresholdMilli): DataFrame = {
    val a = shA.select(col(idCol).as("doc_a"), col("s"))
    val b = shB.select(col(idCol).as("doc_b"), col("s"))
    val inter = cand.distinct()
      .join(a, Seq("doc_a"))
      .join(b, Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("__i"))
    emit(inter, sizesOf(shA, idCol), sizesOf(shB, idCol), idCol, thresholdMilli)
  }

  /** Shared tail: attach per-side sizes, cross-multiplied threshold
    * test, fixed-point Jaccard. `inter` columns: doc_a, doc_b, __i. */
  private def emit(
      inter: DataFrame,
      sizesA: DataFrame,
      sizesB: DataFrame,
      idCol: String,
      thresholdMilli: Int): DataFrame = {
    val union = col("__na") + col("__nb") - col("__i")
    inter
      .join(sizesA.select(col(idCol).as("doc_a"), col("__n").as("__na")), Seq("doc_a"))
      .join(sizesB.select(col(idCol).as("doc_b"), col("__n").as("__nb")), Seq("doc_b"))
      .filter(col("__i") * 1000 >= union * thresholdMilli)
      .select(
        col("doc_a"), col("doc_b"),
        floor((col("__i") * 1000) / union).cast("long").as("jaccard_x1000"))
  }

  /** Shingle table restricted to shingles whose document frequency is
    * ≤ `maxDocFreq` — the standard web-dedup hot-shingle cap. The
    * self-join on a shingle with df = d emits d(d−1)/2 rows, so a
    * single stop-shingle ("of the and") shared by n docs makes the
    * exact path Θ(n²); capping df bounds the join at
    * |shingles| · maxDocFreq²/2 rows. Exposed for candidate-count
    * tests. */
  def shinglesWithDfCap(
      sh: DataFrame,
      idCol: String = "doc_id",
      maxDocFreq: Long): DataFrame = {
    val dfTab = sh.groupBy(col("s")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq)
      .select(col("s"))
    sh.join(dfTab, Seq("s"))
  }

  /** Exact path: candidates = docs sharing ≥ 1 shingle (equijoin on the
    * shingle), intersection counted directly by the join.
    *
    * `maxDocFreq`: optional hot-shingle cap. With it set, candidate
    * pairs come only from shingles appearing in ≤ maxDocFreq docs, and
    * the Jaccard is then confirmed EXACTLY on the full (uncapped)
    * shingle sets — so any emitted pair carries its true Jaccard.
    * Completeness trade: a pair whose shared shingles are ALL hot is
    * missed. For genuine near-dups at J ≥ 0.8 that requires every one
    * of their (many) shared shingles to be corpus-wide stop-shingles —
    * vanishingly rare for natural text, which is why df-capping is the
    * standard web-dedup trick. Without the cap the plan is unchanged
    * from the complete exact baseline (the CORRECTNESS oracle path). */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      thresholdMilli: Int = ThresholdMilli,
      maxDocFreq: Option[Long] = None): DataFrame = {
    // Materialized-once seam (minHashPairs' structure): the shingle
    // generate is narrow and feeds THREE consumers in the exact branch
    // (the intersection join's a-side, b-side, and the size agg; four
    // in the capped branch with the df table) — without an exchange of
    // its own each consumer re-runs the tokenize + n-gram build. One
    // repartition on the doc key turns every subtree into the same
    // canonical shuffle (computed once, AQE stage reuse); the size agg
    // then runs one-phase on already-id-partitioned shingles. Bonus:
    // the seam is byte-identical to the one in minHashPairs /
    // winnowPairs, so a recall report whose found and truth sides both
    // shingle the same corpus reuses ONE shingle exchange across the
    // two operators.
    // PINNED like the SimHash/banded seams — not for this operator's
    // own consumers (string-shingle joins are cheap per byte) but for
    // the recall reports: their found side (scaledSimHashPairs /
    // sha-banded MinHash) seams the SAME shingle generate pinned, and
    // only byte-identical exchanges unify — a bare seam here made
    // every pairRecall run the shingle generate twice (one per side).
    val sh = seamRepartition(shingles(docs, idCol, textCol), idCol)
    maxDocFreq match {
      case None =>
        val a = sh.select(col(idCol).as("doc_a"), col("s"))
        val b = sh.select(col(idCol).as("doc_b"), col("s"))
        val inter = a.join(b, Seq("s"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("__i"))
        val sizes = sizesOf(sh, idCol)
        emit(inter, sizes, sizes, idCol, thresholdMilli)
      case Some(cap) =>
        confirm(ngramCandidates(sh, idCol, cap), sh, idCol, thresholdMilli)
    }
  }

  /** Candidate pairs of the df-capped exact path (doc_a < doc_b,
    * distinct) — exposed so the cap's candidate bound is testable. */
  def ngramCandidates(sh: DataFrame, idCol: String, maxDocFreq: Long): DataFrame = {
    val capped = shinglesWithDfCap(sh, idCol, maxDocFreq)
    candidatePairsOf(capped, idCol)
  }

  /** Distinct (doc_a < doc_b) pairs sharing ≥ 1 row of the given
    * shingle table — the shared candidate equijoin of the exact paths. */
  private def candidatePairsOf(sh: DataFrame, idCol: String): DataFrame =
    sh.select(col(idCol).as("doc_a"), col("s"))
      .join(sh.select(col(idCol).as("doc_b"), col("s")), Seq("s"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()

  /** Default edit-distance confirmation cutoff (absolute characters). */
  val MaxEditDist = 16

  /** Character-level near-dup: candidate pairs from the shingle
    * equijoin (df-cappable like [[ngramJaccardPairs]]), CONFIRMED by
    * Levenshtein distance on the raw text instead of set Jaccard — the
    * right confirm when "near-duplicate" means "small character edits"
    * (boilerplate tweaks, typo re-crawls) rather than "token-set
    * overlap", since Jaccard over-penalizes many tiny edits spread
    * across a doc while edit distance counts them directly.
    *
    * Scale shape: the expensive O(|a|·|b|) dynamic program runs ONLY on
    * candidate pairs (never all pairs), and `maxDist` is passed INTO
    * Spark's `levenshtein(l, r, threshold)` so the kernel runs the
    * banded DP — O(max(|a|,|b|) · maxDist) per pair, returning −1 early
    * once the distance provably exceeds the cutoff. Distances are exact
    * integers on both engines (unit-cost insert/delete/substitute), so
    * the emitted `edit_dist` hash-matches DuckDB's `levenshtein`.
    */
  def editDistancePairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDist: Int = MaxEditDist,
      maxDocFreq: Option[Long] = None): DataFrame = {
    // same materialized-once shingle seam as ngramJaccardPairs: the
    // (hashed) shingle table feeds both candidate join sides (+ the df
    // table when capped), each of which would otherwise re-run the
    // tokenize + n-gram build; the post-exchange sha slice is narrow
    // and cheap next to that.
    val sh = seamRepartition(shingles(docs, idCol, textCol), idCol)
    val candSh = maxDocFreq.map(shinglesWithDfCap(sh, idCol, _)).getOrElse(sh)
    // Candidates equijoin on the 60-bit sha slice of the shingle, not
    // the shingle string: the self-join shuffles 8-byte longs instead
    // of text, and because the DuckDB oracle slices the IDENTICAL
    // digest, the candidate set matches bit-for-bit even in the
    // astronomically-unlikely collision case (a collision only ADDS a
    // candidate on both engines; levenshtein decides membership).
    val hashed = candSh.select(col(idCol),
      conv(substring(sha2(col("s"), 256), 1, 15), 16, 10).cast("long").as("s"))
    candidatePairsOf(hashed, idCol)
      .join(docs.select(col(idCol).as("doc_a"), col(textCol).as("__ta")), Seq("doc_a"))
      .join(docs.select(col(idCol).as("doc_b"), col(textCol).as("__tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).as("__d"))
      .filter(col("__d") >= 0)
      .select(col("doc_a"), col("doc_b"), col("__d").cast("long").as("edit_dist"))
  }

  /** Default min-hash word family: hash i of a shingle is
    * xxhash64(i, shingle) — the original signature family, fastest
    * (one 64-bit non-crypto hash per (word, shingle)). */
  val XxMinHashFamily: (Int, Column) => Column =
    (i, c) => xxhash64(lit(i), c)

  /** Cross-engine-REPLICABLE min-hash word family (same rationale as
    * [[Sha256Family]]): hash i of shingle s = first 15 hex chars
    * (60 bits) of sha256("i:" + s). sha256 of a UTF-8 string is
    * identical in every engine, so a DuckDB oracle can replicate the
    * FULL banded candidate generation — which is what lets a
    * probabilistic (r > 1) configuration be hash-tested end-to-end
    * rather than only against exact ground truth. */
  val Sha256MinHashFamily: (Int, Column) => Column =
    (i, c) => conv(substring(sha2(concat(lit(s"$i:"), c), 256), 1, 15), 16, 10).cast("long")

  /** [[Sha256MinHashFamily]] at a quarter of the hash cost: one sha256
    * digest carries 64 hex chars = FOUR independent 60-bit words, so
    * word i slices chars [1+15·(i mod 4), +15) of sha256("(i div 4):"
    * + s) — k words cost ⌈k/4⌉ digests per shingle instead of k (and
    * aggregate codegen's subexpression elimination shares each digest
    * across its four min-accumulators). Same replicability contract:
    * the oracle slices the identical digest, and distinct (salt,
    * slice) windows of a cryptographic hash are independent uniform
    * words, so banding statistics are unchanged. */
  val SlicedSha256MinHashFamily: (Int, Column) => Column =
    (i, c) => conv(substring(sha2(concat(lit(s"${i / 4}:"), c), 256),
      1 + 15 * (i % 4), 15), 16, 10).cast("long")

  /** MinHash signatures: (doc, hash index i, min over shingles of
    * word(i, shingle)) — one hash-agg, k longs per doc. */
  def minHashSignatures(
      sh: DataFrame,
      idCol: String = "doc_id",
      k: Int = NumMinHashes,
      word: (Int, Column) => Column = XxMinHashFamily): DataFrame =
    sh.groupBy(col(idCol))
      .agg(
        min(word(0, col("s"))).as("h0"),
        (1 until k).map(i => min(word(i, col("s"))).as(s"h$i")): _*)

  /** MinHash LSH (r=1, b=k): candidates agree on any (i, h_i). */
  def minHashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = NumMinHashes,
      thresholdMilli: Int = ThresholdMilli): DataFrame = {
    // Materialized-once seam (same structure as winnowPairs): the
    // shingle generate is narrow and feeds FOUR consumers — the
    // signature agg and confirm's a-side, b-side, and size aggs — so
    // without an exchange of its own each consumer re-runs the
    // tokenize + n-gram build. One repartition on the doc key turns
    // all four subtrees into the same canonical shuffle (computed
    // once, AQE stage reuse); the signature and size aggs then run
    // one-phase on already-id-partitioned shingles and confirm's
    // a-side join needs no further exchange.
    val sh = shingles(docs, idCol, textCol).repartition(col(idCol))
    // Signature-table seam (r17): the hash-agreement self-join below
    // consumes the k-word signature agg on BOTH alias branches, and
    // branch-cloned aggs never canonicalize equal, so without an
    // exchange of its own the agg (and its k hashes per shingle) runs
    // once per side. BARE repartition, not the pinned seam: this
    // family's consumers are cheap per byte (xxhash words, posexplode)
    // and the resolve-family queries built on minHashPairs are
    // job-count-bound — AQE coalescing keeps their per-task fixed
    // costs down (the measured blanket-pin regression, scaladoc of
    // [[seamRepartition]]).
    // r18 MEASURED REVERT of the join-key ((__hi,__hv)) seam: keying
    // the seam on the join key does make the agreement self-join's two
    // branches share one exchange (the doc-key repartition below is
    // elided as redundant — sh is already doc-partitioned — so the
    // broadcast-converted side re-runs the signature agg), but for
    // THIS family the duplicated agg is k xxhash64 words on a few
    // AQE-coalesced tasks — cheaper than the forced full shuffle of
    // the exploded k·|docs| table plus its extra stage barrier on a
    // driver-job-count-bound query family (min-of-6 at sf0.1:
    // neardup_minhash 1.41 s with the fork vs 2.54 s with the keyed
    // seam; dedup_clusters / docs_training_set regress with it too).
    // The keyed seam stays where the duplicated agg is genuinely
    // dense — the sha256-family banded paths and >192-bit SimHash
    // (see [[bandedCandidatesFromSignatures]] /
    // [[simHashCandidatesFromShingles]]).
    val sig = minHashSignatures(sh, idCol, k).repartition(col(idCol))
      .select(col(idCol),
        posexplode(array((0 until k).map(i => col(s"h$i")): _*)).as(Seq("__hi", "__hv")))
    val cand = sig.select(col(idCol).as("doc_a"), col("__hi"), col("__hv"))
      .join(sig.select(col(idCol).as("doc_b"), col("__hi"), col("__hv")),
        Seq("__hi", "__hv"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    confirm(cand, sh, idCol, thresholdMilli)
  }

  /** MinHash LSH banded candidates — the r×b precision dial
    * (rowsPerBand = r, bands b = k/r). Band value = the r consecutive
    * signature words joined into one key, so a pair is a candidate iff
    * ALL r words of some band agree: P(candidate | Jaccard J) =
    * 1 − (1 − J^r)^b.
    *
    * Why this is the 100 TB dial: at r = 1 a moderately-similar pair
    * (J = 0.3) is a candidate with P = 1 − 0.7^16 ≈ 99.7 %, so a corpus
    * with a fat tail of J 0.2–0.5 pairs (boilerplate-heavy web text)
    * degenerates toward all-pairs exact-confirm cost. At r = 2, b = 8
    * the same pair survives with P = 1 − (1 − 0.09)^8 ≈ 53 %, and at
    * J = 0.1 with P ≈ 8 % vs 81 % — an order of magnitude fewer junk
    * candidates — while a true near-dup at J ≥ 0.8 is still caught
    * with P = 1 − (1 − 0.64)^8 ≈ 99.97 %. Candidates remain a pure
    * equijoin on (band index, band key): b·|docs| rows, never n².
    *
    * The band key is the comma-joined decimal words (not a re-hash):
    * collision-free by construction and trivially replicable in a
    * differential oracle. */
  def minHashBandedCandidates(
      sh: DataFrame,
      idCol: String = "doc_id",
      k: Int = NumMinHashes,
      rowsPerBand: Int = 2,
      word: (Int, Column) => Column = XxMinHashFamily): DataFrame = {
    // Signature-table seam — same rationale as
    // [[simHashCandidatesFromShingles]]: the band self-join otherwise
    // recomputes the k-word signature agg once per alias branch (the
    // battery's sha-sliced family pays k sha256 digests per shingle,
    // twice), and the seam splits the signature agg out of the banded
    // join's codegen span. k longs per doc — free to shuffle.
    bandedCandidatesFromSignatures(
      seamRepartition(minHashSignatures(sh, idCol, k, word), idCol),
      idCol, k, rowsPerBand)
  }

  /** The banding half of [[minHashBandedCandidates]] over an EXISTING
    * signature table (id, h0..h(k-1)) — the seam a deployment persists
    * between runs (k longs per doc), and what a measurement harness
    * checkpoints so candidate counting never re-scans the corpus. */
  def bandedCandidatesFromSignatures(
      sig: DataFrame,
      idCol: String = "doc_id",
      k: Int = NumMinHashes,
      rowsPerBand: Int = 2): DataFrame = {
    require(rowsPerBand >= 1 && k % rowsPerBand == 0,
      s"rowsPerBand ($rowsPerBand) must divide the signature length k ($k)")
    val b = k / rowsPerBand
    // r18: join-key seam — same rationale as [[minHashPairs]] /
    // [[simHashCandidatesFromShingles]]: a doc-key signature seam is
    // elided when the input is already doc-partitioned, letting the
    // band self-join's broadcast side re-run the signature agg (k/4
    // sha256 digests per shingle for the battery's sliced family,
    // twice); keyed on (__band, __bv) the exchange survives and both
    // branches share it.
    val banded = sig.select(col(idCol),
      posexplode(array((0 until b).map { bi =>
        concat_ws(",",
          (0 until rowsPerBand).map(r => col(s"h${bi * rowsPerBand + r}")): _*)
      }: _*)).as(Seq("__band", "__bv")))
      .repartition(col("__band"), col("__bv"))
    banded.select(col(idCol).as("doc_a"), col("__band"), col("__bv"))
      .join(banded.select(col(idCol).as("doc_b"), col("__band"), col("__bv")),
        Seq("__band", "__bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** MinHash LSH with r×b banding ([[minHashBandedCandidates]]),
    * exact-Jaccard confirmed — [[minHashPairs]] with the precision
    * dial engaged. Same output contract (doc_a < doc_b,
    * jaccard_x1000 ≥ threshold); the banding only decides which pairs
    * PAY for confirmation. */
  def minHashPairsBanded(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = NumMinHashes,
      rowsPerBand: Int = 2,
      thresholdMilli: Int = ThresholdMilli,
      word: (Int, Column) => Column = XxMinHashFamily): DataFrame = {
    // Materialized-once seam — see [[minHashPairs]].
    val sh = seamRepartition(shingles(docs, idCol, textCol), idCol)
    confirm(minHashBandedCandidates(sh, idCol, k, rowsPerBand, word),
      sh, idCol, thresholdMilli)
  }

  /** Incremental (cross-corpus) MinHash near-dup: pairs with doc_a
    * from `base` and doc_b from `increment` ONLY — never base×base or
    * increment×increment. The daily-ingest shape: each increment is
    * deduped against the accumulated corpus without re-pairing the
    * corpus against itself, so the recurring cost is the increment's
    * signatures plus the candidate equijoin, not a full-corpus redo —
    * and [[minHashSignatures]] is the materialization seam where a
    * real deployment persists the base side's k longs per doc between
    * runs. Id spaces must be disjoint across the two inputs (a shared
    * id would pair a doc with itself). */
  def minHashPairsBetween(
      base: DataFrame,
      increment: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = NumMinHashes,
      thresholdMilli: Int = ThresholdMilli): DataFrame = {
    // Materialized-once seam per side — see [[minHashPairs]].
    val shA = shingles(base, idCol, textCol).repartition(col(idCol))
    val shB = shingles(increment, idCol, textCol).repartition(col(idCol))
    def sig(sh: DataFrame, as: String) =
      minHashSignatures(sh, idCol, k)
        .select(col(idCol).as(as),
          posexplode(array((0 until k).map(i => col(s"h$i")): _*)).as(Seq("__hi", "__hv")))
    val cand = sig(shA, "doc_a")
      .join(sig(shB, "doc_b"), Seq("__hi", "__hv"))
      .select("doc_a", "doc_b")
    confirmBetween(cand, shA, shB, idCol, thresholdMilli)
  }

  /** Default per-shingle hash family: hash word w of a shingle is
    * `xxhash64(s)` for w = 0 (byte-identical to the original 64-bit
    * signature, so the default configuration and its DuckDB-confirmed
    * candidate set are unchanged) and `xxhash64(w, s)` for w ≥ 1.
    * 64 usable bits per word. */
  val XxHashFamily: SimHashFamily = SimHashFamily(
    wordBits = 64,
    word = (w, s) => if (w == 0) xxhash64(s) else xxhash64(lit(w), s))

  /** Cross-engine-REPLICABLE hash family: hash word w is 15 hex chars
    * (60 bits) of a sha256 digest, via `conv(hex, 16, 10)` — sha256 of
    * a UTF-8 string is identical in every engine (DuckDB included),
    * unlike xxhash64, so a differential oracle can replicate the FULL
    * banded candidate generation, not just confirmed ground truth.
    * That is what makes a probabilistic scale configuration
    * hash-testable end-to-end.
    *
    * Words 0–3 slice `sha256(s)` (64 hex chars = 4 full 15-hex words —
    * byte-identical to the original single-digest family, so every
    * existing oracle and candidate set is unchanged); word w ≥ 4
    * slices digest `sha256(s || '#' || (w div 4))` — one extra digest
    * per 4 words, engaged only when the requested width exceeds 240
    * bits. That is the band-entropy headroom `simHashBandBitsFor`
    * needs above ~4k docs (ceil(log2 n)+3 > 15): 16 bands keep their
    * one-band-per-key exactness while band bits grow with the corpus
    * up to the 60-bit join-key ceiling (width 960 ⇔ ~2^57 docs).
    * Sub-expression elimination shares each digest across its four
    * word slices; the signature pass runs once per (doc, shingle),
    * not per pair. */
  val Sha256Family: SimHashFamily = SimHashFamily(
    wordBits = 60,
    word = (w, s) => {
      val digest =
        if (w < 4) sha2(s, 256)
        else sha2(concat(s, lit("#" + (w / 4))), 256)
      conv(substring(digest, (w % 4) * 15 + 1, 15), 16, 10).cast("long")
    },
    maxWidthBits = 960) // 16 digests × 4 words; bandBits caps at 60 anyway

  /** SimHash of the doc's shingle-hash set, `widthBits` wide: logical
    * bit j is the sign of Σ over shingles of ±1 by bit (j mod
    * family.wordBits) of hash word (j div family.wordBits) —
    * equivalently, bit j is set iff 2·popcount_j > n (strict, so a
    * tied bit is 0, same as Σ±1 > 0). The signature is emitted PACKED
    * into ⌈widthBits/64⌉ long columns `__sig0..__sigW` (64 signature
    * bits per column regardless of the family's word width).
    *
    * The per-bit popcounts are SWAR-packed: counters for logical bits
    * k and k+width/2 share one long aggregate (k in the low 32 bits,
    * k+width/2 at bit 32), so the aggregation carries widthBits/2 + 1
    * buffers instead of widthBits — half the aggregate state and
    * arithmetic, and a ≤192-bit signature stays under whole-stage
    * codegen's default 100-field cutoff. No cross-field carry while a
    * group has < 2³¹ rows (a doc would need 2³¹ distinct shingles).
    * One hash-agg, map-side partials.
    *
    * WIDE signatures (r18): past ~192 bits the single aggregation's
    * widthBits/2 + 1 buffers exceed whole-stage codegen's 100-field
    * cutoff, and even chunked into ≤96-buffer column pieces the
    * generated update methods stay thousands of bytecodes — past (or
    * near) HotSpot's 8000-bytecode JIT refusal — so the per-row buffer
    * updates run interpreted: measured at the 256-bit scaled config as
    * 36–110 task-seconds for a 4 MB shingle seam (~1–3 µs per buffer
    * update; the single hottest per-task compute in the battery, and
    * contention-amplified). Wide widths therefore aggregate through
    * [[graft.expressions.SimHashPopcountSig]] — one tight-loop
    * imperative aggregate over the pre-projected hash words (a
    * primitive long[width] popcount buffer, a few hundred array adds
    * per row, no per-bit expression trees, no duplicated sha) — and
    * unpack the returned packed-signature array. Bit-identical by the
    * strict-majority contract; ExpressionEquivalenceSpec asserts it
    * against the declarative form. */
  def simHashSignatures(
      sh: DataFrame,
      idCol: String = "doc_id",
      widthBits: Int = SimHashWidthBits,
      family: SimHashFamily = XxHashFamily): DataFrame = {
    require(widthBits >= 1, s"widthBits must be >= 1, got $widthBits")
    require(widthBits <= family.maxWidthBits,
      s"widthBits ($widthBits) exceeds the hash family's ${family.maxWidthBits}-bit budget")
    val hashWords = (widthBits + family.wordBits - 1) / family.wordBits
    // Project each word's shingle hash ONCE before the aggregation —
    // as an aggregate child it would be re-evaluated by every one of
    // the packed sums (wordBits hashes/row instead of 1).
    val hashCols = (0 until hashWords).map { w =>
      graft.core.Cols.fresh(s"__h$w", Seq(idCol)) -> family.word(w, col("s"))
    }
    val projected = sh.select(col(idCol) +: hashCols.map { case (c, h) => h.as(c) }: _*)
    val sigWords = (widthBits + 63) / 64
    if ((widthBits + 1) / 2 >= 96) {
      // WIDE path (r18, second iteration): one tight-loop imperative
      // aggregate instead of ~width/2 SWAR sum buffers — the sum form's
      // single whole-stage update method blows past HotSpot's
      // 8000-bytecode JIT cutoff and runs interpreted (measured 36–110
      // task-seconds at the 256-bit config; the ≤96-buffer column-chunk
      // split, this path's first form, still paid duplicated sha
      // projections and ~3k-bytecode methods). The aggregate reads the
      // pre-projected hash words and bumps a primitive long[width]
      // popcount buffer per row; bit-identical output by the
      // strict-majority contract (ExpressionEquivalenceSpec).
      val sigCol = graft.core.Cols.fresh("__sigarr", Seq(idCol))
      val agg = graft.expressions.SimHashPopcountSig(
        hashCols.map { case (c, _) =>
          org.apache.spark.sql.graft.ColumnAdapter.expression(col(c)) },
        widthBits, family.wordBits)
      projected.groupBy(col(idCol))
        .agg(org.apache.spark.sql.graft.ColumnAdapter
          .column(agg.toAggregateExpression()).as(sigCol))
        .select(col(idCol) +: (0 until sigWords).map { w =>
          element_at(col(sigCol), w + 1).as(s"__sig$w")
        }: _*)
    } else {
      def bit(j: Int): Column =
        shiftright(col(hashCols(j / family.wordBits)._1), j % family.wordBits)
          .bitwiseAND(1)
      val half = (widthBits + 1) / 2
      val cntCol = graft.core.Cols.fresh("__cnt", Seq(idCol))
      val packs = (0 until half).map { k =>
        val packed =
          if (k + half < widthBits) bit(k) + shiftleft(bit(k + half), 32)
          else bit(k)
        sum(packed).as(s"__p$k")
      }
      val agged =
        projected.groupBy(col(idCol)).agg(count(lit(1)).as(cntCol), packs: _*)
      def popcountOf(j: Int): Column =
        if (j < half) col(s"__p$j").bitwiseAND(lit(0xFFFFFFFFL))
        else shiftrightunsigned(col(s"__p${j - half}"), 32)
      agged.select(col(idCol) +: (0 until sigWords).map { w =>
        (0 until math.min(64, widthBits - 64 * w)).map { j =>
          val jj = 64 * w + j
          when(popcountOf(jj) * 2 > col(cntCol), lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ bitwiseOR _).as(s"__sig$w")
      }: _*)
    }
  }

  /** Value of band `b` (bandBits wide) out of a multi-word signature —
    * logical bit range [b·bandBits, (b+1)·bandBits), possibly spanning
    * two words. Unsigned shifts: an arithmetic shift would smear the
    * sign bit over the high word's contribution. */
  private def bandValue(sigWord: Int => Column, bandBits: Int, b: Int): Column = {
    val lo = b * bandBits
    val off = lo % 64
    val wlo = lo / 64
    val whi = (lo + bandBits - 1) / 64
    val mask = (1L << bandBits) - 1
    val low = shiftrightunsigned(sigWord(wlo), off)
    val v = if (whi == wlo) low
            else low.bitwiseOR(shiftleft(sigWord(whi), 64 - off))
    v.bitwiseAND(lit(mask))
  }

  /** Banded-Hamming candidate pairs over an EXISTING packed-signature
    * table `(idCol, __sig0 .. __sig{⌈widthBits/64⌉−1})` — the generic
    * LSH step shared by [[simHashCandidatesFromShingles]] and the
    * image perceptual-hash path ([[Multimodal.pHashPairs]]): band
    * equijoin on (band index, band value), then the popcount Hamming
    * cutoff. Output `(doc_a, doc_b, hamming_dist)` with doc_a < doc_b;
    * NOT distinct — a pair agreeing on several bands appears once per
    * agreeing band (callers that need set semantics distinct(), as
    * [[confirm]] does).
    *
    * Recall contract: exact (all Hamming ≤ hammingMax pairs) iff
    * `bands − minSharedBands + 1 > hammingMax` (pigeonhole: h
    * differing bits corrupt ≤ h bands, so ≥ bands − h stay intact —
    * enough for an intact `minSharedBands`-subset exactly when
    * bands − h ≥ minSharedBands); otherwise probabilistic, with
    * per-pair miss rate (1−(1−p)^bandBits)^bands at per-bit
    * disagreement p for the single-band mode. Pass
    * `hammingMax = widthBits` to disable the Hamming filter (then
    * candidates = raw band collisions).
    *
    * `minSharedBands` is the candidate-volume dial for SHORT fixed
    * signatures: a 64-bit signature in 8 bands has 8-bit band keys —
    * 256 buckets, so the single-band equijoin's output grows as
    * n²·bands/2^bandBits no matter how good the hash is (measured:
    * 1.9·10⁸ candidate rows for 5.1·10⁴ docs at the 10× soak, ~40 s
    * of pure join). With `minSharedBands = 2` the join key is a BAND
    * PAIR — C(bands, 2) keys of 2·bandBits — so the same corpus
    * buckets over 65 536 values instead of 256: ~3.5 C(8,2)/2¹⁶·n²
    * ≈ 5·10⁵ candidates, at an unchanged EXACT recall contract
    * (bands − hammingMax ≥ 2 still pigeonholes an intact pair of
    * bands for every true match). The simHash path keeps
    * minSharedBands = 1 and widens the SIGNATURE instead
    * (`simHashBandBitsFor`) — the right dial when the signature
    * width is free; pHash's 64 blocks are fixed by the algorithm. */
  def bandedHammingPairs(
      sig: DataFrame,
      idCol: String,
      widthBits: Int,
      bands: Int,
      hammingMax: Int,
      minSharedBands: Int = 1): DataFrame = {
    val (banded, sigCols) =
      bandedKeyed(sig, idCol, widthBits, bands, minSharedBands)
    bandedPairJoin(banded, banded, idCol, sigCols, hammingMax, ordered = true)
  }

  /** Cross-corpus [[bandedHammingPairs]]: doc_a from `sigA`, doc_b from
    * `sigB` — the incremental-ingest form (sign each tranche once, band
    * the NEW signatures against the accumulated store). Id spaces must
    * be disjoint (the contract of every `*Between` here). Passing the
    * SAME table on both sides emits each qualifying pair in BOTH
    * orientations — filter `doc_a < doc_b` to recover the one-corpus
    * ordered set. */
  def bandedHammingPairsBetween(
      sigA: DataFrame,
      sigB: DataFrame,
      idCol: String,
      widthBits: Int,
      bands: Int,
      hammingMax: Int,
      minSharedBands: Int = 1): DataFrame = {
    val (ba, sigCols) =
      bandedKeyed(sigA, idCol, widthBits, bands, minSharedBands)
    val (bb, _) =
      bandedKeyed(sigB, idCol, widthBits, bands, minSharedBands)
    bandedPairJoin(ba, bb, idCol, sigCols, hammingMax, ordered = false)
  }

  /** Validated band-key explosion shared by the one- and two-corpus
    * forms: the signature table with one (key index, key value) row per
    * band (or band PAIR at minSharedBands = 2). */
  private def bandedKeyed(
      sig: DataFrame,
      idCol: String,
      widthBits: Int,
      bands: Int,
      minSharedBands: Int): (DataFrame, Seq[String]) = {
    require(bands >= 1 && widthBits % bands == 0,
      s"bands ($bands) must divide widthBits ($widthBits)")
    require(minSharedBands == 1 || minSharedBands == 2,
      s"minSharedBands must be 1 or 2, got $minSharedBands")
    require(bands >= minSharedBands,
      s"bands ($bands) must be >= minSharedBands ($minSharedBands) — " +
        "fewer bands than the agreement order leaves no join keys at all")
    val bandBits = widthBits / bands
    require(bandBits * minSharedBands <= 60,
      s"join-key bits (${bandBits * minSharedBands}) must be <= 60")
    val words = (widthBits + 63) / 64
    val sigCols = (0 until words).map(w => s"__sig$w")
    def bv(b: Int) = bandValue(w => col(s"__sig$w"), bandBits, b)
    // join keys: single bands, or all C(bands, 2) band pairs packed
    // into one ≤60-bit long (index packs the same way)
    val keys: Seq[Column] =
      if (minSharedBands == 1) (0 until bands).map(bv)
      else for (i <- 0 until bands; j <- i + 1 until bands)
        yield shiftleft(bv(i), bandBits).bitwiseOR(bv(j))
    (sig.select(col(idCol) +: sigCols.map(col) :+
      posexplode(array(keys: _*)).as(Seq("__bi", "__bv")): _*), sigCols)
  }

  /** Shared tail of the banded forms: key equijoin + popcount Hamming
    * cutoff. `ordered = true` keeps doc_a < doc_b (one-corpus);
    * `ordered = false` keeps doc_a ≠ doc_b (cross-corpus sides). */
  private def bandedPairJoin(
      bandedA: DataFrame,
      bandedB: DataFrame,
      idCol: String,
      sigCols: Seq[String],
      hammingMax: Int,
      ordered: Boolean): DataFrame = {
    val a = bandedA.select(col(idCol).as("doc_a") +:
      sigCols.map(c => col(c).as(s"__a$c")) :+ col("__bi") :+ col("__bv"): _*)
    val b = bandedB.select(col(idCol).as("doc_b") +:
      sigCols.map(c => col(c).as(s"__b$c")) :+ col("__bi") :+ col("__bv"): _*)
    val hamming = sigCols.map(c =>
      bit_count(col(s"__a$c").bitwiseXOR(col(s"__b$c")))).reduce(_ + _)
    val order =
      if (ordered) col("doc_a") < col("doc_b") else col("doc_a") =!= col("doc_b")
    a.join(b, Seq("__bi", "__bv"))
      .filter(order && hamming <= hammingMax)
      .select(col("doc_a"), col("doc_b"), hamming.cast("long").as("hamming_dist"))
  }

  /** SimHash candidate pairs (doc_a < doc_b) over a shingle table:
    * [[simHashSignatures]] piped through [[bandedHammingPairs]].
    * Exposed (docs form below) so the candidate COUNT is testable —
    * the scale property of this operator is the size of the band
    * join's output, not the confirmed pairs. See
    * [[bandedHammingPairs]] for the recall contract. */
  def simHashCandidatesFromShingles(
      sh: DataFrame,
      idCol: String = "doc_id",
      widthBits: Int = SimHashWidthBits,
      bands: Int = SimHashBands,
      hammingMax: Int = HammingMax,
      family: SimHashFamily = XxHashFamily): DataFrame =
    // The signature table is seamed like the pHash path
    // ([[Multimodal.pHashPairs]]): the banded join consumes it on BOTH
    // alias branches, and without an exchange of its own the
    // widthBits-sum signature aggregation (the family's sha256 work,
    // ~4 digests per shingle at scaled widths) runs once PER SIDE —
    // AQE's broadcast conversion of the self-join leaves the probe
    // branch exchange-less, so only a seam here lets the two branches
    // unify (measured r17: the recall report's found side burned ~7×
    // the standalone's task time through exactly this fork, plus a
    // single fused codegen span too large to stay JIT-compiled). The
    // signature table is |docs| rows of ⌈width/64⌉ longs — the seam
    // shuffles kilobytes per million docs at any scale.
    // r18: the r17 doc-key signature seam is ELIDED as a redundant
    // repartition whenever `sh` arrives already hash-partitioned by
    // the doc key (every battery path — the shingle seam upstream),
    // so the banded self-join's broadcast-converted side silently
    // re-runs the signature agg + band explode from the shingle
    // exchange. While wide-width signatures aggregated through
    // ~width/2 INTERPRETED sum buffers (see [[simHashSignatures]]),
    // that duplication dominated everything and a seam keyed on the
    // join key ((__bi,__bv) — the only repartition that survives
    // optimization here) paid for its forced full shuffle of the
    // exploded band table (keyed 2.18 s vs 2.35 bare at the 256-bit
    // scaled config). With [[graft.expressions.SimHashPopcountSig]]
    // the duplicated agg is a cheap JIT'd loop and the trade inverts
    // at EVERY width, matching the 64-bit finding (min-of-6 at sf0.1,
    // per-variant minima across alternating same-window runs:
    // neardup_simhash_scaled 1.06 bare vs 1.51 keyed,
    // neardup_simhash_recall 1.54 bare vs 3.07 keyed) — so the band
    // table goes to the self-join bare, and the fork costs one extra
    // run of a now-cheap agg on the broadcast branch instead of a
    // full exchange + stage barrier on a driver-job-bound family.
    {
      val sig = seamRepartition(
        simHashSignatures(sh, idCol, widthBits, family), idCol)
      val (banded, sigCols) =
        bandedKeyed(sig, idCol, widthBits, bands, minSharedBands = 1)
      bandedPairJoin(banded, banded, idCol, sigCols, hammingMax, ordered = true)
        .select("doc_a", "doc_b")
    }

  /** [[simHashCandidatesFromShingles]] straight from a documents table. */
  def simHashCandidates(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      widthBits: Int = SimHashWidthBits,
      bands: Int = SimHashBands,
      hammingMax: Int = HammingMax,
      family: SimHashFamily = XxHashFamily): DataFrame =
    simHashCandidatesFromShingles(
      shingles(docs, idCol, textCol), idCol, widthBits, bands, hammingMax, family)

  /** SimHash LSH: candidates share a band and pass the Hamming cutoff,
    * then exact-confirm. Defaults = the exact small-corpus mode
    * (64-bit, 16×4 bands, pigeonhole-complete for Hamming ≤ 15); at
    * scale pass `widthBits = bands · simHashBandBitsFor(n)` so the
    * candidate join stays O(n · bands) — see the banding scaladoc. */
  def simHashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      thresholdMilli: Int = ThresholdMilli,
      widthBits: Int = SimHashWidthBits,
      bands: Int = SimHashBands,
      hammingMax: Int = HammingMax,
      family: SimHashFamily = XxHashFamily): DataFrame = {
    // Same materialized-once seam as [[minHashPairs]]: the narrow
    // shingle generate feeds the signature agg, both confirm sides and
    // the size aggs — one exchange on the doc key, computed once.
    val sh = seamRepartition(shingles(docs, idCol, textCol), idCol)
    val cand = simHashCandidatesFromShingles(sh, idCol, widthBits, bands, hammingMax, family)
    confirm(cand, sh, idCol, thresholdMilli)
  }

  /** (idCol, pos, s) — ALL word-n-gram occurrences per doc with their
    * 1-based start position, multiplicity preserved (unlike
    * [[shingles]], which is the distinct SET). One compiled pass per
    * row ([[graft.expressions.NgramArray]]) + a Generate — narrow, no
    * shuffle. Docs with fewer than n tokens yield no rows. */
  def positionalNgrams(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = ShingleN): DataFrame = {
    val tokArr = filter(split(col(textCol), "\\s+"),
      t => !(t === "" || t.rlike("^\\s+$")))
    val grams = org.apache.spark.sql.graft.ColumnAdapter.column(
      graft.expressions.NgramArray(
        org.apache.spark.sql.graft.ColumnAdapter.expression(tokArr), n))
    docs.select(col(idCol), posexplode(grams).as(Seq("__p0", "s")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("pos"), col("s"))
  }

  /** Corpus-duplicated n-gram SPAN statistics per document — the
    * substring-granular member of the dedup family (the suffix-array
    * exact-substring method of Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", recast as a distributed
    * n-gram pipeline): a position's gram is "duplicated" when the same
    * n-gram occurs in ≥ `minDocs` DISTINCT documents, and the per-doc
    * signals are the duplicated-gram fraction plus the longest run of
    * consecutive duplicated positions (= longest cross-doc-duplicated
    * token span, in grams; span tokens = run + n − 1). Doc-level
    * near-dup ([[minHashPairs]] etc.) finds whole-document twins; THIS
    * finds boilerplate/licence/template spans inside otherwise-unique
    * documents, which token-level training-data curation filters on.
    *
    * Scale shape: gram generation is narrow ([[positionalNgrams]]);
    * grams travel the shuffles as a 60-bit sha256-slice key, never the
    * gram text (3-gram text averages ~20 bytes; the key is 8). The
    * duplicated-gram set = the [[shingles]] hash-agg (distinct
    * (doc, gram) → per-gram doc counts — the keepFirst-shaped shuffle) with
    * df ≥ minDocs; flagging is a semi-equijoin of positional grams
    * against that set (AQE broadcasts it when the duplicated
    * vocabulary is small); runs are one per-doc window (gaps-and-
    * islands: pos − row_number, one shuffle + sort on idCol over the
    * DUPLICATED positions only). Output covers every input document
    * (docs with < n tokens or no duplicated grams carry zeros).
    *
    * All-integer output: (doc_id, n_grams, n_dup_grams, dup_x1000,
    * max_dup_run) — fixed-point fraction via integer div, so the
    * cross-engine oracle matches bit-for-bit.
    */
  def dupNgramStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = ShingleN,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val key = conv(substring(sha2(col("s"), 256), 1, 15), 16, 10)
      .cast("long").as("__k")
    // Materialized-once seam on the gram key — see [[minHashPairs]].
    // r17 measured-and-left-alone: this seam actually FORKS (the three
    // consumers prune to different column sets, so three projections
    // push below the exchange and the generate runs 3×), but both
    // candidate fixes LOST on wall at sf0.1 — a pinned 32-partition
    // exchange inflated aggregate task time ~10× (per-task overhead
    // dominates a <1 s stage), and a lazy localCheckpoint of the seam
    // paid ~0.8 s of up-front planning+codegen to save ~0.8 s of
    // duplicated generate. The bare seam is the measured optimum here.
    val pg = positionalNgrams(docs, idCol, textCol, n)
      .select(col(idCol), col("pos"), key)
      .repartition(col("__k"))
    // duplicated-gram set: distinct (doc, gram) first (collapses within-
    // doc multiplicity), then per-gram distinct-doc counts
    val dupSet = pg.select(col(idCol), col("__k")).distinct()
      .groupBy(col("__k")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__k"))
    val flagged = pg.join(dupSet, Seq("__k"), "left_semi")
    // longest run of consecutive duplicated positions per doc:
    // island id = pos − row_number() over (doc, pos-order)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val runs = flagged
      .withColumn("__island", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__island")).agg(count(lit(1)).as("__run"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("__n_islands"),
        sum(col("__run")).as("__n_dup"),
        max(col("__run")).as("__max_run"))
    val totals = pg.groupBy(col(idCol)).agg(count(lit(1)).as("__n_grams"))
    docs.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(runs.drop("__n_islands"), Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("__n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("__n_dup"), lit(0L)).as("n_dup_grams"),
        when(coalesce(col("__n_grams"), lit(0L)) > 0,
          expr("coalesce(__n_dup, 0L) * 1000 div __n_grams"))
          .otherwise(lit(0L)).as("dup_x1000"),
        coalesce(col("__max_run"), lit(0L)).as("max_dup_run"))
  }

  /** The REWRITE half of substring-granular dedup ([[dupNgramStats]]
    * is the detection half): emit each document with its cross-corpus-
    * duplicated token spans REMOVED, keeping exactly one surviving copy
    * of every duplicated span — Lee et al.'s "Deduplicating Training
    * Data Makes Language Models Better" applied as a transform, not
    * just a signal. Semantics, all deterministic:
    *
    *   - a gram (word n-gram at 1-based position q, covering token
    *     positions q..q+n−1) is DUPLICATED when it occurs in ≥
    *     `minDocs` distinct documents;
    *   - each duplicated gram's CANONICAL document is the minimum
    *     doc id containing it (first-seen under id order — the same
    *     keep-first convention as [[graft.operators.Dedup]]);
    *   - token position p of doc d is removed iff some duplicated
    *     gram covers it at an occurrence in d and d is NOT that gram's
    *     canonical doc. The canonical doc keeps all its copies, so
    *     every duplicated span survives somewhere. (Removal splices
    *     the survivors of a doc together, which can create new grams —
    *     a second pass may find fresh duplicates, as in any
    *     remove-and-splice dedup; it converges because each pass only
    *     ever shrinks non-canonical text.)
    *
    * Output: (idCol, text = kept tokens joined by one space — "" when
    * everything was removed, n_tokens = original token count,
    * n_removed) — one row per input doc; docs with < n tokens pass
    * through untouched (re-tokenized join, so inter-token whitespace
    * normalizes to single spaces).
    *
    * Scale shape: tokens and grams are narrow generates; grams travel
    * every shuffle as the 60-bit sha256-slice key, never text. The
    * duplicated-gram table (key → canonical id) is ONE hash-agg over
    * distinct (doc, gram) — the keepFirst-shaped shuffle — and is Zipf-small
    * (duplicated vocabulary ≪ corpus), so AQE broadcasts the flagging
    * join. Covered positions expand n-fold from FLAGGED occurrences
    * only, dedup by (doc, pos), anti-join against the token table on
    * (doc, pos) — both keyed equijoins co-partitioned by doc — and one
    * per-doc hash-agg rebuilds the text (per-doc state bounded by doc
    * length, the same bound the wholetext source already imposes).
    * Nothing is all-pairs; nothing collects to the driver.
    */
  def substringDedup(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = ShingleN,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val tokArr = filter(split(col(textCol), "\\s+"),
      t => !(t === "" || t.rlike("^\\s+$")))
    val words = docs
      .select(col(idCol), posexplode(tokArr).as(Seq("__p0", "__w")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("pos"),
        col("__w"))
    val key = conv(substring(sha2(col("s"), 256), 1, 15), 16, 10)
      .cast("long").as("__k")
    // Materialized-once seam on the gram key — see [[minHashPairs]];
    // bare (un-pinned, un-checkpointed) deliberately — the same
    // measured trade as [[dupNgramStats]]'s seam note.
    val pg = positionalNgrams(docs, idCol, textCol, n)
      .select(col(idCol), col("pos"), key)
      .repartition(col("__k"))
    // duplicated grams with their canonical (min-id) doc, from the
    // distinct (doc, gram) set — one hash-agg, Zipf-small output
    val canon = pg.select(col(idCol), col("__k")).distinct()
      .groupBy(col("__k")).agg(
        count(lit(1)).as("__df"), min(col(idCol)).as("__canon"))
      .filter(col("__df") >= minDocs)
      .select(col("__k"), col("__canon"))
    // occurrences of duplicated grams outside their canonical doc,
    // expanded to the n token positions each occurrence covers
    val removed = pg.join(canon, Seq("__k"))
      .where(col(idCol) > col("__canon"))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .distinct()
    val kept = words.join(removed, Seq(idCol, "pos"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(
        transform(
          array_sort(collect_list(struct(col("pos"), col("__w")))),
          x => x.getField("__w")),
        " ").as("__text"),
      count(lit(1)).as("__n_kept"))
    val totals = words.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_tokens"))
    docs.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("__text"), lit("")).as("text"),
        coalesce(col("__n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("__n_tokens"), lit(0L)) -
          coalesce(col("__n_kept"), lit(0L))).as("n_removed"))
  }
}
