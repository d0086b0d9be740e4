package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.functions.Scalars
import graft.operators.{AttrsTransform, Bpe, Cdc, Curation, Dedup, DedupClusters, Embeddings, Er, Eval, FoldGroup, Layout, Multimodal, NearDup, Relevance, Sessions, Sketches, TextAnalysis, Tokenize, WordStats}
import graft.sinks.Projection

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator from SURVEY §2 (or an
  * extension operator) against the parquet fixtures in the given sf dir;
  * `oracleSql` holds the DuckDB-equivalent SQL the driver diff-tests
  * against. Money/measure aggregates go through decimal casts and a final
  * round→double so both engines produce bit-identical values regardless
  * of float summation order (SURVEY §5 differential-testing plan).
  */
object SparkEntry {

  // ---------------------------------------------------------------- helpers

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The docs_curated pipeline body, shared with docs_training_set. */
  private def curatedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val qual = TextAnalysis.quality(docs)
      .select(col("doc_id"), col("n_tokens"), col("score_milli"))
    val lang = TextAnalysis.langId(docs).select(col("doc_id"), col("pred_lang"))
    val firstPerHash = docs
      .select(col("doc_id"), sha2(col("text"), 256).as("__h"))
      .groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val nonCanonical = DedupClusters
      .resolve(NearDup.minHashPairs(docs))
      .where(!col("is_canonical"))
      .select(col("doc_id"))
    docs.select(col("doc_id"))
      .join(qual, "doc_id")
      .join(lang, "doc_id")
      .where(col("score_milli") >= CuratedMinScoreMilli &&
        col("pred_lang") =!= "und")
      .join(firstPerHash, Seq("doc_id"), "left_semi")
      .join(nonCanonical, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("pred_lang"), col("n_tokens"), col("score_milli"))
  }

  /** Bounded localCheckpoint seam per (session, key): when a query
    * re-checkpoints the same seam (bench reps, drift retries, soak
    * baselines, tests), the build TWO generations back is released, so
    * repeated builds don't accumulate blocks for the session lifetime —
    * the same release discipline as the iterative resolvers' in-loop
    * checkpoints (the r14 advice). Release is deferred ONE generation
    * deliberately (the r15 advice): a localCheckpointed RDD cannot
    * recompute after unpersist, and releasing the immediate predecessor
    * would strand a caller that builds the query twice and then acts on
    * the FIRST result — build-twice-act-on-either is common (a soak's
    * scaled run + unscaled baseline, a spec comparing two builds).
    * Contract: at most the TWO most recent builds of a seam are live;
    * accumulation stays bounded at two checkpoints per seam.
    * Single-builder contract: queries are built sequentially in every
    * harness path (Bench, Verify, sbt test default). Entries whose
    * session has stopped are evicted on the next call from any session
    * (their blocks died with the executors; holding the DataFrames
    * would pin stopped sessions for process lifetime across
    * test-suite sessions). */
  private val seamSlots =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), List[DataFrame]]()
  private def seamCheckpoint(key: String, df: DataFrame): DataFrame = {
    val it = seamSlots.keySet().iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    val cp = df.localCheckpoint()
    val skey = (df.sparkSession, key)
    val prev = Option(seamSlots.get(skey)).getOrElse(Nil)
    seamSlots.put(skey, cp :: prev.take(1))
    prev.drop(1).foreach { grandparent =>
      try graft.core.IterCheckpoint.release(grandparent)
      catch { case _: IllegalArgumentException => () }
    }
    cp
  }

  /** Exact decimal for prices / balances / values (≤ 10^10, 2 dp). */
  private def decP(c: Column): Column = c.cast("decimal(12,2)")

  /** Exact decimal for small measures (quantity, discount, tax: 2 dp). */
  private def decQ(c: Column): Column = c.cast("decimal(4,2)")

  /** Deterministic money output: exact decimal sum → round(2) → double. */
  private def money(c: Column): Column = round(c, 2).cast("double")

  /** Normalize the events fixture's `ts` to session-zoned `TimestampType`
    * micros regardless of the fixture's physical encoding. The generator
    * has shipped two encodings across regenerations:
    *
    *  - parquet TIMESTAMP(NANOS), which Spark 4 has no type for — read as
    *    int64 epoch-nanos via `spark.sql.legacy.parquet.nanosAsLong=true`
    *    (set by every main and the test base) and divided down with `div`,
    *    not `/`, because epoch-nanos exceed 2^53 and would lose precision
    *    through a double;
    *  - parquet timestamp[us] without UTC adjustment, which Spark reads as
    *    `TIMESTAMP_NTZ` — cast to `TimestampType`, lossless because every
    *    session here pins `spark.sql.session.timeZone=UTC`, so the naive
    *    wall-clock reinterprets to the identical epoch-micros instant.
    *
    * A bare int64 column carries no unit, so the LongType arm dispatches
    * per-row on MAGNITUDE: ≥ 10¹⁷ is epoch-nanos (every instant after
    * 1973-03; micros would put it past year 5138), below is epoch-micros
    * (the plausible next regen: raw int64 micros without a logical type).
    * The branch is a per-row `when`, not a scan — it stays inside
    * whole-stage codegen and tolerates a fixture that mixes encodings
    * across row groups.
    *
    * All paths land on the same values DuckDB sees reading the fixture
    * natively, so the oracle SQL needs no per-encoding variant. Any other
    * encoding fails loudly here, naming the column — not 18 queries deep
    * in an analysis error.
    */
  def normalizeEventTs(df: DataFrame, c: String = "ts"): DataFrame =
    df.schema(c).dataType match {
      case LongType => df.withColumn(c, timestamp_micros(
        when(abs(col(c)) >= lit(100000000000000000L), expr(s"`$c` div 1000"))
          .otherwise(col(c))))
      case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalArgumentException(
        s"events fixture column '$c': unsupported physical type $other " +
          "(expected int64 epoch-nanos, int64 epoch-micros, TIMESTAMP_NTZ, " +
          "or TIMESTAMP)")
    }

  private def eventsTable(s: SparkSession, dir: String): DataFrame =
    normalizeEventTs(T(s, dir, "events"))

  /** doc_id + 0-based token position + word, blanks dropped — the shared
    * tokenized view of `documents` used by the parity queries. */
  private def docTokens(s: SparkSession, dir: String): DataFrame =
    Tokenize.splitTokens(inputCol = "text")(
      T(s, dir, "documents").select(col("doc_id"), col("text")))

  /** DuckDB CTE equivalent of [[docTokens]] (pos is 1-based there; the
    * oracles subtract 1 where pos is emitted). */
  private val toksCte: String =
    """WITH toks AS (
      |  SELECT doc_id, trim(w) AS word, p AS pos FROM (
      |    SELECT doc_id,
      |           unnest(string_split_regex(text, '\s+')) AS w,
      |           generate_subscripts(string_split_regex(text, '\s+'), 1) AS p
      |    FROM documents)
      |  WHERE trim(w) <> '' AND NOT regexp_matches(trim(w), '^\s+$'))""".stripMargin

  private val diac = Scalars.ArabicDiacritics

  /** Arabic sample texts for the tokenizer parity query — the fixture
    * corpus has no Arabic docs (the reference was built for Arabic text,
    * /root/reference/readme.md:14), so the query tokenizes this constant
    * table and the oracle re-derives it as a VALUES literal: engine and
    * oracle see byte-identical input. The samples pin the reference
    * class's edges: teh marbuta (U+0629) splits runs, Arabic-Indic
    * digits are excluded, tatweel and diacritics are included.
    */
  val ArabicSamples: Seq[(Long, String)] = Seq(
    0L -> "السَّلامُ عَلَيْكُمْ وَرَحْمَةُ اللهِ وَبَرَكاتُهُ",
    1L -> "مدرسة كبيرة ومكتبة قديمة",
    2L -> "العدد ١٢٣ كبير جدا",
    3L -> "hello مرحبا world والـكتاب على الطاولة",
    4L -> "لا شيء",
    5L -> "no arabic at all 123")

  /** DuckDB VALUES literal of [[ArabicSamples]]. */
  private val arabicValues: String =
    ArabicSamples.map { case (i, t) => s"($i, '$t')" }.mkString(", ")

  /** DuckDB VALUES literal of [[TextAnalysis.LangMarkers]] (+ priority),
    * generated from the same Scala constant so engine and oracle can never
    * drift. */
  private val markersValues: String = {
    val prio = TextAnalysis.LangPriority.toMap
    TextAnalysis.LangMarkers
      .map { case (m, l) => s"('$m', '$l', ${prio(l)})" }
      .mkString(", ")
  }

  /** DuckDB list literal of the marker stopwords (quality()'s stop set). */
  private val stopList: String =
    TextAnalysis.LangMarkers.map(m => s"'${m._1}'").mkString(", ")

  /** DuckDB lambda-filtered token list — element-for-element the same
    * token stream as quality()/tokenCounts()' `filter(split(...))`. */
  private val tokList: String =
    """list_filter(string_split_regex(text, '\s+'),
      | t -> t <> '' AND NOT regexp_matches(t, '^\s+$'))""".stripMargin.replace("\n", "")

  /** Ground-truth near-dup oracle: exact n-gram-shingle Jaccard over
    * all pairs sharing ≥1 shingle (complete for J ≥ threshold since
    * J > 0 ⇒ a shared shingle). All three Spark candidate paths
    * (exact / MinHash / SimHash) are confirmed against exact Jaccard,
    * so they share this single oracle; constants come from [[NearDup]].
    */
  /** Shared shingle prelude (t2, sh, sizes CTEs) of every exact-Jaccard
    * oracle; constants from [[NearDup]]. */
  private val neardupPreludeSql: String = {
    val n = NearDup.ShingleN
    val gram = (0 until n).map(o => s"ts[i+$o]").mkString(" || ' ' || ")
    s"""WITH t2 AS (SELECT doc_id, $tokList AS ts FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, $gram AS s
       |  FROM t2, unnest(range(1, greatest(len(ts) - ${n - 2}, 1))) AS u(i)),
       |sizes AS (SELECT doc_id, count(*) AS nn FROM sh GROUP BY 1)""".stripMargin
  }

  /** Exact-Jaccard emit tail shared by the one-corpus and cross-corpus
    * oracles: `interCond` decides which (a, b) doc pairings count. */
  private def neardupTailSql(interCond: String): String = {
    val t = NearDup.ThresholdMilli
    s"""inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ic
       |  FROM sh a JOIN sh b ON a.s = b.s AND $interCond
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       CAST((1000 * ic) // (sa.nn + sb.nn - ic) AS BIGINT) AS jaccard_x1000
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE 1000 * ic >= $t * (sa.nn + sb.nn - ic)""".stripMargin
  }

  /** Complete exact-Jaccard pair oracle at an arbitrary pairing
    * predicate — prelude + tail as one self-contained WITH…SELECT, so
    * consumers needing only the pair set (docs_decontam_fuzzy's hits)
    * nest it as a subquery instead of copying the confirm formula. */
  private def neardupSqlFor(interCond: String): String =
    s"$neardupPreludeSql,\n${neardupTailSql(interCond)}"

  private val neardupSql: String = neardupSqlFor("a.doc_id < b.doc_id")

  /** [[graft.operators.Eval.pairRecall]] replicated over two nested
    * pair oracles (each a self-contained WITH…SELECT emitting doc_a,
    * doc_b): normalize both relations to distinct (least, greatest)
    * pairs, count truth/found/hit/extra, round the permilles, flag the
    * empty-denominator case — the identical column list and math. */
  private def pairRecallSql(foundSql: String, truthSql: String): String =
    s"""WITH f AS (SELECT DISTINCT least(doc_a, doc_b) AS pa,
       |                  greatest(doc_a, doc_b) AS pb
       |           FROM ($foundSql)),
       |t AS (SELECT DISTINCT least(doc_a, doc_b) AS pa,
       |             greatest(doc_a, doc_b) AS pb
       |      FROM ($truthSql)),
       |h AS (SELECT f.pa, f.pb FROM f JOIN t ON f.pa = t.pa AND f.pb = t.pb)
       |SELECT (SELECT count(*) FROM t) AS n_truth,
       |       (SELECT count(*) FROM f) AS n_found,
       |       (SELECT count(*) FROM h) AS n_hit,
       |       (SELECT count(*) FROM f) - (SELECT count(*) FROM h) AS n_extra,
       |       CASE WHEN (SELECT count(*) FROM t) > 0
       |            THEN CAST(round((SELECT count(*) FROM h) * 1000.0 /
       |                 (SELECT count(*) FROM t)) AS BIGINT)
       |            ELSE CAST(1000 AS BIGINT) END AS recall_permille,
       |       CASE WHEN (SELECT count(*) FROM f) > 0
       |            THEN CAST(round((SELECT count(*) FROM h) * 1000.0 /
       |                 (SELECT count(*) FROM f)) AS BIGINT)
       |            ELSE CAST(1000 AS BIGINT) END AS precision_permille,
       |       ((SELECT count(*) FROM t) = 0 OR
       |        (SELECT count(*) FROM f) = 0) AS vacuous""".stripMargin

  /** Shared winnowing prelude replicating TextAnalysis.winnowSelected
    * step for step — k-gram 60-bit hashes (`hs`), rightmost-min
    * selected positions (`sel`, the identical reverse/list_position
    * tie-break arithmetic), selected hashes (`selh`). Constants from
    * [[TextAnalysis]] so engine and oracle can never drift. */
  private val winnowPreludeSql: String = {
    val k = TextAnalysis.WinnowK
    val w = TextAnalysis.WinnowWindow
    val gram = (0 until k).map(o => s"ts[i+$o]").mkString(" || ' ' || ")
    s"""WITH t2 AS (SELECT doc_id, $tokList AS ts FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ts) >= $k THEN list_transform(
       |           range(1, len(ts) - ${k - 2}),
       |           i -> CAST(CAST(('0x' || substring(sha256($gram), 1, 15))
       |                  AS UBIGINT) AS BIGINT))
       |         ELSE []::BIGINT[] END AS hs
       |  FROM t2),
       |p AS (
       |  SELECT doc_id, hs,
       |    CASE WHEN len(hs) = 0 THEN []::BIGINT[]
       |         ELSE list_distinct(list_transform(
       |                range(1, greatest(len(hs) - ${w - 1}, 1) + 1),
       |                i -> i + len(hs[i:i+${w - 1}])
       |                       - list_position(list_reverse(hs[i:i+${w - 1}]),
       |                                       list_min(hs[i:i+${w - 1}]))))
       |    END AS sel
       |  FROM g),
       |s AS (SELECT doc_id, hs, sel,
       |             list_transform(sel, q -> hs[q]) AS selh
       |      FROM p)""".stripMargin
  }

  /** text_quality oracle — also composed (as a nested-WITH CTE) into
    * the docs_curated end-to-end pipeline oracle. */
  private val qualitySql: String =
    s"""WITH q AS (
       |  SELECT doc_id,
       |    CAST(len($tokList) AS BIGINT) AS n_tokens,
       |    CAST(coalesce(list_sum(list_transform($tokList, t -> length(t))), 0) AS BIGINT) AS sum_tok_chars,
       |    CAST(len(list_filter($tokList, t -> lower(t) IN ($stopList))) AS BIGINT) AS n_stop,
       |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits,
       |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct,
       |    CAST(length(text) AS BIGINT) AS n_chars_text
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, n_tokens, n_chars_text,
       |    CASE WHEN n_tokens > 0 THEN (sum_tok_chars * 100) // n_tokens ELSE 0 END AS avg_token_len_x100,
       |    CASE WHEN n_tokens > 0 THEN (n_stop * 1000) // n_tokens ELSE 0 END AS stop_ratio_x1000,
       |    CASE WHEN n_chars_text > 0 THEN (n_punct * 1000) // n_chars_text ELSE 0 END AS punct_ratio_x1000,
       |    CASE WHEN n_chars_text > 0 THEN (n_digits * 1000) // n_chars_text ELSE 0 END AS digit_ratio_x1000
       |  FROM q)
       |SELECT doc_id, n_tokens, n_chars_text, avg_token_len_x100,
       |       stop_ratio_x1000, punct_ratio_x1000,
       |       greatest(0, least(1000,
       |         500 + least(stop_ratio_x1000, 250)
       |             + CASE WHEN avg_token_len_x100 BETWEEN 300 AND 1000 THEN 250 ELSE 0 END
       |             - least(punct_ratio_x1000, 250)
       |             - least(digit_ratio_x1000, 250))) AS score_milli
       |FROM r""".stripMargin

  /** text_langid oracle — likewise composed into docs_curated. */
  private val langidSql: String =
    s"""$toksCte,
       |markers(marker, cand_lang, prio) AS (VALUES $markersValues),
       |hits AS (
       |  SELECT doc_id, cand_lang, prio, count(*) AS n_hits
       |  FROM toks JOIN markers ON lower(trim(word)) = marker
       |  GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT doc_id, cand_lang, n_hits, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY n_hits DESC, prio) AS rn
       |  FROM hits)
       |SELECT d.doc_id,
       |       coalesce(b.cand_lang, 'und') AS pred_lang,
       |       CAST(coalesce(b.n_hits, 0) AS BIGINT) AS n_hits
       |FROM documents d
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)""".stripMargin

  /** Quality gate of the docs_curated pipeline (this corpus scores
    * 750–972, so 800 splits it meaningfully). */
  val CuratedMinScoreMilli = 800

  /** Shared embeddings-oracle prelude body: int64 fixed-point
    * quantization + exact squared norms over relation `src`, mirroring
    * Embeddings.prepped — all constants come from [[Embeddings]] so
    * engine and oracle can't drift. */
  private def embQuantBody(src: String): String = {
    val sc = f"${Embeddings.Scale}%.1f"
    s"""q AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(round(CAST(x AS DOUBLE) * $sc) AS BIGINT)) AS qv
       |  FROM $src),
       |n AS (
       |  SELECT * FROM (
       |    SELECT vec_id, qv,
       |           CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nsq
       |    FROM q)
       |  WHERE nsq > 0)""".stripMargin
  }

  private val embCte: String = s"WITH ${embQuantBody("embeddings")}"

  /** SQL form of [[Embeddings.stepForBoundedK]] over the LIVE corpus
    * count — a scalar subquery, so the oracle derives the PQ codebook
    * step from the same row count the Spark side reads (the battery's
    * `batteryPqStep`), at ANY scale factor. pow2-ceil parity with the
    * Scala formula is swept in DialParitySpec's SQL-replica tests
    * (power-of-two inputs hit exact doubles; non-powers ceil up —
    * identical to highestOneBit semantics for every n ≤ 2^40). */
  private def pqStepExprSql(targetK: Long): String =
    s"(SELECT CAST(power(2, ceil(log2(GREATEST(1, count(*) // $targetK)))) AS BIGINT) FROM embeddings)"

  /** SQL form of [[Embeddings.planesFor]] over the live embeddings
    * count — the plane-count dial as a scalar expression. Paired with
    * a [[MaxOraclePlanes]]-row literal weight table + `p < planes`
    * filter: the Spark plane family is index-contiguous, so a longer
    * table serves any derived count ≤ MaxOraclePlanes. */
  private def planesExprSql(targetBucket: Long): String =
    s"LEAST(62, GREATEST(1, CAST(ceil(log2(GREATEST(1, (SELECT count(*) FROM embeddings) // $targetBucket))) AS INT)))"

  /** Parameterized PQ prelude: [[embCte]]'s quantization + an m-way
    * subvector split, id % step seed codebooks, and the exact-L2
    * argmin encoding (`enc`). `step` is a SQL expression — a literal
    * for fixed dials, [[pqStepExprSql]] for the corpus-derived ones. */
  private def pqCteFor(m: Int, step: String): String = {
    s"""$embCte,
       |sv AS (
       |  SELECT vec_id, j AS sub,
       |         qv[j * (len(qv) // $m) + 1 : (j + 1) * (len(qv) // $m)] AS sqv,
       |         CAST(list_sum(list_transform(
       |           qv[j * (len(qv) // $m) + 1 : (j + 1) * (len(qv) // $m)],
       |           x -> x * x)) AS BIGINT) AS snsq
       |  FROM q, unnest(range(0, $m)) AS u(j)
       |  WHERE len(qv) % $m = 0),
       |cents AS (
       |  SELECT sub, vec_id AS cid, sqv AS cqv, snsq AS cnsq
       |  FROM sv WHERE vec_id % $step = 0),
       |enc AS (
       |  SELECT s.vec_id, s.sub, c.cid AS code,
       |         s.snsq + c.cnsq - 2 * CAST(list_sum(list_transform(
       |           range(len(s.sqv)), i -> s.sqv[i+1] * c.cqv[i+1])) AS BIGINT)
       |           AS qdist
       |  FROM sv s JOIN cents c USING (sub)
       |  QUALIFY row_number() OVER (
       |    PARTITION BY s.vec_id, s.sub ORDER BY qdist, c.cid) = 1)""".stripMargin
  }

  /** The default-dial PQ prelude: [[Embeddings.PqSubspaces]] and the
    * corpus-derived bounded-K step (== Embeddings.CentroidStep at the
    * 500-vector verify corpus, 128 at sf0.1's 2000 — tracking exactly
    * what the battery's `batteryPqStep` derives at runtime). */
  private lazy val pqCte: String =
    pqCteFor(Embeddings.PqSubspaces, pqStepExprSql(PqCodebookK))

  /** ADC search oracle at the given PQ dials: per-query exact distance
    * table × the corpus code stream, summed per (query, neighbor),
    * top-3 by (adist, neighbor). Split body/finisher so the recall
    * oracle ([[oracleSql]] `emb_ann_recall`) can reuse the whole
    * pipeline as a CTE prelude. */
  private def ivfPqSql(m: Int, ivfStep: Long, pqStep: String, nprobe: Int = 1): String =
    s"""${ivfPqBodyCte(m, ivfStep, pqStep, nprobe)}
       |SELECT query_id, neighbor_id,
       |       CAST(row_number() OVER w AS BIGINT) AS rank, adist
       |FROM sc
       |WINDOW w AS (PARTITION BY query_id ORDER BY adist, neighbor_id)
       |QUALIFY row_number() OVER w <= 3""".stripMargin

  /** [[ivfPqSql]]'s pipeline through the summed ADC scores (`sc`) —
    * ends inside the WITH list so callers append their own CTEs.
    * `nprobe` replicates the query-side multi-probe: query cells come
    * from the top-nprobe rows of the same ranked cosine grid the
    * corpus assignment takes its top-1 from. */
  private def ivfPqBodyCte(m: Int, ivfStep: Long, pqStep: String, nprobe: Int = 1): String =
    s"""${pqCteFor(m, pqStep)},
       |icents AS (
       |  SELECT vec_id AS cid, qv AS cqv, nsq AS cnsq
       |  FROM n WHERE vec_id % $ivfStep = 0),
       |iac AS (
       |  SELECT n.vec_id, c.cid,
       |         CAST(list_sum(list_transform(range(len(n.qv)),
       |           j -> n.qv[j+1] * c.cqv[j+1])) AS BIGINT) AS d,
       |         n.nsq AS an, c.cnsq AS cn
       |  FROM n, icents c),
       |rankedcells AS (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY CAST(d AS DOUBLE) /
       |      (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) DESC, cid) AS rn
       |  FROM iac),
       |assign AS (SELECT vec_id, cid AS cell FROM rankedcells WHERE rn = 1),
       |qd AS (
       |  SELECT s.vec_id AS query_id, s.sub, c.cid AS code,
       |         s.snsq + c.cnsq - 2 * CAST(list_sum(list_transform(
       |           range(len(s.sqv)), i -> s.sqv[i+1] * c.cqv[i+1])) AS BIGINT)
       |           AS pd
       |  FROM sv s JOIN cents c USING (sub)
       |  WHERE s.vec_id % 20 = 0),
       |qassign AS (
       |  SELECT vec_id, cid AS cell FROM rankedcells
       |  WHERE rn <= $nprobe AND vec_id % 20 = 0),
       |cand AS (
       |  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id
       |  FROM qassign qa JOIN assign ca ON qa.cell = ca.cell
       |  WHERE ca.vec_id <> qa.vec_id),
       |sc AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |         CAST(sum(qd.pd) AS BIGINT) AS adist
       |  FROM cand
       |  JOIN enc e ON e.vec_id = cand.neighbor_id
       |  JOIN qd ON qd.query_id = cand.query_id
       |         AND qd.sub = e.sub AND qd.code = e.code
       |  GROUP BY 1, 2)""".stripMargin

  /** Exact squared-L2 top-k truth fragment over [[embQuantBody]]'s `q`
    * for the 1-in-20 query batch — the ONE definition every L2-truth
    * consumer (emb_topk_l2, both recall oracles) shares, so a k or
    * tie-break change cannot drift between "the same" ground truths.
    * UNFILTERED (`na`, not `n`): zero vectors are legitimate L2 points,
    * matching Embeddings.l2TopK — exact truth must be complete; index
    * paths that cannot hold them score misses against it. Ends inside
    * the WITH list (`na` → `tp` all exact sqdists → `tr` top-k). */
  private def l2TruthCte(k: Int): String =
    s"""na AS (
       |  SELECT vec_id, qv,
       |         CAST(coalesce(list_sum(list_transform(qv, x -> x * x)), 0) AS BIGINT) AS nsq
       |  FROM q),
       |tp AS (
       |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         qq.nsq + c.nsq - 2 * CAST(coalesce(list_sum(list_transform(range(len(qq.qv)),
       |           j -> qq.qv[j+1] * c.qv[j+1])), 0) AS BIGINT) AS sqd
       |  FROM na qq JOIN na c ON qq.vec_id % 20 = 0 AND c.vec_id <> qq.vec_id),
       |tr AS (
       |  SELECT query_id, neighbor_id FROM tp
       |  WINDOW w AS (PARTITION BY query_id ORDER BY sqd, neighbor_id)
       |  QUALIFY row_number() OVER w <= $k)""".stripMargin

  /** The probed + exact-reranked recall report at the given PQ dials —
    * the ONE definition behind emb_ann_recall_probed (m8, K16) and
    * emb_ann_recall_m16 (m16, K62): the full IVF-PQ pipeline at
    * nprobe = [[IvfPqNprobe]], its code-ranked top-[[IvfPqRefine]]
    * shortlist re-scored by exact int64 L2, scored against the shared
    * [[l2TruthCte]] exact top-3. */
  private def refinedRecallSql(m: Int, pqStep: String): String =
    s"""${ivfPqBodyCte(m, Embeddings.CentroidStep, pqStep,
           nprobe = IvfPqNprobe)},
       |shortlist AS (
       |  SELECT query_id, neighbor_id FROM sc
       |  WINDOW w AS (PARTITION BY query_id ORDER BY adist, neighbor_id)
       |  QUALIFY row_number() OVER w <= $IvfPqRefine),
       |fnd AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT s.query_id, s.neighbor_id,
       |           a.nsq + b.nsq - 2 * CAST(list_sum(list_transform(range(len(a.qv)),
       |             j -> a.qv[j+1] * b.qv[j+1])) AS BIGINT) AS sqd
       |    FROM shortlist s JOIN n a ON a.vec_id = s.query_id
       |                     JOIN n b ON b.vec_id = s.neighbor_id)
       |  WINDOW w AS (PARTITION BY query_id ORDER BY sqd, neighbor_id)
       |  QUALIFY row_number() OVER w <= 3),
       |${l2TruthCte(3)},
       |h AS (SELECT f.query_id, f.neighbor_id
       |      FROM fnd f JOIN tr ON f.query_id = tr.query_id
       |                        AND f.neighbor_id = tr.neighbor_id)
       |SELECT (SELECT count(DISTINCT query_id) FROM tr) AS n_queries,
       |       (SELECT count(*) FROM tr) AS n_truth,
       |       (SELECT count(*) FROM fnd) AS n_found,
       |       (SELECT count(*) FROM h) AS n_hit,
       |       CASE WHEN (SELECT count(*) FROM tr) > 0
       |            THEN CAST(round((SELECT count(*) FROM h) * 1000.0 /
       |                 (SELECT count(*) FROM tr)) AS BIGINT)
       |            ELSE CAST(1000 AS BIGINT) END AS recall_permille,
       |       (SELECT count(*) FROM tr) = 0 AS vacuous""".stripMargin

  /** One frontier cell: the full IVF-PQ pipeline at (m, pqStep, nprobe)
    * with optional exact-rerank refinement, scored against the shared
    * [[l2TruthCte]] exact top-3, emitted WITH its dial literals — the
    * building block `emb_ann_frontier` UNION ALLs over the 2×2×2 grid.
    * The refine arm is [[refinedRecallSql]]'s shortlist/rerank body;
    * the no-refine arm ranks by raw code distance (emb_ann_recall's
    * fnd). */
  private def frontierCellSql(
      m: Int, pqStep: String, nprobe: Int, refine: Option[Int]): String = {
    val fnd = refine match {
      case None =>
        s"""fnd AS (
           |  SELECT query_id, neighbor_id FROM sc
           |  WINDOW w AS (PARTITION BY query_id ORDER BY adist, neighbor_id)
           |  QUALIFY row_number() OVER w <= 3)""".stripMargin
      case Some(r) =>
        s"""shortlist AS (
           |  SELECT query_id, neighbor_id FROM sc
           |  WINDOW w AS (PARTITION BY query_id ORDER BY adist, neighbor_id)
           |  QUALIFY row_number() OVER w <= $r),
           |fnd AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT s.query_id, s.neighbor_id,
           |           a.nsq + b.nsq - 2 * CAST(list_sum(list_transform(range(len(a.qv)),
           |             j -> a.qv[j+1] * b.qv[j+1])) AS BIGINT) AS sqd
           |    FROM shortlist s JOIN n a ON a.vec_id = s.query_id
           |                     JOIN n b ON b.vec_id = s.neighbor_id)
           |  WINDOW w AS (PARTITION BY query_id ORDER BY sqd, neighbor_id)
           |  QUALIFY row_number() OVER w <= 3)""".stripMargin
    }
    s"""${ivfPqBodyCte(m, Embeddings.CentroidStep, pqStep, nprobe)},
       |$fnd,
       |${l2TruthCte(3)},
       |h AS (SELECT f.query_id, f.neighbor_id
       |      FROM fnd f JOIN tr ON f.query_id = tr.query_id
       |                        AND f.neighbor_id = tr.neighbor_id)
       |SELECT CAST($m AS BIGINT) AS m, CAST($nprobe AS BIGINT) AS nprobe,
       |       CAST(${refine.getOrElse(0)} AS BIGINT) AS refine,
       |       (SELECT count(*) FROM cand) AS n_candidates,
       |       (SELECT count(DISTINCT query_id) FROM tr) AS n_queries,
       |       (SELECT count(*) FROM tr) AS n_truth,
       |       (SELECT count(*) FROM fnd) AS n_found,
       |       (SELECT count(*) FROM h) AS n_hit,
       |       CASE WHEN (SELECT count(*) FROM tr) > 0
       |            THEN CAST(round((SELECT count(*) FROM h) * 1000.0 /
       |                 (SELECT count(*) FROM tr)) AS BIGINT)
       |            ELSE CAST(1000 AS BIGINT) END AS recall_permille,
       |       (SELECT count(*) FROM tr) = 0 AS vacuous""".stripMargin
  }

  private def pqSearchSql(m: Int, step: String): String =
    s"""${pqCteFor(m, step)},
       |qd AS (
       |  SELECT s.vec_id AS query_id, s.sub, c.cid AS code,
       |         s.snsq + c.cnsq - 2 * CAST(list_sum(list_transform(
       |           range(len(s.sqv)), i -> s.sqv[i+1] * c.cqv[i+1])) AS BIGINT)
       |           AS pd
       |  FROM sv s JOIN cents c USING (sub)
       |  WHERE s.vec_id % 20 = 0),
       |sc AS (
       |  SELECT qd.query_id, e.vec_id AS neighbor_id,
       |         CAST(sum(qd.pd) AS BIGINT) AS adist
       |  FROM enc e JOIN qd ON qd.sub = e.sub AND qd.code = e.code
       |  WHERE qd.query_id <> e.vec_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id,
       |       CAST(row_number() OVER w AS BIGINT) AS rank, adist
       |FROM sc
       |WINDOW w AS (PARTITION BY query_id ORDER BY adist, neighbor_id)
       |QUALIFY row_number() OVER w <= 3""".stripMargin

  // --- hex builders for the synthesized multimodal payloads (shared by
  // multimodal_decode and multimodal_wav so a fix can't miss a copy)
  private def idvCol(a: Column, b: Column): Column = call_function("div", a, b)
  private def hx2(c: Column): Column = lpad(lower(hex(c % 256)), 2, "0")
  private def beHex4(c: Column): Column = lpad(lower(hex(c)), 4, "0")
  private def beHex8(c: Column): Column = lpad(lower(hex(c)), 8, "0")
  private def leHex16(c: Column): Column =
    concat(hx2(c), hx2(idvCol(c, lit(256))))
  private def leHex32(c: Column): Column =
    concat(hx2(c), hx2(idvCol(c, lit(256))),
      hx2(idvCol(c, lit(65536))), hx2(idvCol(c, lit(16777216))))

  /** Verify-corpus embedding width — the oracle's literal weight
    * tables are emitted at exactly this many dims (the Spark side
    * indexes the same values from Embeddings.planeWeight at runtime,
    * any width). */
  val VerifyEmbDims: Int = 64

  /** Plane rows the oracle weight tables emit. The plane-count dial is
    * a scalar subquery ([[planesExprSql]]) filtered `p < planes`
    * against this longer literal table — the Spark plane family is
    * index-contiguous, so one 16-row table serves ANY derived count ≤
    * 16, i.e. corpora up to targetBucket · 2^16 vectors (2M at the
    * battery's 32-vector bucket target; the gate corpora top out at 7
    * planes). DialParitySpec pins planesFor staying ≤ this bound over
    * the certified corpus range. */
  val MaxOraclePlanes: Int = 16

  /** Max per-band bits the scaled-SimHash oracle's emitted hash-word
    * columns cover: 24 × 16 bands = 384-bit signatures = 7 emitted
    * 60-bit words (two sha256 digests per shingle) — corpora up to
    * 2^21 docs. The live band width is a scalar subquery over the
    * documents count (`shdial` in [[simhashScaledSql]]). */
  val MaxOracleBandBits: Int = 24

  /** DuckDB literal weight table for `globalPlanes` sign-LSH planes ×
    * the verify corpus's 64 dims: a nested list literal holding the
    * SAME splitmix-derived values as Embeddings.planeWeight (the
    * single source for both engines — a PRNG of this quality is
    * driver-side arithmetic, not portable SQL, so the VALUES
    * interpolate rather than the formula). Indexed W[p+1][j+1]. */
  private def weightTableSql(globalPlanes: Int): String =
    (0 until globalPlanes).map { p =>
      (0 until VerifyEmbDims).map(j => Embeddings.planeWeight(p, j))
        .mkString("[", ", ", "]")
    }.mkString("[", ", ", "]")

  /** Shared LSH bucket body (table-0 sign-LSH over the `n` CTE) —
    * mirrors Embeddings.bucketOf with the plane count derived from the
    * LIVE base-corpus count (`lshdial`, == planesFor on the Spark
    * side: the battery's `batteryKnnPlanes`), filtered against the
    * [[MaxOraclePlanes]]-row literal weight table. The count subquery
    * reads the BASE embeddings table even under the twin prelude —
    * exactly what batteryKnnPlanes does (twins add ~2%, inside
    * planesFor's rounding). */
  private lazy val lshBucketsBody: String =
    s"""lshdial AS (SELECT ${planesExprSql(LshTargetBucket)} AS np),
       |bits AS (
       |  SELECT n.vec_id, p.p,
       |         CASE WHEN CAST(list_sum(list_transform(range(len(n.qv)),
       |                j -> n.qv[j+1] * (${weightTableSql(MaxOraclePlanes)})[p.p+1][j+1])) AS BIGINT) > 0
       |              THEN (1 << p.p) ELSE 0 END AS bv
       |  FROM n, range($MaxOraclePlanes) p(p), lshdial
       |  WHERE p.p < lshdial.np),
       |buckets AS (SELECT vec_id, CAST(sum(bv) AS BIGINT) AS bucket FROM bits GROUP BY 1),
       |nb AS (SELECT n.vec_id, n.qv, n.nsq, b.bucket FROM n JOIN buckets b USING (vec_id))""".stripMargin

  /** Shared LSH prelude (quantized vectors + buckets) for the
    * emb_ann_lsh oracle. */
  private lazy val lshBucketsCte: String = s"$embCte,\n$lshBucketsBody"

  /** Planted-twin dials for the emb_neardup / emb_dedup_clusters
    * fixture augmentation (see [[twinEmbSrc]]): every 83rd vector gets
    * an EXACT copy (id → −2·id−1), every 89th a first-coordinate-zeroed
    * NEAR copy (id → −2·id−2, cosine = √(1 − x₀²/‖v‖²) ≈ 0.99 for a
    * typical 64-dim vector). Negative ids of distinct parity are
    * disjoint from each other and from every REAL id at any soak
    * replica offset — and a twin transforms WITH its replica under the
    * soak's signed permutation, so each replica contributes exactly its
    * own twin pairs (linear growth by construction). */
  val EmbTwinExactMod: Long = 83L
  val EmbTwinNearMod: Long = 89L

  /** Quantization prelude over the corpus UNION its planted twins —
    * the twin-fed analogue of [[embCte]], shared by every oracle whose
    * query reads [[twinEmbSrc]]. */
  private val twinEmbCte: String =
    s"""WITH e0 AS (SELECT vec_id, embedding FROM embeddings),
       |e AS (
       |  SELECT vec_id, embedding FROM e0
       |  UNION ALL
       |  SELECT -2 * vec_id - 1 AS vec_id, embedding
       |  FROM e0 WHERE vec_id % $EmbTwinExactMod = 0
       |  UNION ALL
       |  SELECT -2 * vec_id - 2 AS vec_id,
       |         list_transform(range(len(embedding)),
       |           j -> CASE WHEN j = 0 THEN 0.0
       |                ELSE CAST(embedding[j+1] AS DOUBLE) END) AS embedding
       |  FROM e0 WHERE vec_id % $EmbTwinNearMod = 0),
       |${embQuantBody("e")}""".stripMargin

  /** emb_neardup / emb_dedup_clusters source: the LSH prelude over the
    * corpus UNION its planted twins. */
  private lazy val twinLshBucketsCte: String =
    s"$twinEmbCte,\n$lshBucketsBody"

  /** Fixed-point cosine threshold of the emb_neardup query — a real
    * near-duplicate bar (SemDeDup's 0.95): the fixture corpus has no
    * organic mass here (max pairwise cosine ≈ 0.51/0.60 at
    * sf0.01/sf0.1), so the battery plants twins ([[twinEmbSrc]]) for
    * the differential test. An honest threshold is also what keeps the
    * soak gate's premise: at 0.35 (the old dial) random 64-dim
    * cross-replica cosines (σ = 1/√64, so 0.35 ≈ 2.8σ) generate chance
    * pairs and the output grows superlinearly by corpus PROPERTY, not
    * plan defect — the 10× soak measured 15.8×. At 0.95 = 7.6σ the
    * chance tail is nil. */
  val NearDupCosMicro: Long = 950000L

  // (emb_semdedup briefly kept a 0.35 within-cell dial on the "output
  // is one row per vector" argument — the 100× spot soak showed the
  // CONFIRMED-PAIR join frame growing ×156 anyway, chance tail again:
  // replicas share cells, and 2.8σ cross-replica cosines pass. It now
  // runs the same twin-fed 0.95 contract as emb_neardup.)

  /** emb_neardup oracle — shared with the emb_dedup_clusters closure. */
  private lazy val embNearDupSql: String =
    s"""$twinLshBucketsCte,
       |p AS (
       |  SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       |         CAST(list_sum(list_transform(range(len(a.qv)),
       |           j -> a.qv[j+1] * c.qv[j+1])) AS BIGINT) AS d,
       |         a.nsq AS an, c.nsq AS cn
       |  FROM nb a JOIN nb c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
       |scored AS (
       |  SELECT vec_a, vec_b,
       |         CAST(round(CAST(d AS DOUBLE) /
       |           (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE)))
       |           * 1000000.0) AS BIGINT) AS cos_x1e6
       |  FROM p)
       |SELECT vec_a, vec_b, cos_x1e6 FROM scored
       |WHERE cos_x1e6 >= $NearDupCosMicro""".stripMargin

  // -------------------------------------------- scaled-mode battery dials
  //
  // The *_scaled queries run the SAME operators with their 100 TB dials
  // turned — band entropy / bucket granularity / centroid rate derived
  // from corpus size by the library's sizing helpers instead of the
  // frozen small-corpus defaults. Each dial output is pinned here as a
  // constant so the DuckDB oracle text interpolates the identical value
  // (engine and oracle can never drift), mirroring lshBucketsCte.

  /** sf0.1 fixture size the IVF dial is derived from (embeddings.parquet
    * holds 2,000 vectors). */
  val ScaledEmbCorpus: Long = 2000L

  /** Scaled SimHash: 16 bands × simHashBandBitsFor-sized band entropy.
    * Band bits are dialed for the sf0.01 verify corpus (500 docs → 12
    * bits); at sf0.1 that still caps expected unrelated-pair collisions
    * at bands·C(n,2)/2^12 ≈ 10·n — linear, vs the default 4-bit mode's
    * ~64 % of ALL pairs. The signature hash is [[NearDup.Sha256Family]]
    * (not xxhash64): this mode's recall is PROBABILISTIC, so the oracle
    * must replicate the banded candidate generation itself — sha256 is
    * bit-identical across engines, xxhash64 exists only in Spark. */
  val ScaledSimHashBands: Int = NearDup.SimHashBands
  val ScaledSimHashBandBits: Int = NearDup.simHashBandBitsFor(500L)
  val ScaledSimHashWidth: Int = ScaledSimHashBands * ScaledSimHashBandBits

  /** Banded MinHash: r = 2 rows per band, b = k/r = 8 bands — the
    * precision dial on the flagship dedup path (see
    * [[NearDup.minHashBandedCandidates]]: at r = 1 a J = 0.3 pair is a
    * candidate with P ≈ 99.7 %; at r = 2 P ≈ 53 %, and P falls
    * geometrically with J, while J ≥ 0.8 recall stays ≥ 99.97 %).
    * Probabilistic recall ⇒ the battery uses a cross-engine sha256
    * word family so the oracle replicates the banded candidate
    * generation itself, not just ground truth — the SLICED family
    * ([[NearDup.SlicedSha256MinHashFamily]]: four 60-bit words per
    * digest), which costs ⌈k/4⌉ digests per shingle instead of k. */
  val BandedMinHashRows: Int = 2

  /** Inverted-index df cap for the battery, as a CORPUS FRACTION:
    * maxDf = |docs| / 10. Words in more than 10 % of documents are
    * stopwords — no retrieval signal, and their posting cell is the
    * corpus-growth hazard the dial exists for. Corpus-relative (the
    * form real indexers use) so the cap fires identically at every
    * scale factor — the fixture's 31-word vocabulary is 30 ~78 %-df
    * stopwords + 1 rare word, so an absolute cap tuned at sf0.01
    * would flip behavior at sf0.1. The |docs| count is one scalar
    * metadata-only job; the oracle replicates the cap as a scalar
    * subquery. */
  val InvertedIndexMaxDfPctDen: Long = 10L

  // ------- runtime-derived dial targets (and their oracle constants)
  //
  // Every ANN/banding dial below is derived by the BATTERY QUERY at
  // runtime from the actual corpus row count (a parquet metadata-only
  // count job) — the 100 TB contract: the dial turns as the corpus
  // grows, so bucket density / codebook size / band entropy stay at
  // their design point and candidate joins stay linear (the 3× soak
  // measured 9× candidate growth when these were frozen constants).
  // The DuckDB oracle cannot re-derive a dial from data (its SQL is
  // generated before the corpus is read), so each oracle interpolates
  // the dial VALUE AT THE VERIFY CORPUS (500 docs / 500 vectors at
  // sf0.01) — and DialParitySpec pins runtime-derivation(500) ==
  // oracle constant, so the two sides can never drift silently.

  /** The sf0.01/sf0.001 verify-corpus row counts the oracle-side dial
    * constants are evaluated at. */
  val VerifyDocCorpus: Long = 500L
  val VerifyEmbCorpus: Long = 500L

  /** Battery sign-LSH bucket-size target: planesFor(500, 32) = 4 ==
    * Embeddings.Planes, the value every 4-plane oracle CTE
    * (lshBucketsCte, knnGraphCte) interpolates. */
  val LshTargetBucket: Long = 32L

  /** Battery PQ codebook-size target: stepForBoundedK(500, 16) = 32 ==
    * Embeddings.CentroidStep, the value pqCteFor interpolates. */
  val PqCodebookK: Long = 16L

  /** m16 PQ codebook-size target: stepForBoundedK(500, 62) = 8 ==
    * ScaledPqStep (K≈62 — the measured-recall config). */
  val ScaledPqCodebookK: Long = 62L

  /** IVF-PQ probe dial for the probed battery configs — sized by the
    * recall measurement at the verify corpus: home-cell-only candidates
    * hold 253‰ of the true L2 top-3, nprobe=4 holds 547‰ (the
    * emb_ann_recall / emb_ann_recall_probed pair records the lift). */
  val IvfPqNprobe: Int = 4

  /** Exact-rerank shortlist size (FAISS-style refinement): PQ's top-24
    * per query re-scored by exact int64 L2 before the final top-3 —
    * recovers what the m=8 code approximation misranks within the
    * probed candidates (measured 173‰ → 320‰ at the verify corpus). */
  val IvfPqRefine: Int = 24

  /** Scaled sign-LSH ANN: planes for ≈16-vector buckets (the finer
    * 100 TB granularity vs the default ≈32), 2 independent hyperplane
    * families for recall. lshScaledSql derives the plane count from the
    * live corpus with `planesExprSql(ScaledLshTargetBucket)` (5 at the
    * 500-vector verify corpus). */
  val ScaledLshTargetBucket: Long = 16L
  val ScaledLshTables: Int = 2

  /** Corpus-derived plane count every knnGraph battery consumer
    * shares (emb_knn_graph, the graph family, emb_contrastive):
    * planesFor over the live embedding count at the default
    * ≈32-vector bucket target — == Embeddings.Planes at the verify
    * corpus, so the 4-plane knnGraphCte oracles hold. (The twin-fed
    * near-dup queries also dial from the BASE corpus count — twins add
    * ~2%, inside planesFor's rounding — keeping the oracle's
    * interpolated plane table exact.) */
  private def batteryKnnPlanes(s: SparkSession, dir: String): Int =
    Embeddings.planesFor(T(s, dir, "embeddings").count(), LshTargetBucket)

  /** The embeddings corpus plus planted twins — the emb_neardup /
    * emb_dedup_clusters input (dials: [[EmbTwinExactMod]] /
    * [[EmbTwinNearMod]]; rationale: [[NearDupCosMicro]] scaladoc).
    * Twin ids are negative with distinct parity (−2·id−1 exact,
    * −2·id−2 near): disjoint from each other and from every real id at
    * any soak replica offset. */
  private def twinEmbSrc(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val exact = base.where(col("vec_id") % EmbTwinExactMod === 0)
      .select((col("vec_id") * -2 - 1).as("vec_id"), col("embedding"))
    val near = base.where(col("vec_id") % EmbTwinNearMod === 0)
      .select((col("vec_id") * -2 - 2).as("vec_id"),
        transform(col("embedding"),
          (x, j) => when(j === lit(0), lit(0.0f)).otherwise(x)).as("embedding"))
    base.unionByName(exact).unionByName(near)
  }

  /** The deterministic dirty feed of the er_link_* queries: one typo
    * per customer — the character at 1 + (custkey mod len) becomes 'q'
    * ('x' if it already was 'q'; the fixture names contain neither, so
    * every dirty name sits at exactly edit 1 from its origin). Ids
    * negative (−custkey−1), disjoint from the clean roster. */
  /** Payload corpus + planted re-encode twins for the pHash family —
    * ONE definition behind multimodal_phash, multimodal_phash_scaled,
    * and multimodal_phash_recall (the SQL oracle's hex-splice twin in
    * `phashSql` must mirror exactly this construction, so the Spark
    * side must not fork). Twin ids are NEGATIVE (-id-1): disjoint from
    * every real id at any soak scale (replica offsets are positive
    * multiples of Soak.IdOffset — a +10^7 twin offset would collide
    * with replica r+1's ids and conflate payloads under the candidate
    * gate). The twin overwrites ONE byte in place at offset 11 — the
    * byte-level corruption a pixel tweak / bit-rot produces, the
    * perturbation class phash exists for. */
  private[graft] def phashCorpus(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = T(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val twins = base.where(col("doc_id") % 101 === 0)
      .select((-col("doc_id") - 1L).as("doc_id"),
        overlay(col("payload"), lit(Array[Byte](0x00)), lit(11)).as("payload"))
    (base, twins)
  }

  private[graft] def dirtyCustomers(s: SparkSession, dir: String): DataFrame = {
    val nm = col("c_name")
    val pos = (col("c_custkey") % length(nm).cast("long")).cast("int") + 1
    val orig = nm.substr(pos, lit(1))
    val rep = when(orig === lit("q"), lit("x")).otherwise(lit("q"))
    T(s, dir, "customer").select(
      (-col("c_custkey") - 1).as("dirty_id"),
      concat(nm.substr(lit(1), pos - 1), rep,
        nm.substr(pos + 1, length(nm))).as("name"))
  }

  /** Shared IVF-assignment oracle fragment (over [[embCte]]'s `n`):
    * id-mod-step seed centroids + the argmax-cosine cell per vector,
    * ties → smaller cell id — the exact contract of
    * [[graft.operators.Embeddings.ivfAssign]] at default dials. Used
    * by the emb_semdedup and docs_coverage_sample oracles. */
  private val ivfAssignCte: String =
    s"""cents AS (
       |  SELECT vec_id AS cid, qv AS cqv, nsq AS cnsq
       |  FROM n WHERE vec_id % ${Embeddings.CentroidStep} = 0),
       |ac AS (
       |  SELECT n.vec_id, c.cid,
       |         CAST(list_sum(list_transform(range(len(n.qv)),
       |           j -> n.qv[j+1] * c.cqv[j+1])) AS BIGINT) AS d,
       |         n.nsq AS an, c.cnsq AS cn
       |  FROM n, cents c),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY CAST(d AS DOUBLE) /
       |        (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) DESC, cid) AS rn
       |    FROM ac) WHERE rn = 1)""".stripMargin

  /** DuckDB replica of Er.deletionKeys / deletionKeys2 over relation
    * `rel`: one row per (id, name, blocking key) — the name plus every
    * single-char deletion (depth 1) plus every two-char deletion
    * (depth 2), distinct. DuckDB `range(a, b)` is empty when a ≥ b, so
    * short names need no guards. */
  private def erKeysSql(
      rel: String, idExpr: String, nameExpr: String, depth: Int = 1): String = {
    require(depth == 1 || depth == 2, s"depth must be 1 or 2, got $depth")
    val del1 =
      s"""list_transform(range(1, len($nameExpr) + 1),
         |           i -> substr($nameExpr, 1, i - 1) || substr($nameExpr, i + 1))""".stripMargin
    val keys =
      if (depth == 1) s"list_append(\n         $del1,\n         $nameExpr)"
      else
        s"""list_concat(list_append(
           |         $del1,
           |         $nameExpr),
           |         flatten(list_transform(range(1, len($nameExpr)), i ->
           |           list_transform(range(i + 1, len($nameExpr) + 1), j ->
           |             substr($nameExpr, 1, i - 1) ||
           |             substr($nameExpr, i + 1, j - i - 1) ||
           |             substr($nameExpr, j + 1)))))""".stripMargin
    s"""SELECT $idExpr AS id, $nameExpr AS name,
       |       unnest(list_distinct($keys)) AS key
       |FROM $rel WHERE $nameExpr IS NOT NULL""".stripMargin
  }

  /** Shared er_link_* oracle body: the dirty feed (mirrors
    * [[dirtyCustomers]] exactly), both key tables at the given blocking
    * depth, and the confirmed linkage `links(dirty_id, c_custkey,
    * dist)` at `maxEdit`. */
  private def erLinkBodySql(maxEdit: Int = 1): String =
    s"""d AS (
       |  SELECT -c_custkey - 1 AS dirty_id,
       |         1 + (c_custkey % len(c_name)) AS p, c_name AS nm
       |  FROM customer),
       |dn AS (
       |  SELECT dirty_id,
       |         substr(nm, 1, p - 1) ||
       |           (CASE WHEN substr(nm, p, 1) = 'q' THEN 'x' ELSE 'q' END) ||
       |           substr(nm, p + 1) AS name
       |  FROM d),
       |lk AS (${erKeysSql("dn", "dirty_id", "name", maxEdit)}),
       |rk AS (${erKeysSql("customer", "c_custkey", "c_name", maxEdit)}),
       |cand AS (
       |  SELECT DISTINCT l.id AS dirty_id, r.id AS c_custkey,
       |         l.name AS nl, r.name AS nr
       |  FROM lk l JOIN rk r ON l.key = r.key),
       |links AS (
       |  SELECT dirty_id, c_custkey,
       |         CAST(levenshtein(nl, nr) AS BIGINT) AS dist
       |  FROM cand WHERE levenshtein(nl, nr) <= $maxEdit)""".stripMargin

  /** Corpus-derived PQ codebook step shared by the PQ battery family
    * — == Embeddings.CentroidStep at the verify corpus. */
  private def batteryPqStep(s: SparkSession, dir: String): Long =
    Embeddings.stepForBoundedK(T(s, dir, "embeddings").count(), PqCodebookK)

  /** The 100 TB SimHash config at ONE definition — shared by the
    * production entry (neardup_simhash_scaled) and its recall report
    * (neardup_simhash_recall), so a dial change can never leave the
    * report measuring a config the named query no longer runs.
    *
    * Band entropy from the LIVE corpus count (== ScaledSimHashWidth at
    * the verify corpus): collisions between unrelated docs stay O(n)
    * as the corpus grows instead of n²/2^frozen-bits. The sha256
    * family sources extra digests past 240 bits (word w >= 4 slices
    * sha256(s || '#d')), so band bits track the corpus to the 60-bit
    * join-key ceiling (~2^57 docs) — the 100x soak is what showed the
    * old 15-bit single-digest cap saturating (1202x candidate growth
    * at 50k docs; 19 live bits brings the cross-replica noise floor
    * back under the linear envelope). */
  private def scaledSimHashPairs(docs: DataFrame): DataFrame = {
    val bits = math.min(
      NearDup.simHashBandBitsFor(docs.count()),
      NearDup.Sha256Family.maxWidthBits / ScaledSimHashBands)
    val width = ScaledSimHashBands * bits
    NearDup.simHashPairs(docs,
      widthBits = width, bands = ScaledSimHashBands,
      hammingMax = width, family = NearDup.Sha256Family)
  }

  /** Scaled IVF ANN: centroid step from corpus size for a bounded
    * K ≈ 64 ≈ √n quantizer, probing the top-2 cells. */
  val ScaledIvfStep: Long = Embeddings.centroidStepFor(ScaledEmbCorpus, 64L)
  val ScaledIvfNprobe: Int = 2

  /** Scaled PQ: finer subspaces + bigger codebooks — the two accuracy
    * dials. Measured ADC recall@3 vs exact L2 on the sf0.01 corpus
    * (uniform synthetic — the quantizer worst case; real embedding
    * corpora cluster and fare far better): default (m=8, step=32)
    * 0.19; m=16 same codebooks 0.16→0.41 depending on K; this config
    * (m=16, step=8 → K≈62/subspace) 0.47. Subspace count is the
    * dominant dial on spread-out data — finer subdivision cuts
    * per-subspace distortion — while K alone saturates (step 32→2
    * moved recall only 0.19→0.25). */
  val ScaledPqSubspaces: Int = 16
  val ScaledPqStep: Long = 8L

  // ------------------------------------------------- curation battery dials

  /** Benchmark membership rule for the decontamination query: every
    * 50th doc plays the held-out eval set (2 % of the corpus — an eval
    * benchmark is small, which is what makes the broadcast side of
    * [[graft.operators.Curation.contaminationHits]] sound). */
  val BenchmarkEvery: Long = 50L

  /** Fuzzy-decontamination benchmark split: 1-in-7 (denser than the
    * exact variant's 1-in-50) so the fixture's planted near-dup pairs
    * have crossings into the proxy eval set — the confirmed-hit path
    * must actually fire for the oracle to mean anything. */
  val FuzzyBenchmarkEvery: Long = 7L

  /** CMS heavy-hitter cut for `text_heavy_hitters`: catches the ~30
    * common fixture words (850+ occurrences at sf0.01) and excludes
    * the rare tail. */
  val HeavyHitterThreshold: Long = 500L

  /** Trailing horizon for the rolling-aggregate query: 7 days in
    * microseconds (the fixture spans 30 days, so frames genuinely
    * slide). Interpolated into the oracle's RANGE bound. */
  val RollingHorizonMicros: Long = 7L * 24 * 3600 * 1000000

  /** Time-bin width for the interval-join query: 6 h — near the median
    * span of the user-0 session windows it joins against, so each
    * window explodes to a handful of bins. */
  val IntervalBinMicros: Long = 6L * 3600 * 1000000

  /** Attribution horizon for each funnel stage: 24 h. */
  val FunnelTolMicros: Long = 24L * 3600 * 1000000

  /** Deterministic per-language keep rates (permille) for the
    * stratified-sampling query: downsample the over-represented head
    * language hard, keep the tail. Shared with the oracle VALUES
    * literal so engine and oracle can never drift. */
  val SampleRates: Seq[(String, Int)] = Seq(
    "de" -> 450, "en" -> 200, "es" -> 450, "fr" -> 450, "zh" -> 700)

  /** DuckDB VALUES literal of [[SampleRates]]. */
  private val sampleRatesValues: String =
    SampleRates.map { case (l, r) => s"('$l', $r)" }.mkString(", ")

  /** Per-source token budgets for the mixture query: src0 is excluded
    * outright, src1 capped hard; everything else takes the default.
    * Each sf0.01 source holds ~1,300 tokens, so the 600-token default
    * genuinely truncates every stratum. Shared with the oracle VALUES
    * literal. */
  val MixtureBudgets: Seq[(String, Long)] = Seq("src0" -> 0L, "src1" -> 300L)
  val MixtureDefaultBudget: Long = 600L
  val MixtureBuckets: Int = 64

  /** Token budget per pack for the sequence-packing query. */
  val PackBudgetTokens: Long = 512L

  /** Q18-shape HAVING threshold: sum(l_quantity) per order must exceed
    * this. 250 keeps the subquery selective (~1.4% of orders at
    * sf0.01) while leaving enough qualifiers that the top-100 limit
    * actually bites. */
  val Q18MinQty: Int = 250

  /** percentile_approx accuracy dial: rank error ≤ n/accuracy. */
  val ApproxQuantileAccuracy: Int = 10000

  /** BPE merge rounds for the vocab-induction query. */
  val BpeMergeRounds: Int = 8

  /** Bag-of-terms query for the retrieval query (fixture-vocab words). */
  val SearchTerms: Seq[String] = Seq("spark", "hash", "window")

  /** Fixed-count sample size per source stratum. */
  val FixedSamplePerSource: Int = 5

  /** Per-domain document cap for docs_domain_cap (fixture sources play
    * the registrable domain; 25+ docs per source at every sf, so the
    * cap bites at each scale). */
  val DomainCapK: Int = 10

  /** Eval-split permille cuts: hash buckets [0, 50) → val,
    * [50, 100) → test, rest train. */
  val SplitValPermille: Int = 50
  val SplitTestPermille: Int = 50

  /** docs_curated oracle, split into CTE body + final select so the
    * training-set oracle can nest the whole pipeline as a CTE. */
  private lazy val curatedCtesSql: String =
    s"""qual AS ($qualitySql),
       |lang AS ($langidSql),
       |p AS ($neardupSql),
       |e AS (SELECT doc_a AS u, doc_b AS v FROM p
       |      UNION SELECT doc_b, doc_a FROM p),
       |reach(u, v) AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
       |noncanon AS (
       |  SELECT u AS doc_id FROM reach GROUP BY u
       |  HAVING u <> least(u, min(v))),
       |firsthash AS (
       |  SELECT min(doc_id) AS doc_id
       |  FROM (SELECT doc_id, sha256(text) AS h FROM documents)
       |  GROUP BY h)""".stripMargin

  private lazy val curatedSelectSql: String =
    s"""SELECT d.doc_id, lang.pred_lang, qual.n_tokens, qual.score_milli
       |FROM documents d
       |JOIN qual USING (doc_id) JOIN lang USING (doc_id)
       |WHERE qual.score_milli >= $CuratedMinScoreMilli
       |  AND lang.pred_lang <> 'und'
       |  AND d.doc_id IN (SELECT doc_id FROM firsthash)
       |  AND d.doc_id NOT IN (SELECT doc_id FROM noncanon)""".stripMargin

  /** Shared retrieval-oracle prelude: token postings of [[SearchTerms]]
    * with per-doc length and the corpus scalars. */
  private lazy val searchPreludeSql: String =
    s"""$toksCte,
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
       |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |hits AS (
       |  SELECT t.doc_id, t.tf, f.df, d.dl FROM tf t
       |  JOIN dfreq f USING (word) JOIN dl d USING (doc_id)
       |  WHERE t.word IN (${SearchTerms.map(t => s"'$t'").mkString(", ")}))""".stripMargin

  /** The BM25 × linear-idf per-term score in the oracle's column
    * aliases, coefficients interpolated from [[Relevance]]. */
  private val bm25TermScoreOracle: String =
    s"""(((${Relevance.CoefNum} * tf * s.sdl * 1000) //
       |                    (${Relevance.CoefTf} * tf * s.sdl + ${Relevance.CoefConst} * s.sdl + ${Relevance.CoefDl} * dl * s.n))
       |                   * s.n) // df""".stripMargin

  /** Neighbors per vector in the k-NN graph query. */
  val KnnGraphK: Int = 3

  /** Synchronous fixed-point PageRank iterations over the k-NN graph. */
  val PageRankIters: Int = 5

  /** Synchronous label-propagation rounds over the k-NN graph. */
  val LpaIters: Int = 4

  /** BFS hop bound for graph_bfs (seeds = vec_id % 50 = 0). */
  val BfsMaxHops: Int = 3

  /** Selection size of docs_sample_weighted. */
  val WeightedSampleK: Int = 120

  /** docs_coverage_sample keeps this many top-quality docs per IVF
    * cell (3: exercises rank ordering beyond argmax while staying
    * well under the ≈CentroidStep per-cell population). */
  val CoveragePerCell: Int = 3

  /** text_keywords: top-k size and TextRank rounds. */
  val KeywordsK: Int = 25
  val KeywordsIters: Int = 4

  /** text_tfidf_sim: df cap and cosine floor (×10⁶). */
  val TfidfMaxDf: Long = 100L
  val TfidfMinCos: Long = 250000L

  /** Unrolled deterministic-LPA oracle over the `knn` CTE — the same
    * min-label-tie-break argmax as [[graft.operators.Graph.labelPropagation]],
    * replayed [[LpaIters]] times. */
  private lazy val lpaSql: String = {
    val rounds = (1 to LpaIters).map { i =>
      s"""v$i AS (
         |  SELECT s.dst, l.c, count(*) AS n
         |  FROM sym s JOIN l${i - 1} l ON l.id = s.src GROUP BY 1, 2),
         |l$i AS (
         |  SELECT dst AS id, c FROM (
         |    SELECT dst, c, row_number() OVER (PARTITION BY dst
         |      ORDER BY n DESC, c ASC) AS rn FROM v$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$knnGraphCte,
       |e0 AS (
       |  SELECT DISTINCT least(vec_id, neighbor_id) AS lo,
       |         greatest(vec_id, neighbor_id) AS hi
       |  FROM knn WHERE vec_id <> neighbor_id),
       |sym AS (SELECT lo AS src, hi AS dst FROM e0
       |        UNION ALL SELECT hi AS src, lo AS dst FROM e0),
       |nodes AS (SELECT DISTINCT src AS id FROM sym),
       |l0 AS (SELECT id, id AS c FROM nodes),
       |$rounds
       |SELECT id AS vec_id, c AS community FROM l$LpaIters""".stripMargin
  }

  /** Unrolled multi-source BFS oracle over the `knn` CTE — dense
    * min-relaxation per round (equivalent to the operator's frontier
    * iteration), replayed [[BfsMaxHops]] times. */
  private lazy val bfsSql: String = {
    val rounds = (1 to BfsMaxHops).map { i =>
      s"""d$i AS (
         |  SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT id, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, d.dist + 1 AS dist
         |    FROM e JOIN d${i - 1} d ON d.id = e.src)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""$knnGraphCte,
       |e AS (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
       |d0 AS (SELECT DISTINCT vec_id AS id, CAST(0 AS BIGINT) AS dist
       |       FROM embeddings WHERE vec_id % 50 = 0),
       |$rounds
       |SELECT id AS vec_id, dist AS hops FROM d$BfsMaxHops""".stripMargin
  }

  /** Unrolled TextRank oracle — the [[graft.operators.Graph.pageRank]]
    * integer update over the adjacent-token co-occurrence graph (edges
    * via the text_lm_bigram array trick; tokens are \s+-split, so the
    * space join in the pair string is unambiguous), replayed
    * [[KeywordsIters]] times, top [[KeywordsK]] by (pr, word). */
  private lazy val keywordsSql: String = {
    val s = graft.operators.Graph.PrScale
    val keep = graft.operators.Graph.DampingPctKeep
    val base = (100L - keep) * s / 100L
    val rounds = (1 to KeywordsIters).map { i =>
      s"""pr$i AS (
         |  SELECT n.id,
         |         CAST($base + ($keep * coalesce(s$i.c, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.pr // d.dg) AS c
         |    FROM sym e JOIN pr${i - 1} p ON p.id = e.src
         |               JOIN deg d ON d.src = e.src
         |    GROUP BY 1) s$i ON s$i.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH arr AS (
       |  SELECT list_transform($tokList, w -> lower(trim(w))) AS a
       |  FROM documents),
       |e0 AS (
       |  SELECT DISTINCT
       |    least(split_part(b, ' ', 1), split_part(b, ' ', 2)) AS lo,
       |    greatest(split_part(b, ' ', 1), split_part(b, ' ', 2)) AS hi
       |  FROM (
       |    SELECT unnest(list_transform(range(1, len(a)),
       |      i -> a[i] || ' ' || a[i+1])) AS b
       |    FROM arr WHERE len(a) >= 2)
       |  WHERE split_part(b, ' ', 1) <> split_part(b, ' ', 2)),
       |sym AS (SELECT lo AS src, hi AS dst FROM e0
       |        UNION ALL SELECT hi AS src, lo AS dst FROM e0),
       |nodes AS (SELECT DISTINCT src AS id FROM sym),
       |deg AS (SELECT src, count(*) AS dg FROM sym GROUP BY 1),
       |pr0 AS (SELECT id, CAST($s AS BIGINT) AS pr FROM nodes),
       |$rounds
       |SELECT id AS word, pr AS pr_x1e12 FROM pr$KeywordsIters
       |ORDER BY pr DESC, word LIMIT $KeywordsK""".stripMargin
  }

  /** Squared z-score cutoff (milli²) the events_outliers oracle
    * interpolates — single-sourced from the operator default. */
  private val OutlierThresh2: Long =
    Sessions.DefaultZThreshMilli * Sessions.DefaultZThreshMilli

  /** Feature-hashing bucket count of text_hashed_features. */
  val HashedFeatureBuckets: Int = 64

  /** knn-graph CTE chain ending in `knn` (vec_id, neighbor_id,
    * cos_x1e6, rnk ≤ k) — shared by the emb_knn_graph oracle and the
    * graph_pagerank oracle's edge list. */
  private lazy val knnGraphCte: String =
    s"""$lshBucketsCte,
       |p AS (
       |  SELECT a.vec_id, c.vec_id AS neighbor_id,
       |         CAST(list_sum(list_transform(range(len(a.qv)),
       |           j -> a.qv[j+1] * c.qv[j+1])) AS BIGINT) AS d,
       |         a.nsq AS an, c.nsq AS cn
       |  FROM nb a JOIN nb c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
       |scored AS (
       |  SELECT vec_id, neighbor_id,
       |         CAST(d AS DOUBLE) /
       |           (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) AS cosd
       |  FROM p),
       |ranked AS (
       |  SELECT vec_id, neighbor_id,
       |         CAST(round(cosd * 1000000.0) AS BIGINT) AS cos_x1e6,
       |         CAST(row_number() OVER (PARTITION BY vec_id
       |           ORDER BY cosd DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM scored),
       |knn AS (
       |  SELECT vec_id, neighbor_id, cos_x1e6, rnk FROM ranked
       |  WHERE rnk <= $KnnGraphK)""".stripMargin

  /** Unrolled fixed-point PageRank oracle over the `knn` CTE — the
    * same integer update as [[graft.operators.Graph.pageRank]],
    * replayed [[PageRankIters]] times (DuckDB sums promote to HUGEINT,
    * so each level re-casts pr to BIGINT). */
  private lazy val pageRankSql: String = {
    val s = graft.operators.Graph.PrScale
    val keep = graft.operators.Graph.DampingPctKeep
    val base = (100L - keep) * s / 100L
    val rounds = (1 to PageRankIters).map { i =>
      s"""pr$i AS (
         |  SELECT n.id,
         |         CAST($base + ($keep * coalesce(s$i.c, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.pr // d.dg) AS c
         |    FROM e JOIN pr${i - 1} p ON p.id = e.src
         |           JOIN deg d ON d.src = e.src
         |    GROUP BY 1) s$i ON s$i.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""$knnGraphCte,
       |e AS (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
       |nodes AS (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY 1),
       |pr0 AS (SELECT id, CAST($s AS BIGINT) AS pr FROM nodes),
       |$rounds
       |SELECT id AS vec_id, pr AS pr_x1e12 FROM pr$PageRankIters""".stripMargin
  }

  /** Context-window chunking dials: 40-token windows, 8-token overlap
    * (fixture docs run ~50–60 tokens → mostly two chunks each). */
  val ChunkTokens: Int = 40
  val ChunkOverlap: Int = 8

  /** Fully unrolled DuckDB replica of [[Bpe.train]]: k CTE rounds of
    * pair-count → argmax → space-joined `replace` merge — the same
    * greedy left-to-right scan, same (count DESC, lhs, rhs) tie-break,
    * same overlap counting. */
  /** Shared WITH-prelude of the BPE oracles: dict → seq0 → k rounds of
    * (pair counts p_i, argmax m_i, merged seq_i — the last round skips
    * its seq, nothing reads it). */
  private val bpeCtesSql: String = {
    val k = BpeMergeRounds
    val rounds = (1 to k).map { i =>
      val prev = s"seq${i - 1}"
      val head =
        s"""p$i AS (
           |  SELECT l, r, CAST(sum(n) AS BIGINT) AS c FROM (
           |    SELECT n, ts[i + 1] AS l, ts[i + 2] AS r
           |    FROM (SELECT n, string_split_regex(trim(s), ' +') AS ts FROM $prev) t,
           |         unnest(range(0, len(ts) - 1)) u(i)
           |    WHERE len(ts) >= 2)
           |  GROUP BY 1, 2),
           |m$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1)""".stripMargin
      val step =
        if (i == k) ""
        else
          s""",
             |seq$i AS (
             |  SELECT word, n,
             |         replace(s, ' ' || m.l || '  ' || m.r || ' ',
             |                    ' ' || m.l || m.r || ' ') AS s
             |  FROM $prev, m$i m)""".stripMargin
      head + step
    }
    s"""WITH dict AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |                              t -> t <> '')) AS word
       |    FROM documents) GROUP BY 1),
       |seq0 AS (
       |  SELECT word, n,
       |         '  ' || array_to_string(regexp_extract_all(word, '.'), '  ') || '  ' AS s
       |  FROM dict),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private val bpeOracleSql: String =
    s"""$bpeCtesSql
       |${(1 to BpeMergeRounds)
      .map(i => s"SELECT CAST($i AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, c AS pair_count FROM m$i")
      .mkString("\nUNION ALL\n")}""".stripMargin

  /** DuckDB replica of [[Bpe.encode]] under the merges the training
    * prelude just derived: per word, the k `replace` merges chained in
    * rank order (each merge pair read back as scalar subqueries of its
    * m_i CTE), then one rollup to doc granularity. */
  private val bpeEncodeOracleSql: String = {
    val k = BpeMergeRounds
    val chain = (1 to k).foldLeft(
      "'  ' || array_to_string(regexp_extract_all(word, '.'), '  ') || '  '") {
      case (s, i) =>
        s"""replace($s,
           | ' ' || (SELECT l FROM m$i) || '  ' || (SELECT r FROM m$i) || ' ',
           | ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ')""".stripMargin
    }
    s"""$bpeCtesSql,
       |w AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |                            t -> t <> '')) AS word
       |  FROM documents),
       |enc AS (
       |  SELECT doc_id, len(word) AS chars,
       |         len(string_split_regex(trim($chain), ' +')) AS pieces
       |  FROM w)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(chars) AS BIGINT) AS n_chars,
       |       CAST(sum(pieces) AS BIGINT) AS n_bpe_tokens
       |FROM enc GROUP BY 1""".stripMargin
  }

  private val mixtureBudgetsValues: String =
    MixtureBudgets.map { case (s0, b) => s"('$s0', $b)" }.mkString(", ")

  /** Parametric DuckDB oracle for [[Embeddings.annIvf]] — centroid
    * step, nprobe, and Lloyd iterations interpolated from the same
    * constants as the query. probes = each vector's top-`nprobe` cells
    * by centroid cosine; candidates = members of any probed cell (a
    * member's HOME cell is unique, so no duplicate (vid, nid) rows
    * arise across probes). Each k-means iteration replicates
    * Embeddings.lloydRefine exactly: argmax-cosine assignment, then
    * elementwise floorDiv means (pmod-then-`//`, matching Spark's
    * pmod-then-`div`) and dropped empty/zero cells. */
  private def ivfOracleSql(step: Long, nprobe: Int, kmeansIter: Int = 0): String = {
    val seedName = if (kmeansIter == 0) "cents" else "cents0"
    val seeds =
      s"""$seedName AS (
         |  SELECT vec_id AS cid, qv AS cqv, nsq AS cnsq
         |  FROM n WHERE vec_id % $step = 0)""".stripMargin
    val refines = (1 to kmeansIter).map { i =>
      val prev = s"cents${i - 1}"
      val cur = if (i == kmeansIter) "cents" else s"cents$i"
      s"""ac$i AS (
         |  SELECT n.vec_id, c.cid,
         |         CAST(list_sum(list_transform(range(len(n.qv)),
         |           j -> n.qv[j+1] * c.cqv[j+1])) AS BIGINT) AS d,
         |         n.nsq AS an, c.cnsq AS cn
         |  FROM n, $prev c),
         |assign$i AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY CAST(d AS DOUBLE) /
         |        (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) DESC, cid) AS rn
         |    FROM ac$i) WHERE rn = 1),
         |means$i AS (
         |  SELECT a.cell, g.j, SUM(n.qv[g.j]) AS s, COUNT(*) AS c
         |  FROM assign$i a JOIN n USING (vec_id),
         |       unnest(generate_series(1, len(n.qv))) AS g(j)
         |  GROUP BY 1, 2),
         |mv$i AS (
         |  SELECT cell AS cid,
         |         list(CAST((s - (((s % c) + c) % c)) // c AS BIGINT) ORDER BY j) AS cqv
         |  FROM means$i GROUP BY cell),
         |$cur AS (
         |  SELECT * FROM (
         |    SELECT cid, cqv,
         |           CAST(list_sum(list_transform(cqv, x -> x * x)) AS BIGINT) AS cnsq
         |    FROM mv$i)
         |  WHERE cnsq > 0)""".stripMargin
    }
    val centsChain = (seeds +: refines).mkString(",\n")
    s"""$embCte,
       |$centsChain,
       |ac AS (
       |  SELECT n.vec_id, c.cid,
       |         CAST(list_sum(list_transform(range(len(n.qv)),
       |           j -> n.qv[j+1] * c.cqv[j+1])) AS BIGINT) AS d,
       |         n.nsq AS an, c.cnsq AS cn
       |  FROM n, cents c),
       |ranked AS (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY CAST(d AS DOUBLE) /
       |      (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) DESC, cid) AS rn
       |  FROM ac),
       |assign AS (SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1),
       |probes AS (SELECT vec_id, cid AS probe FROM ranked WHERE rn <= $nprobe),
       |nb2 AS (SELECT n.vec_id, n.qv, n.nsq, a.cell FROM n JOIN assign a USING (vec_id)),
       |cand AS (
       |  SELECT p.vec_id AS vid, c.vec_id AS nid,
       |         CAST(list_sum(list_transform(range(len(a.qv)),
       |           j -> a.qv[j+1] * c.qv[j+1])) AS BIGINT) AS d,
       |         a.nsq AS an, c.nsq AS cn
       |  FROM probes p
       |  JOIN nb2 a ON a.vec_id = p.vec_id
       |  JOIN nb2 c ON c.cell = p.probe AND c.vec_id <> p.vec_id),
       |best AS (
       |  SELECT vid, nid,
       |         CAST(d AS DOUBLE) / (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) AS c2,
       |         row_number() OVER (PARTITION BY vid
       |           ORDER BY CAST(d AS DOUBLE) / (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) DESC, nid) AS rn
       |  FROM cand)
       |SELECT nb2.vec_id, nb2.cell,
       |       coalesce(b.nid, -1) AS neighbor_id,
       |       coalesce(CAST(round(b.c2 * 1000000.0) AS BIGINT), 0) AS cos_x1e6
       |FROM nb2 LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON nb2.vec_id = b.vid""".stripMargin
  }

  /** DuckDB oracle for the scaled multi-table LSH ANN: per-(table,
    * bucket) sign bits with global plane index t·planes + p — the same
    * integer weight formula as [[Embeddings.bucketOf]]; candidates =
    * bucket-mates in ANY table; reported bucket = table 0's. */
  private def lshScaledSql: String = {
    val tables = ScaledLshTables
    s"""$embCte,
       |sdial AS (SELECT ${planesExprSql(ScaledLshTargetBucket)} AS np),
       |bits AS (
       |  SELECT n.vec_id, t.t, p.p,
       |         CASE WHEN CAST(list_sum(list_transform(range(len(n.qv)),
       |                j -> n.qv[j+1] * (${weightTableSql(tables * MaxOraclePlanes)})[t.t * sdial.np + p.p + 1][j+1])) AS BIGINT) > 0
       |              THEN (1 << p.p) ELSE 0 END AS bv
       |  FROM n, range($tables) t(t), range($MaxOraclePlanes) p(p), sdial
       |  WHERE p.p < sdial.np),
       |buckets AS (SELECT vec_id, t, CAST(sum(bv) AS BIGINT) AS bucket
       |            FROM bits GROUP BY 1, 2),
       |nbt AS (SELECT n.vec_id, n.qv, n.nsq, b.t, b.bucket
       |        FROM n JOIN buckets b USING (vec_id)),
       |cand AS (
       |  SELECT a.vec_id AS vid, c.vec_id AS nid,
       |         CAST(list_sum(list_transform(range(len(a.qv)),
       |           j -> a.qv[j+1] * c.qv[j+1])) AS BIGINT) AS d,
       |         a.nsq AS an, c.nsq AS cn
       |  FROM nbt a JOIN nbt c ON a.t = c.t AND a.bucket = c.bucket AND a.vec_id <> c.vec_id),
       |best AS (
       |  SELECT vid, nid,
       |         CAST(d AS DOUBLE) / (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) AS c2,
       |         row_number() OVER (PARTITION BY vid
       |           ORDER BY CAST(d AS DOUBLE) / (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) DESC, nid) AS rn
       |  FROM cand),
       |nb0 AS (SELECT vec_id, bucket FROM nbt WHERE t = 0)
       |SELECT nb0.vec_id, nb0.bucket,
       |       coalesce(b.nid, -1) AS neighbor_id,
       |       coalesce(CAST(round(b.c2 * 1000000.0) AS BIGINT), 0) AS cos_x1e6
       |FROM nb0 LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON nb0.vec_id = b.vid""".stripMargin
  }

  /** DuckDB oracle for the scaled SimHash mode — replicates the FULL
    * banded candidate generation (not just exact ground truth, which a
    * probabilistic configuration cannot be held to): per-shingle hash
    * words are 60-bit slices of sha256 hex (bit-identical to Spark's
    * [[NearDup.Sha256Family]] via conv(…,16,10)), logical bit j =
    * sign of Σ ±1 by bit (j mod 60) of word (j div 60), band value =
    * band's bit range re-packed, candidates = band equijoin, then the
    * standard exact-Jaccard confirm. */
  /** DuckDB oracle for the perceptual-hash modes, parameterized over
    * the blockhash geometry so the 64-bit exact mode and the 256-bit
    * corpus-scale mode share one generator (constants drift-proof
    * against the Scala dials): full integer signature on both sample
    * grids, band-pair candidates (HAVING count(*) >= 2 ⇔ the Spark
    * side's minSharedBands = 2 pair keys), dual-grid Hamming confirm. */
  private def phashSql(
      blocks: Int, bands: Int, maxHamming: Int,
      midMaxHamming: Option[Int] = None): String = {
    val midCut = midMaxHamming.getOrElse(maxHamming)
    val bandBits = blocks / bands
    s"""WITH b0 AS (
       |  SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents),
       |b AS (
       |  SELECT doc_id, hx, length(hx) // 2 AS len FROM b0
       |  UNION ALL
       |  SELECT -doc_id - 1,
       |         substring(hx, 1, 20) || '00' || substring(hx, 23) AS hx,
       |         length(substring(hx, 1, 20) || '00' || substring(hx, 23)) // 2 AS len
       |  FROM b0 WHERE doc_id % 101 = 0),
       |v AS (
       |  SELECT doc_id, k.k,
       |         list_transform(range($blocks), i ->
       |           coalesce(TRY_CAST(('0x' || substring(hx,
       |             CAST((CASE WHEN k.k = 0
       |                   THEN (len * i) // $blocks
       |                   ELSE (len * (2 * i + 1)) // ${2 * blocks}
       |                   END) * 2 + 1 AS BIGINT),
       |             ${Multimodal.PHashSampleBytes * 2})) AS BIGINT), 0)) AS vs
       |  FROM b, range(2) k(k)),
       |f AS (
       |  SELECT doc_id, k,
       |         list_transform(vs, x -> ${(0 until Multimodal.PHashSampleBytes)
                  .map(b => s"((x >> ${8 * b}) & 255)").mkString(" + ")}) AS feats
       |  FROM v),
       |m AS (
       |  SELECT doc_id, k, feats,
       |         list_sort(feats)[${blocks / 2}]
       |           + list_sort(feats)[${blocks / 2 + 1}] AS med2
       |  FROM f),
       |bits AS (
       |  SELECT doc_id, k, j.j,
       |         CASE WHEN feats[j.j + 1] * 2 > med2 THEN 1 ELSE 0 END AS b
       |  FROM m, range($blocks) j(j)),
       |bands AS (
       |  SELECT doc_id, j // $bandBits AS bi,
       |         CAST(sum(b << (j % $bandBits)) AS BIGINT) AS bv
       |  FROM bits WHERE k = 0 GROUP BY 1, 2),
       |cand AS (
       |  -- minSharedBands = 2: a candidate agrees on >= 2 bands
       |  -- (equivalent to the Spark side's band-PAIR join keys)
       |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM bands a JOIN bands c ON a.bi = c.bi AND a.bv = c.bv
       |    AND a.doc_id < c.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |ham AS (
       |  SELECT cd.doc_a, cd.doc_b,
       |         CAST(sum(CASE WHEN ba.b <> bb.b AND ba.k = 0 THEN 1 ELSE 0 END)
       |           AS BIGINT) AS hamming_dist,
       |         CAST(sum(CASE WHEN ba.b <> bb.b AND ba.k = 1 THEN 1 ELSE 0 END)
       |           AS BIGINT) AS ham_m
       |  FROM cand cd
       |  JOIN bits ba ON ba.doc_id = cd.doc_a
       |  JOIN bits bb ON bb.doc_id = cd.doc_b AND bb.j = ba.j AND bb.k = ba.k
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, hamming_dist
       |FROM ham WHERE hamming_dist <= $maxHamming
       |  AND ham_m <= $midCut""".stripMargin
  }

  private def simhashScaledSql: String = {
    val n = NearDup.ShingleN
    val t = NearDup.ThresholdMilli
    val gram = (0 until n).map(o => s"ts[i+$o]").mkString(" || ' ' || ")
    val bands = ScaledSimHashBands
    val wordBits = 60
    val maxWidth = bands * MaxOracleBandBits
    val hashWords = (maxWidth + wordBits - 1) / wordBits
    // band bits derived from the LIVE documents count (`shdial`) —
    // the same simHashBandBitsFor formula the Spark side turns
    // (min(ceil(log2 n) + 3, 60); the 960-bit family budget / 16
    // bands is the same 60 cap). Hash-word columns are emitted up to
    // MaxOracleBandBits and bit rows filtered `j < bands · bb`, so
    // one generated statement serves any corpus ≤ 2^21 docs.
    // Digest selection mirrors NearDup.Sha256Family word-for-word:
    // words 0-3 slice sha256(s); word w >= 4 slices sha256(s || '#d')
    // (engaged only above 240-bit widths, i.e. corpora past ~4k docs)
    val hwCols = (0 until hashWords).map { w =>
      val digest =
        if (w < 4) "sha256(s)" else s"sha256(s || '#${w / 4}')"
      s"CAST(CAST(('0x' || substring($digest, ${w % 4 * 15 + 1}, 15)) AS UBIGINT) AS BIGINT) AS h$w"
    }.mkString(",\n       |         ")
    val wordCase = (0 until hashWords - 1).map(w => s"WHEN $w THEN h$w").mkString(" ")
    s"""WITH t2 AS (SELECT doc_id, $tokList AS ts FROM documents),
       |shdial AS (
       |  SELECT LEAST(60, GREATEST(1,
       |    (CASE WHEN (SELECT count(*) FROM documents) <= 1 THEN 0
       |          ELSE CAST(ceil(log2((SELECT count(*) FROM documents))) AS INT)
       |     END) + 3)) AS bb),
       |sh AS (
       |  SELECT DISTINCT doc_id, $gram AS s
       |  FROM t2, unnest(range(1, greatest(len(ts) - ${n - 2}, 1))) AS u(i)),
       |hw AS (
       |  SELECT doc_id,
       |         $hwCols
       |  FROM sh),
       |bits AS (
       |  SELECT doc_id, j.j,
       |         CASE WHEN SUM(CASE WHEN
       |           ((CASE j.j // $wordBits $wordCase ELSE h${hashWords - 1} END)
       |             >> (j.j % $wordBits)) & 1 = 1 THEN 1 ELSE -1 END) > 0
       |         THEN 1 ELSE 0 END AS b
       |  FROM hw, range($maxWidth) j(j), shdial
       |  WHERE j.j < $bands * shdial.bb
       |  GROUP BY doc_id, j.j),
       |bands AS (
       |  SELECT doc_id, j // shdial.bb AS bi, SUM(b << (j % shdial.bb)) AS bv
       |  FROM bits, shdial GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM bands a JOIN bands c ON a.bi = c.bi AND a.bv = c.bv AND a.doc_id < c.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS nn FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT cd.doc_a, cd.doc_b, count(*) AS ic
       |  FROM cand cd
       |  JOIN sh a ON a.doc_id = cd.doc_a
       |  JOIN sh b ON b.doc_id = cd.doc_b AND b.s = a.s
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       CAST((1000 * ic) // (sa.nn + sb.nn - ic) AS BIGINT) AS jaccard_x1000
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE 1000 * ic >= $t * (sa.nn + sb.nn - ic)""".stripMargin
  }

  /** DuckDB oracle for the banded MinHash mode — replicates the FULL
    * r×b candidate generation (a probabilistic configuration cannot be
    * held to exact ground truth): min-hash word i of a doc = min over
    * its shingles of a 60-bit slice of sha256("(i div 4):" + shingle)
    * at hex offset 1 + 15·(i mod 4) — bit-identical to Spark's
    * [[NearDup.SlicedSha256MinHashFamily]] (four words per digest, a
    * quarter of the hash cost of one-digest-per-word), band key = the
    * r consecutive words comma-joined in hash-index order, candidates
    * = band equijoin, then the standard exact-Jaccard confirm. */
  private def minhashBandedSql: String = {
    val k = NearDup.NumMinHashes
    val r = BandedMinHashRows
    val t = NearDup.ThresholdMilli
    s"""$neardupPreludeSql,
       |mh AS (
       |  SELECT doc_id, i.i AS hi,
       |         min(CAST(CAST(('0x' || substring(
       |               sha256(CAST(i.i // 4 AS VARCHAR) || ':' || s),
       |               1 + 15 * (i.i % 4), 15))
       |               AS UBIGINT) AS BIGINT)) AS hv
       |  FROM sh, range($k) i(i)
       |  GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, hi // $r AS bi,
       |         string_agg(CAST(hv AS VARCHAR), ',' ORDER BY hi) AS bv
       |  FROM mh GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT cd.doc_a, cd.doc_b, count(*) AS ic
       |  FROM cand cd
       |  JOIN sh a ON a.doc_id = cd.doc_a
       |  JOIN sh b ON b.doc_id = cd.doc_b AND b.s = a.s
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       CAST((1000 * ic) // (sa.nn + sb.nn - ic) AS BIGINT) AS jaccard_x1000
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE 1000 * ic >= $t * (sa.nn + sb.nn - ic)""".stripMargin
  }

  // ---------------------------------------------------------------- contract

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    WordStats(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -------- canonical reference pipeline (SURVEY §3.4)
    "wordstats" -> ((s, dir) => WordStats(T(s, dir, "documents"))),

    // -------- canonical pipeline WITH the reference's `file` column
    // (example/main.py:127,158-162): file = last-5 path components,
    // truncated to 269 — the full five-column sink row. The fixture is
    // parquet, so the path is synthesized (as in scalar_funcs); the
    // composition under test is basename_backwards∘truncate over the
    // word-stats shape, carried through the row-local kernel.
    "wordstats_files" -> ((s, dir) => {
      val path = concat(
        lit("data/corpus/"), col("source"), lit("/"), col("lang"),
        lit("/doc_"), col("doc_id").cast("string"), lit(".txt"))
      val docs = T(s, dir, "documents")
        .withColumn("file", Scalars.truncate269(Scalars.lastPathComponents(path, 5)))
      WordStats(docs, carryCols = Seq("file"))
        .select(col("word"), col("word_len"), col("word_truncated"),
          col("file"), col("words_count"))
    }),

    // -------- canonical pipeline from SPLITTABLE LINE rows
    // (WordStats.fromLines over ChunkedTextSource's (id, offset, line)
    // shape — the huge-file path where no task holds a whole file).
    // The fixture is parquet, so line rows are synthesized: each token
    // becomes its own "line" ordered by its original position — a
    // maximal chunking (every boundary a line break). Word stats are
    // chunk-invariant, so the oracle is the UNCHANGED wordstats SQL;
    // the multi-token-line + real-file-split cases are pinned by
    // GoldenCorpusSpec on the books corpus.
    "wordstats_chunked" -> ((s, dir) => {
      val lines = Tokenize.splitTokens(inputCol = "text")(
        T(s, dir, "documents").select("doc_id", "text"))
        .select(col("doc_id"), col("pos").cast("long").as("byte_offset"),
          col("word").as("line"))
      WordStats.fromLines(lines, idCol = "doc_id")
    }),

    // -------- tokenizer (transformers/text.py:43-71)
    "tokenize" -> ((s, dir) =>
      docTokens(s, dir)
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word"))),

    // -------- Arabic tokenizer (example/arabic_transformers.py:6-30).
    // Raw tokenizer parity (stripDiacritics=false — the reference keeps
    // remove_diac a separate mapper); word_nodiac shows the mapper.
    "tokenize_arabic" -> ((s, _) => {
      import s.implicits._
      Tokenize.arabicTokens(inputCol = "text", stripDiacritics = false)(
        ArabicSamples.toDF("id", "text"))
        .select(col("id"), col("pos").cast("long").as("pos"), col("word"),
          Scalars.removeDiac(col("word")).as("word_nodiac"))
    }),

    // -------- codepoint n-gram tokenizer — the whitespace-free-script
    // fallback (CJK/Thai): every overlapping 3-codepoint gram with its
    // position, same long-form shape as `tokenize`, so grams feed the
    // dedup/BM25/winnowing machinery exactly as words do. One narrow
    // codegen stage (split-to-chars once + slice per gram — linear in
    // text length, never a per-gram substring rescan), no shuffle.
    "text_ngram_tokens" -> ((s, dir) =>
      Tokenize.cjkNgrams(inputCol = "text", n = 3)(
        T(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("gram"))),

    // -------- per-group fold / count (transformers/aggregators.py:13-67)
    "token_count" -> ((s, dir) =>
      T(s, dir, "documents").select(
        col("doc_id"),
        FoldGroup.tokenCountExpr(col("text")).as("words_count"))),

    // -------- keyed dedup, first-seen (aggregators.py:71-132, yield=True)
    "dedup_first_seen" -> ((s, dir) =>
      Dedup
        .keepFirst(Seq("doc_id"), "word", "pos")(docTokens(s, dir))
        .select(col("doc_id"), col("word"), col("pos").cast("long").as("pos"))),

    // -------- keyed dedup, duplicates-only (yield_unique_values=False)
    "dedup_duplicates_only" -> ((s, dir) =>
      Dedup
        .duplicatesOnly(Seq("doc_id"), "word", "pos")(docTokens(s, dir))
        .select(col("doc_id"), col("word"), col("pos").cast("long").as("pos"))),

    // -------- golden uniqueness audit (example/readme.md:68) — MUST be empty.
    // Grouped on the two key columns directly (no throwaway concat key —
    // the reference's concat() is a MySQL-ism, not a semantic).
    "dedup_audit" -> ((s, dir) =>
      Dedup
        .keepFirst(Seq("doc_id"), "word", "pos")(docTokens(s, dir))
        .groupBy(Scalars.wordNorm(col("word")).as("word_norm"), col("doc_id"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)),

    // -------- projection/derivation ops (transformers/one_to_one.py:9-66)
    // Pre-image semantics on display: name_len reads the ORIGINAL c_name
    // even though c_name is truncated in place in the same transform.
    "attrs_project" -> ((s, dir) =>
      AttrsTransform(
        static = Seq("engine_ver" -> "graft-0.1"),
        derived = Seq(("name_len", "c_name", c => length(c).cast("long"))),
        inPlace = Seq(("c_name", c => substring(c, 1, 5))),
        remove = Seq("c_acctbal")
      )(T(s, dir, "customer"))),

    // -------- loader required-column projection (loaders/commons.py:55-62)
    "required_projection" -> ((s, dir) =>
      Projection(
        T(s, dir, "orders"),
        Seq(
          ("order_key", col("o_orderkey"), true),
          ("status",
            when(col("o_orderstatus") === "F", lit(null))
              .otherwise(col("o_orderstatus")), true),
          ("price", col("o_totalprice"), true)))),

    // -------- scalar function library (commons.py:138-173)
    "scalar_funcs" -> ((s, dir) => {
      val path = concat(
        lit("data/corpus/"), col("source"), lit("/"), col("lang"),
        lit("/doc_"), col("doc_id").cast("string"), lit(".txt"))
      T(s, dir, "documents").select(
        col("doc_id"),
        Scalars.lastPathComponents(path, 5).as("file5"),
        Scalars.truncate269(path).as("path269"),
        length(path).cast("long").as("path_len"),
        Scalars.lenGt270(path).as("path_gt_270"),
        Scalars.truncate254(col("text")).as("text254"),
        Scalars.lenGt255(col("text")).as("text_gt_255"),
        length(Scalars.removeDiac(col("text"))).cast("long").as("text_len_nodiac"))
    }),

    // -------- §2.6 downstream SQL shapes (example/readme.md:41-69)
    "rel_count" -> ((s, dir) =>
      T(s, dir, "lineitem").agg(count(lit(1)).as("n"))),
    "rel_filtered_count" -> ((s, dir) =>
      T(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .agg(count(lit(1)).as("n"))),
    "rel_sum_distinct_pairs" -> ((s, dir) =>
      WordStats(T(s, dir, "documents"))
        .select("doc_id", "words_count").distinct()
        .agg(sum("words_count").as("total"))),
    "rel_count_distinct" -> ((s, dir) =>
      T(s, dir, "lineitem").agg(countDistinct(col("l_partkey")).as("n"))),
    // approximate distinct-count (HLL++, rsd 1 %) — the form you would
    // actually run at 100 TB: one pass, fixed sketch memory, no
    // shuffle-the-keys exact distinct. A raw sketch value cannot
    // hash-match a different engine, so the QUERY emits the sketch's
    // CONTRACT instead: the exact count (cross-engine-checkable) plus
    // the boolean |approx − exact| ≤ 2%·exact, which the oracle pins
    // to TRUE — a drifting sketch turns the row red. The exact count
    // here is the battery-scale validation harness; production runs
    // the sketch alone (see also CoreSpec's error-bound tests).
    // KMV distinct-count sketch: DETERMINISTIC hashing means the
    // estimate itself is oracle-exact (unlike the HLL/KLL rows whose
    // contract is a bound), and per-partition sketches merge without
    // revisiting raw data. WindowGroupLimit caps the sort at k rows
    // per set map-side.
    "events_kmv_distinct" -> ((s, dir) => {
      val ev = eventsTable(s, dir)
      val est = Sketches.kmvEstimate(
        Sketches.kmvSketch(ev, "event_type", "user_id"), "event_type")
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(est, Seq("event_type"))
        .select(col("event_type"), col("n_exact"), col("kmv_distinct"))
    }),

    // HLL registers are a function of the value SET, so aggregating the
    // pre-deduplicated keys gives a bit-identical estimate — and sidesteps
    // the distinct-agg rewrite that was keeping one 1,640-word HLL buffer
    // PER DISTINCT KEY (13 KB/row × 200k keys through the exchange;
    // measured 3.0 s at sf0.1, ~0.3 s after). n_exact = count over the
    // same distinct frame, unchanged.
    "rel_approx_count_distinct" -> ((s, dir) => {
      val keys = T(s, dir, "lineitem").select(col("l_partkey")).distinct()
      keys
        .agg(
          approx_count_distinct(col("l_partkey"), 0.01).as("__a"),
          count(lit(1)).as("n_exact"))
        .select(col("n_exact"),
          (abs(col("__a") - col("n_exact")) * 100 <= col("n_exact") * 2)
            .as("within_2pct"))
    }),
    // KLL/GK-sketch quantiles — the 100 TB percentile form (one pass,
    // mergeable partials; rank error ≤ n/accuracy). Same pattern as
    // rel_approx_count_distinct: the query emits the sketch's rank
    // contract — each returned quantile's true rank (counted in a
    // second pass against the broadcast 1-row sketch result) must sit
    // within n/accuracy (+1 rank-definition slack) of the target
    // rank — and the oracle pins the booleans to TRUE.
    "rel_approx_quantiles" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      val qs = li.agg(
        percentile_approx(col("l_extendedprice"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(ApproxQuantileAccuracy))
          .as("qs"))
        .select(
          element_at(col("qs"), 1).as("__q50"),
          element_at(col("qs"), 2).as("__q90"),
          element_at(col("qs"), 3).as("__q99"))
      def rankOk(q: Column, pct: Int) = {
        val rank = sum(when(col("l_extendedprice") <= q, 1L).otherwise(0L))
        abs(rank * 100 - count(lit(1)) * pct) <=
          call_function("div", count(lit(1)) * 100,
            lit(ApproxQuantileAccuracy.toLong)) + 100
      }
      li.crossJoin(broadcast(qs))
        .agg(
          count(lit(1)).as("n"),
          rankOk(col("__q50"), 50).as("p50_rank_ok"),
          rankOk(col("__q90"), 90).as("p90_rank_ok"),
          rankOk(col("__q99"), 99).as("p99_rank_ok"))
    }),
    "rel_limit" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit(1000)),
    // Referential-integrity audit — the data-quality sibling of
    // dedup_audit: orphan counts per FK edge via left-anti joins
    // (0 rows orphaned in a consistent fixture, and the query proves
    // it on both engines).
    "rel_fk_audit" -> ((s, dir) => {
      def edge(name: String, child: DataFrame, key: String,
          parent: DataFrame, pkey: String) =
        child.select(col(key))
          .join(parent.select(col(pkey)), col(key) === col(pkey), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .select(lit(name).as("fk"), col("n_orphans"))
      edge("lineitem->orders", T(s, dir, "lineitem"), "l_orderkey",
          T(s, dir, "orders"), "o_orderkey")
        .unionByName(edge("lineitem->part", T(s, dir, "lineitem"), "l_partkey",
          T(s, dir, "part"), "p_partkey"))
        .unionByName(edge("orders->customer", T(s, dir, "orders"), "o_custkey",
          T(s, dir, "customer"), "c_custkey"))
    }),

    // Hierarchical super-aggregates in ONE pass — ROLLUP plans as a
    // single scan + Expand (one row per grouping set per input row) +
    // one hash-agg, not one job per level; grouping_id disambiguates
    // the NULL-keyed super-rows.
    "rel_rollup" -> ((s, dir) =>
      T(s, dir, "customer")
        .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(T(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          money(sum(decP(col("c_acctbal")))).as("sum_acctbal"),
          grouping_id().as("gid"))),

    // Morton interleave of two join keys — the Z-order clustering
    // scalar (pure int64 shift/and/or, whole-stage codegen'd); the
    // layout effect it exists for is proven in SinkLayoutSpec.
    "rel_zorder" -> ((s, dir) =>
      T(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        Layout.zValue(Seq(
          pmod(col("l_orderkey"), lit(65536L)),
          pmod(col("l_partkey"), lit(65536L)))).as("z"))),

    // Small-file compaction planning over a synthesized file listing
    // (dir = partition directory, deterministic pseudo-sizes): files
    // >= target stay `keep`, the rest get dir#bin group ids from a
    // per-directory path-ordered running sum. One window partitioned
    // by directory — never a global sort.
    "layout_compaction" -> ((s, dir) => {
      val listing = T(s, dir, "documents").select(
        concat(lit("part="), col("doc_id") % 10).as("dir"),
        concat(lit("f"), lpad(col("doc_id").cast("string"), 8, "0"))
          .as("path"),
        ((col("doc_id") * col("doc_id")) % 97 + 1) * 131072L)
        .toDF("dir", "path", "bytes")
      Layout.compactionPlan(listing, targetBytes = 4194304L)
    }),

    // …and the plan EXECUTED against real files: stage the documents
    // corpus as ~40 small parquet files, plan their compaction from a
    // real FS listing, rewrite every planned group (Layout.compact:
    // one distributed scan + broadcast path→group join + one file per
    // group), structurally assert the rewritten layout (exactly one
    // file per group, group count = plan count — violations throw),
    // then return the corpus READ BACK FROM THE REWRITTEN FILES plus
    // untouched keeps. The oracle is plain `documents`: any row lost,
    // duplicated, or corrupted by the rewrite breaks the hash — the
    // compaction contract (content-identical, layout-better),
    // oracle-checked end to end. Group ids themselves depend on
    // physical parquet byte sizes, which no other engine can predict —
    // content preservation is the portable contract.
    "layout_compaction_exec" -> ((s, dir) => {
      import s.implicits._
      val base = s"${sys.props("java.io.tmpdir")}/graft_compact_exec"
      val stage = s"$base/stage"
      val out = s"$base/out"
      T(s, dir, "documents")
        .repartition(40, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      // Hadoop-FS listing (scheme-portable: the same call plans
      // hdfs:///s3a:// tables; paths come back as URIs, the form the
      // scan's _metadata.file_path also uses)
      val listing = Layout.listFiles(s, stage)
      val plan = Layout.compactionPlan(listing, targetBytes = 262144L)
      val manifest = Layout.compact(s, plan, out)
      val planned = plan.filter(col("action") === "compact")
        .select(col("group_id")).distinct().count()
      val written = manifest.count()
      val multi = manifest.filter(col("out_files") =!= 1L).count()
      require(written == planned && multi == 0,
        s"compaction layout contract violated: $planned planned groups, " +
          s"$written written, $multi with more than one file")
      val keeps = plan.filter(col("action") === "keep")
        .select(col("path")).as[String].collect()
      val rewritten = s.read.parquet(out)
        .drop(Layout.CompactGroupCol)
      val kept =
        if (keeps.isEmpty) rewritten.limit(0)
        else s.read.parquet(keeps.toIndexedSeq: _*)
      rewritten.unionByName(kept)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
    }),

    // Full cross-dimensional super-aggregates — CUBE computes all 2^k
    // grouping sets (4 here) from ONE scan + Expand + one hash-agg,
    // the cross-tab sibling of rel_rollup's hierarchy.
    "rel_cube" -> ((s, dir) =>
      T(s, dir, "customer")
        .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(T(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .cube(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          money(sum(decP(col("c_acctbal")))).as("sum_acctbal"),
          grouping_id().as("gid"))),

    // Hand-picked grouping sets — just the two marginals + grand total,
    // skipping the fine (r_name, n_name) level CUBE would also compute:
    // the Expand replicates each input row 3×, not 4×.
    "rel_grouping_sets" -> ((s, dir) =>
      T(s, dir, "customer")
        .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(T(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupingSets(
          Seq(Seq(col("r_name")), Seq(col("n_name")), Seq.empty),
          col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          money(sum(decP(col("c_acctbal")))).as("sum_acctbal"),
          grouping_id().as("gid"))),

    // The ranking/navigation window-function surface in one pass:
    // per-customer order history with a total order (date, key) driving
    // row_number / lag / lead / ntile, plus a tie-bearing priority
    // ordering driving rank / dense_rank. Integer outputs only; lag and
    // lead edges use a -1 sentinel instead of NULL.
    "rel_window_funcs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val total = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val byPrio = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderpriority"))
      T(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(total).cast("long").as("rn"),
        coalesce(lag(col("o_orderkey"), 1).over(total), lit(-1L)).as("prev_okey"),
        coalesce(lead(col("o_orderkey"), 1).over(total), lit(-1L)).as("next_okey"),
        ntile(4).over(total).cast("long").as("tile4"),
        rank().over(byPrio).cast("long").as("rk_prio"),
        dense_rank().over(byPrio).cast("long").as("drk_prio"))
    }),

    // Wide cross-tab via pivot — status counts per priority. The pivot
    // value list is explicit (no extra distinct-values job), and absent
    // cells coalesce to 0 so both engines agree on empty combinations.
    "rel_pivot" -> ((s, dir) =>
      T(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("cnt_f"),
          coalesce(col("O"), lit(0L)).as("cnt_o"),
          coalesce(col("P"), lit(0L)).as("cnt_p"))),

    // Bag-algebra set operations on the customer-activity sets of two
    // years: INTERSECT / EXCEPT both ways, emitted as one tagged union.
    // Spark plans each as a distinct-aggregate semi/anti shape, not a
    // sort-merge of materialized sets.
    "rel_setops" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      def custsIn(y: Int) = o
        .where(year(col("o_orderdate")) === y)
        .select(col("o_custkey")).distinct()
      val a = custsIn(1994)
      val b = custsIn(1995)
      a.intersect(b).select(lit("both").as("op"), col("o_custkey"))
        .unionByName(
          a.except(b).select(lit("only_1994").as("op"), col("o_custkey")))
        .unionByName(
          b.except(a).select(lit("only_1995").as("op"), col("o_custkey")))
    }),

    // Fixed-width histogram of order value — narrow integer bucket
    // assignment ($50k buckets over exact cents) + one hash-agg. Fixed
    // bounds keep it a single pass: no min/max pre-scan, no stats
    // cross-join, and the integer `div` is exact on both engines.
    "rel_histogram" -> ((s, dir) =>
      T(s, dir, "orders")
        .select((decP(col("o_totalprice")) * 100).cast("long").as("cents"))
        .select(expr("cents div 5000000").as("bucket"), col("cents"))
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).as("n_orders"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))),

    // -------- analytics: TPC-H-shaped aggregation (bench headliners)
    "q1_pricing" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          money(sum(decQ(col("l_quantity")))).as("sum_qty"),
          money(sum(decP(col("l_extendedprice")))).as("sum_base_price"),
          money(sum(decP(col("l_extendedprice")) *
            (lit(1) - decQ(col("l_discount"))))).as("sum_disc_price"),
          money(sum(decP(col("l_extendedprice")) *
            (lit(1) - decQ(col("l_discount"))) *
            (lit(1) + decQ(col("l_tax"))))).as("sum_charge"),
          (money(sum(decQ(col("l_quantity")))) / count(lit(1))).as("avg_qty"),
          (money(sum(decP(col("l_extendedprice")))) / count(lit(1))).as("avg_price"),
          (money(sum(decQ(col("l_discount")))) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    "q3_top_orders" -> ((s, dir) => {
      val cutoff = to_timestamp(lit("1998-07-01"))
      T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < cutoff)
        .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > cutoff)
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(money(sum(decP(col("l_extendedprice")) *
          (lit(1) - decQ(col("l_discount"))))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // TPC-H Q18 shape: a group-agg SUBQUERY over the fact table feeding
    // a top-k join pipeline at the fact-fact level (big-quantity
    // orders × orders × customer). One deliberate improvement over the
    // textbook formulation: the classic Q18 re-joins lineitem and
    // re-aggregates sum(l_quantity) a second time after the HAVING
    // subquery — but the subquery already computed exactly that sum
    // per order, so this plan reuses it and scans lineitem ONCE. The
    // agg→filter side stays a shuffle equijoin (it is fact-derived and
    // grows with the corpus — broadcasting it would be a 100× trap);
    // AQE converts it at runtime when the HAVING is selective enough.
    // Top-k compiles to TakeOrderedAndProject (never a global sort);
    // ties on (o_totalprice, o_orderdate) are broken by the unique
    // o_orderkey so the limit is deterministic. PlanShapeSpec pins
    // the shape; lineitem's scan must read only 2 of 11 columns.
    "q18_big_orders" -> ((s, dir) => {
      val bigOrders = T(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(money(sum(decQ(col("l_quantity")))).as("sum_qty"))
        .filter(col("sum_qty") > Q18MinQty)
      T(s, dir, "orders")
        .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    }),

    "q5_region_revenue" -> ((s, dir) => {
      val region = T(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = T(s, dir, "nation")
      val supplier = T(s, dir, "supplier")
      T(s, dir, "customer")
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1998-01-01")))
        .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(supplier),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(money(sum(decP(col("l_extendedprice")) *
          (lit(1) - decQ(col("l_discount"))))).as("revenue"))
    }),

    "join_broadcast" -> ((s, dir) =>
      T(s, dir, "customer")
        .join(broadcast(T(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          money(sum(decP(col("c_acctbal")))).as("acctbal_sum"))),

    // Semi/anti join completeness: customers partitioned by order
    // existence — LeftSemi + LeftAnti (each forwards ≤1 row per probe,
    // never multiplying by match count), tagged and unioned.
    "rel_semi_anti" -> ((s, dir) => {
      val cust = T(s, dir, "customer").select(col("c_custkey"))
      val ords = T(s, dir, "orders").select(col("o_custkey"))
      val has = cust.join(ords, col("c_custkey") === col("o_custkey"), "left_semi")
        .withColumn("status", lit("has_orders"))
      val none = cust.join(ords, col("c_custkey") === col("o_custkey"), "left_anti")
        .withColumn("status", lit("no_orders"))
      has.union(none)
    }),

    // TPC-H Q6 forecast-revenue: the pure scan-side query — every
    // predicate pushes into the parquet scan, one partial+final agg,
    // zero joins; at 100 TB it is bounded by I/O alone.
    "q6_forecast" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(
          count(lit(1)).as("n_items"),
          money(sum(decP(col("l_extendedprice")) * decQ(col("l_discount"))))
            .as("revenue"))),

    // The big-fact shuffle join run through Skew.saltedJoin — proof
    // that the hot-key mitigation is result-identical to the plain
    // join the oracle runs (salting only changes the partitioning).
    "join_salted" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
        .select(col("l_orderkey").as("orderkey"),
          col("l_extendedprice"), col("l_discount"))
      val ord = T(s, dir, "orders")
        .select(col("o_orderkey").as("orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(li, ord, Seq("orderkey"), saltN = 8)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          money(sum(decP(col("l_extendedprice")) *
            (lit(1) - decQ(col("l_discount"))))).as("revenue"))
    }),

    // -------- events: tumbling event-time window + JSON-ish extraction
    "events_window" -> ((s, dir) =>
      eventsTable(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          money(sum(decP(col("value")))).as("sum_value"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), col("sum_value"))),

    "events_json" -> ((s, dir) =>
      eventsTable(s, dir)
        .select(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
          .cast("long").as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"))),

    // -------- near-duplicate detection (north-star extension). Three
    // candidate paths, one confirmed-output contract — all must equal
    // the exact ground truth on this corpus (planted near-dups have
    // J ≥ 0.9, far above the LSH false-negative floors).
    "neardup_ngram" -> ((s, dir) =>
      NearDup.ngramJaccardPairs(T(s, dir, "documents"))),
    "neardup_minhash" -> ((s, dir) =>
      NearDup.minHashPairs(T(s, dir, "documents"))),
    "neardup_simhash" -> ((s, dir) =>
      NearDup.simHashPairs(T(s, dir, "documents"))),
    // the 100 TB SimHash config: corpus-sized band entropy (linear
    // candidates), probabilistic recall, no Hamming prefilter (exact
    // confirm is the precision gate). Cross-engine sha256 hash family
    // so the oracle replicates the banding — see ScaledSimHash* docs.
    "neardup_simhash_scaled" -> ((s, dir) =>
      scaledSimHashPairs(T(s, dir, "documents"))),
    // r×b MinHash banding — candidates need r = 2 consecutive hash
    // agreements (band key = the 2 words joined), cutting moderate-J
    // junk candidates an order of magnitude below the r = 1 path while
    // keeping planted J ≥ 0.8 pairs at P ≈ 99.97 %. See
    // BandedMinHashRows for why the hash family is sha256.
    "neardup_minhash_banded" -> ((s, dir) =>
      NearDup.minHashPairsBanded(T(s, dir, "documents"),
        rowsPerBand = BandedMinHashRows,
        word = NearDup.SlicedSha256MinHashFamily)),
    // Measured recall/precision of the TEXT near-dup paths against the
    // exact n-gram-Jaccard ground truth (the neardup_ngram relation) —
    // the same measurement loop the vector path already has
    // (emb_neardup_recall): the analytic false-negative bounds each
    // banding dial quotes become NUMBERS on the live corpus. Truth is
    // the exact shared-shingle relation (soak-gated linear on token-
    // disjoint replicas), so the report joins stay corpus-linear.
    // r = 1 MinHash banding (every single-hash agreement a candidate):
    "neardup_minhash_recall" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Eval.pairRecall(
        NearDup.minHashPairs(docs),
        NearDup.ngramJaccardPairs(docs), aCol = "doc_a", bCol = "doc_b")
    }),
    // …vs the r×b (r = 2) banded dial — the two-settings measurement of
    // the banding trade: candidates need two consecutive hash
    // agreements, an order less junk at a quantified recall price.
    "neardup_minhash_banded_recall" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Eval.pairRecall(
        NearDup.minHashPairsBanded(docs, rowsPerBand = BandedMinHashRows,
          word = NearDup.SlicedSha256MinHashFamily),
        NearDup.ngramJaccardPairs(docs), aCol = "doc_a", bCol = "doc_b")
    }),
    // …and the corpus-sized-band SimHash (the 100 TB text config, whose
    // recall is probabilistic by design — no Hamming prefilter, exact
    // confirm as the precision gate).
    "neardup_simhash_recall" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Eval.pairRecall(scaledSimHashPairs(docs),
        NearDup.ngramJaccardPairs(docs), aCol = "doc_a", bCol = "doc_b")
    }),
    // Incremental (cross-corpus) dedup — the daily-ingest shape: the
    // even-id half plays the accumulated base corpus, the odd-id half
    // the new increment; only base×increment pairs are candidates, so
    // the recurring cost scales with the increment, not the corpus.
    "neardup_incremental" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      NearDup.minHashPairsBetween(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1))
    }),
    // Character-level near-dup: same shingle-equijoin candidates,
    // confirmed by banded Levenshtein (threshold passed into the DP)
    // instead of set Jaccard — catches small-edit rewrites directly.
    "neardup_edit" -> ((s, dir) =>
      NearDup.editDistancePairs(T(s, dir, "documents"))),
    // Substring-granular dedup (the Lee-et-al exact-substring family):
    // per-doc fraction of positional 3-grams that occur in ≥2 distinct
    // docs + the longest consecutive duplicated span — the signal that
    // catches boilerplate/licence/template spans INSIDE otherwise-
    // unique documents, which doc-level near-dup cannot see. Grams
    // shuffle as 60-bit sha slices, never text; runs = one per-doc
    // gaps-and-islands window over duplicated positions only.
    "docs_dup_ngrams" -> ((s, dir) =>
      NearDup.dupNgramStats(T(s, dir, "documents"))),
    // The rewrite half of substring dedup: the same duplicated-gram
    // detection, applied as a transform — every cross-doc-duplicated
    // token span is removed from all but its canonical (min-id) doc,
    // and the cleaned text is rebuilt per doc. Gram keys shuffle as
    // 60-bit sha slices; the duplicated vocabulary is Zipf-small so
    // AQE broadcasts the flagging join.
    "docs_substring_dedup" -> ((s, dir) =>
      NearDup.substringDedup(T(s, dir, "documents"))),
    // Cluster resolution over the confirmed pairs: near-duplication is
    // not transitive, so "keep one per dup group" = connected components
    // (large-star/small-star) + canonical-min per component. Pairs come
    // from the MinHash scale path; the oracle recomputes them exactly
    // and closes them with a recursive CTE.
    "dedup_clusters" -> ((s, dir) =>
      DedupClusters.resolve(NearDup.minHashPairs(T(s, dir, "documents")))),
    // Incremental cluster maintenance: the even-id half plays the
    // already-clustered base corpus, the odd-id half the new tranche
    // (same split convention as neardup_incremental); merge folds the
    // tranche's pairs (within-tranche + cross) into the base assignment
    // touching ONLY clusters incident to a new pair. The oracle is the
    // ONE-SHOT recursive-CTE closure over the full corpus — the hash
    // match is the incremental == batch theorem, proved on the fixture.
    "dedup_clusters_merge" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      // Sign the corpus ONCE: MinHash pair membership is
      // pairwise-determined (per-doc signatures, per-pair confirm), so
      // the full-corpus pair set partitions EXACTLY into base×base
      // (both even) and tranche-incident (any odd) by id parity — the
      // same three pair sets as signing base/inc/cross separately, at
      // one shingle + signature pass instead of four. That reuse is
      // the persisted-signature seam a real incremental deployment
      // runs on ([[graft.streaming.Streams.ingestNearDup]] signs each
      // tranche once for the same reason); the lazy truncation
      // materializes the pair set once for both consumers below.
      val pairs = graft.core.IterCheckpoint.truncate(
        NearDup.minHashPairs(docs).select(col("doc_a"), col("doc_b")),
        None, eager = false)
      val basePairs = pairs
        .where(col("doc_a") % 2 === 0 && col("doc_b") % 2 === 0)
      val newPairs = pairs
        .where(col("doc_a") % 2 === 1 || col("doc_b") % 2 === 1)
      DedupClusters.merge(DedupClusters.resolve(basePairs), newPairs)
    }),

    // Survivorship: per near-dup cluster keep the LONGEST member (ties
    // → smallest id) — the canonical-record policy applied as one
    // max_by hash-agg over the resolved clusters; the id-min canonical
    // dedup_clusters emits is a labeling choice, this is the content-
    // aware one.
    "docs_survivorship" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      DedupClusters.resolve(NearDup.minHashPairs(T(s, dir, "documents")))
        .join(docs, "doc_id")
        .groupBy(col("cluster_id"))
        .agg(
          max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id")))
            .as("survivor_id"),
          max(col("n_chars")).as("survivor_n_chars"),
          count(lit(1)).as("cluster_size"))
    }),

    // -------- blocked entity resolution (north-star extension):
    // SymSpell deletion-neighborhood blocking + banded-Levenshtein
    // confirm (operators/Er.scala) — the dirty-roster generalization
    // of the reference's exact keyed dedup. Self-match over the
    // customer roster: every pair of names within edit distance 1
    // (digit-neighbor custkeys give the corpus organic, deterministic
    // signal — no planting needed).
    "er_fuzzy_pairs" -> ((s, dir) =>
      Er.fuzzyPairs(T(s, dir, "customer"), "c_custkey", "c_name", maxEdit = 1)
        .withColumn("dist", col("dist").cast("long"))),
    // The record-linkage A–B shape: a deterministic dirty feed (one
    // typo per customer, position keyed by custkey) linked back to the
    // clean roster — every clean record within edit 1 of each dirty one.
    "er_link_dirty" -> ((s, dir) =>
      Er.fuzzyJoinBetween(
        dirtyCustomers(s, dir), "dirty_id", "name",
        T(s, dir, "customer"), "c_custkey", "c_name", maxEdit = 1)
        .select(col("left_id").as("dirty_id"),
          col("right_id").as("c_custkey"), col("dist").cast("long").as("dist"))),
    // The same linkage at the maxEdit = 2 contract: depth-2 deletion
    // blocking (~L²/2 keys per record — the key-volume price of the
    // wider guarantee) confirmed at lev <= 2; each dirty record now
    // also reaches its origin's two-digit neighbors.
    "er_link_dirty2" -> ((s, dir) =>
      Er.fuzzyJoinBetween(
        dirtyCustomers(s, dir), "dirty_id", "name",
        T(s, dir, "customer"), "c_custkey", "c_name", maxEdit = 2)
        .select(col("left_id").as("dirty_id"),
          col("right_id").as("c_custkey"), col("dist").cast("long").as("dist"))),

    // Disambiguation on top of the linkage: single best clean match per
    // dirty record (min dist, ties → min custkey), one map-side-partial
    // hash-agg.
    "er_link_best" -> ((s, dir) =>
      Er.bestMatch(Er.fuzzyJoinBetween(
        dirtyCustomers(s, dir), "dirty_id", "name",
        T(s, dir, "customer"), "c_custkey", "c_name", maxEdit = 1))
        .select(col("left_id").as("dirty_id"), col("best_id"),
          col("best_dist").cast("long").as("best_dist"))),

    // -------- similarity search over embeddings (north-star extension)
    // Exact brute-force top-5 for a 1-in-20 query subset (broadcast NLJ,
    // corpus never shuffles) …
    "emb_topk" -> ((s, dir) =>
      Embeddings.cosineTopK(T(s, dir, "embeddings"), col("vec_id") % 20 === 0)),
    // … and the scale path: sign-LSH bucketing + bucket equijoin, the
    // plane count derived from the live corpus count (== Planes at the
    // verify corpus; see the runtime-dial section above).
    "emb_ann_lsh" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Embeddings.annLsh(emb,
        planes = Embeddings.planesFor(emb.count(), LshTargetBucket))
    }),
    // the 100 TB LSH config: corpus-derived planes at the finer
    // ≈16-vector bucket target + 2 independent hyperplane families
    // (the recall dial, exercised in the battery).
    "emb_ann_lsh_scaled" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Embeddings.annLsh(emb,
        planes = Embeddings.planesFor(emb.count(), ScaledLshTargetBucket),
        tables = ScaledLshTables)
    }),
    // Approximate k-NN graph: top-3 bucket-mate neighbors per vector
    // (the semantic-dedup / clustering input) — multi-table duplicate
    // pairs re-agged before a WindowGroupLimit rank.
    "emb_knn_graph" -> ((s, dir) =>
      Embeddings.knnGraph(T(s, dir, "embeddings"), k = KnnGraphK,
        planes = batteryKnnPlanes(s, dir))),
    // PageRank centrality over that k-NN graph — 5 synchronous
    // fixed-point iterations (one edge-shuffle + one hash-agg each),
    // all-integer so the unrolled oracle hash-matches.
    "graph_pagerank" -> ((s, dir) =>
      graft.operators.Graph.pageRank(
        Embeddings.knnGraph(T(s, dir, "embeddings"), k = KnnGraphK,
          planes = batteryKnnPlanes(s, dir))
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst")),
        iters = PageRankIters)
        .select(col("id").as("vec_id"), col("pr").as("pr_x1e12"))),
    // Bounded multi-source BFS over the same k-NN graph: exact hop
    // distance from the nearest seed (frontier iteration — each round
    // touches only newly-reached nodes, not the visited set).
    "graph_bfs" -> ((s, dir) =>
      graft.operators.Graph.bfs(
        Embeddings.knnGraph(T(s, dir, "embeddings"), k = KnnGraphK,
          planes = batteryKnnPlanes(s, dir))
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst")),
        seeds = T(s, dir, "embeddings").where(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("id")),
        maxHops = BfsMaxHops)
        .select(col("id").as("vec_id"), col("dist").as("hops"))),
    // IVF-style ANN: deterministic coarse quantizer (seed-by-id
    // centroids, broadcast n·K assignment) + cell equijoin.
    "emb_ann_ivf" -> ((s, dir) =>
      Embeddings.annIvf(T(s, dir, "embeddings"))),
    // the 100 TB IVF config: centroid rate from centroidStepFor
    // (bounded K ≈ √n quantizer) + top-2 cell probes (the nprobe
    // recall dial, exercised in the battery).
    "emb_ann_ivf_scaled" -> ((s, dir) =>
      Embeddings.annIvf(T(s, dir, "embeddings"),
        centroidStep = ScaledIvfStep, nprobe = ScaledIvfNprobe)),
    // … and with one exact-integer Lloyd refinement: rate-sampled seeds
    // become data-dependent mean centroids (floorDiv elementwise means,
    // bit-identical in the oracle) before the standard cell equijoin.
    "emb_ann_ivf_kmeans" -> ((s, dir) =>
      Embeddings.annIvf(T(s, dir, "embeddings"),
        centroidStep = ScaledIvfStep, kmeansIter = 1)),
    // Per-group centroids (8 hash groups): the vector-aggregation
    // shape — one (group, dim) hash-agg, exact integer means.
    // `%` (sign-of-dividend) on BOTH sides — pmod here would diverge
    // from the oracle's `%` on a negative id.
    "emb_centroids" -> ((s, dir) =>
      Embeddings.groupCentroids(T(s, dir, "embeddings"), col("vec_id") % 8)),
    // 8-bit scalar quantization — the embedding storage-compression op:
    // one narrow projection (no shuffle), exact-integer codes over each
    // vector's own range, position-weighted code checksum + max
    // reconstruction error for the quality audit.
    "emb_quantize" -> ((s, dir) =>
      Embeddings.scalarQuantize(T(s, dir, "embeddings"))),
    // Product-quantization codes — 8 subspaces × per-subspace seed
    // codebooks (id % 32): argmin exact-int64 squared L2 per
    // subvector via one max_by hash-agg over the n·(m·K) broadcast
    // grid; qdist = per-subspace distortion audit.
    "emb_pq_codes" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Embeddings.pqEncode(emb,
        Embeddings.pqCentroids(emb, batteryPqStep(s, dir)))
    }),
    // ADC search over the PQ codes: the corpus is touched ONLY through
    // its m codes; the per-query distance table broadcasts, one
    // (sub, code) equijoin + one hash-agg + WindowGroupLimit top-k.
    "emb_pq_search" -> ((s, dir) =>
      Embeddings.pqAdcTopK(T(s, dir, "embeddings"), col("vec_id") % 20 === 0,
        centroidStep = batteryPqStep(s, dir))),
    // …and the scaled-dial config: 16 finer subspaces + K≈62
    // codebooks (the measured-recall accuracy dials — see
    // ScaledPqSubspaces).
    "emb_pq_search_m16" -> ((s, dir) =>
      Embeddings.pqAdcTopK(T(s, dir, "embeddings"), col("vec_id") % 20 === 0,
        centroidStep = Embeddings.stepForBoundedK(
          T(s, dir, "embeddings").count(), ScaledPqCodebookK),
        m = ScaledPqSubspaces)),
    // IVF-PQ — the composed billion-scale index: IVF cells prune to
    // the home-cell candidates, PQ codes rank them by ADC; the search
    // join reads only assignments and codes, never corpus vectors.
    "emb_ann_ivfpq" -> ((s, dir) =>
      Embeddings.annIvfPq(T(s, dir, "embeddings"), col("vec_id") % 20 === 0,
        pqStep = Some(batteryPqStep(s, dir)))),
    // the decoupled-step IVF-PQ config: the coarse step stays FIXED
    // (cells constant-size → linear candidate equijoin) while the PQ
    // codebook step is corpus-derived via stepForBoundedK so K — and
    // the q·m·K ADC distance table — stays bounded as the corpus
    // grows: the two opposite scaling contracts annIvfPq documents
    // (a single frozen step grew K 16→48 and the distance-table join
    // 9× at the 3× soak; the 10× soak had already OOM'd the forced
    // broadcast before the hint removal).
    "emb_ann_ivfpq_scaled" -> ((s, dir) =>
      Embeddings.annIvfPq(T(s, dir, "embeddings"), col("vec_id") % 20 === 0,
        centroidStep = ScaledIvfStep,
        pqStep = Some(batteryPqStep(s, dir)))),
    // …and the FROZEN-index deployment shape: build the IVF centroid
    // table + PQ codebooks, persist BOTH to parquet, reload, and search
    // the corpus against the reloaded artifacts — the daily-increment
    // run's actual lifecycle (index built once, queries served against
    // the frozen copy). Centroid identities are seed-vector ids, so the
    // round trip is bit-stable and the oracle is the SAME composed
    // ivf+pq SQL as emb_ann_ivfpq — which is the point: a user of the
    // frozen index gets exactly the inline index's answers.
    "emb_ann_ivfpq_frozen" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val base = s"${sys.props("java.io.tmpdir")}/graft_frozen_index"
      Embeddings.ivfCentroids(emb)
        .write.mode("overwrite").parquet(s"$base/ivf_centroids.parquet")
      Embeddings.pqCentroids(emb, batteryPqStep(s, dir))
        .write.mode("overwrite").parquet(s"$base/pq_codebooks.parquet")
      Embeddings.annIvfPqWith(emb, col("vec_id") % 20 === 0,
        s.read.parquet(s"$base/ivf_centroids.parquet"),
        s.read.parquet(s"$base/pq_codebooks.parquet"))
    }),
    // Exact brute-force squared-L2 top-5 for the same 1-in-20 query
    // batch — the companion of emb_topk in the metric the PQ/IVF index
    // family ranks by. Exact int64 distances, bit-reproducible ranking.
    "emb_topk_l2" -> ((s, dir) =>
      Embeddings.l2TopK(T(s, dir, "embeddings"), col("vec_id") % 20 === 0)),
    // Measured recall@3 of the composed IVF-PQ index against the exact
    // squared-L2 top-3 (the index's own metric) — the FAISS-style
    // index-quality number: what the coarse-cell pruning plus the PQ
    // code approximation together cost in true neighbors, per query
    // batch, as one row. Truth is k·|queries| rows (never all-pairs);
    // the report joins are bounded by it.
    "emb_ann_recall" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Eval.topKRecall(
        Embeddings.annIvfPq(emb, col("vec_id") % 20 === 0,
          pqStep = Some(batteryPqStep(s, dir))),
        Embeddings.l2TopK(emb, col("vec_id") % 20 === 0, k = 3))
    }),
    // The probed search itself — IVF-PQ at nprobe=4 (query-side
    // multi-probe through the same in-row top-cells fold as annIvf;
    // corpus assignment stays top-1, so probed candidates are disjoint
    // and cost exactly ∝ nprobe). Raw code-ranked output, oracle = the
    // same composed SQL with the query-cell rank widened to nprobe.
    "emb_ann_ivfpq_probed" -> ((s, dir) =>
      Embeddings.annIvfPq(T(s, dir, "embeddings"), col("vec_id") % 20 === 0,
        pqStep = Some(batteryPqStep(s, dir)), nprobe = IvfPqNprobe)),
    // …and its measured recall with the exact-rerank refinement
    // engaged (PQ top-24 per query re-scored by exact int64 L2): the
    // dial-response record the recall loop exists for — home-cell code
    // order 93‰ → probed 173‰ → probed+refined 320‰ at the verify
    // corpus, against a 547‰ nprobe=4 candidate ceiling.
    "emb_ann_recall_probed" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Eval.topKRecall(
        Embeddings.annIvfPq(emb, col("vec_id") % 20 === 0,
          pqStep = Some(batteryPqStep(s, dir)),
          nprobe = IvfPqNprobe, refine = Some(IvfPqRefine)),
        Embeddings.l2TopK(emb, col("vec_id") % 20 === 0, k = 3))
    }),
    // …and at the accuracy PQ dials (m16 subspaces, K≈62 codebooks —
    // the emb_pq_search_m16 config): the exact rerank recovers the
    // code loss COMPLETELY here, recall == the nprobe=4 candidate
    // ceiling (547‰ at the verify corpus). The full ablation the
    // recall loop buys: 93 (home cell, code order) → 320 (probe +
    // rerank at m8/K16) → 547 of a 547 ceiling (m16/K62).
    "emb_ann_recall_m16" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Eval.topKRecall(
        Embeddings.annIvfPq(emb, col("vec_id") % 20 === 0,
          m = ScaledPqSubspaces,
          pqStep = Some(Embeddings.stepForBoundedK(emb.count(), ScaledPqCodebookK)),
          nprobe = IvfPqNprobe, refine = Some(IvfPqRefine)),
        Embeddings.l2TopK(emb, col("vec_id") % 20 === 0, k = 3))
    }),
    // The recall-vs-cost FRONTIER (the FAISS-bench shape): one row per
    // (m, nprobe, refine) dial cell of the IVF-PQ index, each scored by
    // Eval.topKRecall against the ONE exact L2 top-3 truth — so an
    // index-dial choice at 100 TB cites a measured table, not three
    // point reports. Truth is lazily truncated once and shared by all
    // eight report consumers; each cell's candidate cost is the probed
    // family's (gated at 10×/100× via emb_ann_ivfpq_probed).
    "emb_ann_frontier" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = col("vec_id") % 20 === 0
      def trunc(df: DataFrame) =
        graft.core.IterCheckpoint.truncate(df, None, eager = false)
      // The grid's DIAL-INDEPENDENT frames are each truncated once and
      // shared by every cell that reads them (r18; the 918-node
      // pre-seam executed plan re-planned each subtree per consumer,
      // making the query driver-bound — half its wall was
      // planning/codegen):
      //  - truth, icents, qdf, prepped(corpus): all 8+ consumers;
      //  - sharedCells (corpus assignment): 8 cells + 2 cost counters;
      //  - probedCells per nprobe: that dial's 4 cells + its counter;
      //  - PQ codebook / code table / query ADC distance table per
      //    (m, step): that config's 4 cells (the distance table is
      //    independent of nprobe AND refine);
      //  - each 1-row cost frame: crossJoined into 4 cells.
      // Even truncated, a lazy localCheckpoint runs its AQE stage jobs
      // EAGERLY at construction, so 15 frames = 15 sequential
      // driver-latency-bound materializations. The frame DAG is only
      // 3 levels deep, so they are OVERLAPPED from a small thread pool
      // (guide §2.6 — Spark's scheduler runs concurrent jobs; later
      // jobs back-fill the tail of earlier ones) and the build wall
      // tracks the DAG depth, not the frame count.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val (truth, sharedCells, probedFor, candFor, mStep, codesFor,
          qdistFor, prepQ, prepC) =
        try {
          val truthF = Future(trunc(Embeddings.l2TopK(emb, q, k = 3)))
          val icentsF = Future(trunc(Embeddings.ivfCentroids(emb)))
          val qdfF = Future(trunc(emb.filter(q)))
          val prepCF =
            Future(trunc(Embeddings.prepped(emb, "vec_id", "embedding")))
          val mStepF = Future(Seq(
            Embeddings.PqSubspaces -> batteryPqStep(s, dir),
            ScaledPqSubspaces ->
              Embeddings.stepForBoundedK(emb.count(), ScaledPqCodebookK)))
          val sharedCellsF = icentsF.map(ic =>
            trunc(Embeddings.ivfAssign(emb, ic, assertUniqueIds = false)))
          val prepQF = qdfF.map(qdf =>
            trunc(Embeddings.prepped(qdf, "vec_id", "embedding")))
          val probedForF = Future.sequence(Seq(1, IvfPqNprobe).map { np =>
            for { ic <- icentsF; qdf <- qdfF }
              yield np -> trunc(Embeddings.probedCells(qdf, ic, np))
          }).map(_.toMap)
          val pcentsForF = mStepF.flatMap(ms =>
            Future.sequence(ms.map { case (m, step) =>
              Future((m, step) -> trunc(Embeddings.pqCentroids(emb, step, m)))
            })).map(_.toMap)
          val codesForF = for {
            ms <- mStepF
            pc <- pcentsForF
            codes <- Future.sequence(ms.map { case (m, step) =>
              Future((m, step) ->
                trunc(Embeddings.pqEncode(emb, pc((m, step)), m)
                  .select(col("vec_id"), col("sub"), col("code"))))
            })
          } yield codes.toMap
          val qdistForF = for {
            ms <- mStepF
            pc <- pcentsForF
            qdf <- qdfF
            qd <- Future.sequence(ms.map { case (m, step) =>
              Future((m, step) ->
                trunc(Embeddings.pqQueryDist(qdf, pc((m, step)), m)))
            })
          } yield qd.toMap
          val candForF = for {
            probed <- probedForF
            sc <- sharedCellsF
            cf <- Future.sequence(Seq(1, IvfPqNprobe).map { np =>
              Future(np -> trunc(
                probed(np)
                  .join(sc.select(col("vec_id").as("__nb"), col("cell")),
                    Seq("cell"))
                  .where(col("query_id") =!= col("__nb"))
                  .agg(count(lit(1)).as("n_candidates"))))
            })
          } yield cf.toMap
          Await.result(for {
            t <- truthF; sc <- sharedCellsF; p <- probedForF; c <- candForF
            ms <- mStepF; co <- codesForF; qd <- qdistForF
            pq <- prepQF; pcp <- prepCF
          } yield (t, sc, p, c, ms, co, qd, pq, pcp), Duration.Inf)
        } finally pool.shutdown()
      val cells = for {
        (m, step) <- mStep
        nprobe <- Seq(1, IvfPqNprobe)
        refine <- Seq(Option.empty[Int], Some(IvfPqRefine))
      } yield Eval.topKRecall(
          refine match {
            case None => Embeddings.annIvfPqServeFrom(
              probedFor(nprobe), qdistFor((m, step)),
              sharedCells, codesFor((m, step)), k = 3)
            case Some(r) => Embeddings.annIvfPqServeRefinedFrom(
              probedFor(nprobe), qdistFor((m, step)), prepQ, prepC,
              sharedCells, codesFor((m, step)), k = 3, idCol = "vec_id",
              refine = r)
          },
          truth)
        .crossJoin(candFor(nprobe))
        .select(lit(m.toLong).as("m"), lit(nprobe.toLong).as("nprobe"),
          lit(refine.getOrElse(0).toLong).as("refine"),
          col("n_candidates"),
          col("n_queries"), col("n_truth"), col("n_found"), col("n_hit"),
          col("recall_permille"), col("vacuous"))
      cells.reduce(_ unionByName _)
    }),
    // embedding-cosine near-dup — the vector-space dedup family member:
    // LSH-bucket candidates, honest ≥0.95 threshold over the corpus
    // plus its planted twins (exact + first-coordinate-zeroed; see
    // twinEmbSrc / NearDupCosMicro scaladoc for the soak-linearity
    // argument).
    "emb_neardup" -> ((s, dir) =>
      Embeddings.cosineNearDupPairs(twinEmbSrc(s, dir), NearDupCosMicro,
        planes = batteryKnnPlanes(s, dir))),
    // Measured recall/precision of the LSH-bucketed near-dup against
    // the planted ground truth — the evaluation loop every approximate
    // candidate stage owes its operator: TRUTH = the planted twin
    // relation (origin→exact, origin→near, exact→near where both
    // exist) scored by the EXACT quantized cosine with no buckets —
    // O(n) pairs, never all-pairs — FOUND = the production LSH path.
    "emb_neardup_recall" -> ((s, dir) => {
      val src = twinEmbSrc(s, dir)
      val found = Embeddings.cosineNearDupPairs(src, NearDupCosMicro,
        planes = batteryKnnPlanes(s, dir)).select(col("vec_a"), col("vec_b"))
      val ids = T(s, dir, "embeddings").select(col("vec_id"))
      val rel = ids.where(col("vec_id") % EmbTwinExactMod === 0)
        .select(col("vec_id").as("vec_a"), (col("vec_id") * -2 - 1).as("vec_b"))
        .unionByName(ids.where(col("vec_id") % EmbTwinNearMod === 0)
          .select(col("vec_id").as("vec_a"), (col("vec_id") * -2 - 2).as("vec_b")))
        .unionByName(ids.where(col("vec_id") % EmbTwinExactMod === 0 &&
            col("vec_id") % EmbTwinNearMod === 0)
          .select((col("vec_id") * -2 - 1).as("vec_a"),
            (col("vec_id") * -2 - 2).as("vec_b")))
      // the exact scoring projection the production paths use — one
      // definition (Embeddings.prepped), so the truth side can never
      // quantize differently from the found side it measures
      val qn = Embeddings.prepped(src, "vec_id", "embedding")
      val truth = rel
        .join(qn.select(col("vec_id").as("vec_a"), col("__qv").as("__qa"),
          col("__nsq").as("__na")), "vec_a")
        .join(qn.select(col("vec_id").as("vec_b"), col("__qv").as("__qb"),
          col("__nsq").as("__nb")), "vec_b")
        .where(round(Embeddings.cosine(
            Embeddings.dotQ(col("__qa"), col("__qb")),
            col("__na"), col("__nb")) * 1e6).cast("long") >= NearDupCosMicro)
        .select(col("vec_a"), col("vec_b"))
      Eval.pairRecall(found, truth)
    }),
    // vector-space dedup clusters — the same large-star/small-star
    // resolution as dedup_clusters, fed by cosine near-dup pairs
    // (embedding-granularity keep/drop verdicts).
    "emb_dedup_clusters" -> ((s, dir) =>
      DedupClusters.resolve(
        Embeddings.cosineNearDupPairs(twinEmbSrc(s, dir), NearDupCosMicro,
          planes = batteryKnnPlanes(s, dir)),
        aCol = "vec_a", bCol = "vec_b")
        .select(col("doc_id").as("vec_id"), col("cluster_id"),
          col("cluster_size"), col("is_canonical"))),
    // SemDeDup — IVF-cell-bounded semantic dedup (data-dependent cells,
    // exhaustive comparison inside each cell, keep-first survivor rule)
    // at the paper's 0.95 bar over the twin-planted corpus (see
    // NearDupCosMicro scaladoc for why the honest threshold is also
    // the soak-linear one).
    "emb_semdedup" -> ((s, dir) =>
      Embeddings.semDedup(twinEmbSrc(s, dir),
        Embeddings.CentroidStep, NearDupCosMicro)),

    // -------- multimodal binary ops (north-star extension): the
    // documents text cast to binary stands in for an opaque payload;
    // byte length, SHA-256 fingerprint, header sniff, frame sample and
    // the stub decoder all run on real BinaryType columns. (The
    // file-ingest path — BinaryFilesSource over real files — is
    // exercised by the test suite; parquet fixtures keep the oracle.)
    "multimodal_binary" -> ((s, dir) => {
      val payload = T(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.describe(payload, "payload")
        .select(
          col("doc_id"), col("byte_len"), col("sha256"), col("header_hex"),
          element_at(col("frames_hex"), 1).as("frame0"),
          element_at(col("frames_hex"), 2).as("frame1"),
          element_at(col("frames_hex"), 3).as("frame2"),
          col("decoded.width").as("img_w"),
          col("decoded.height").as("img_h"),
          col("decoded.channels").as("img_c"))
    }),

    // whole-payload exact dedup — content-hash groupBy over the binary
    // column (the document-granularity member of the dedup family;
    // keep_id = the reference's keep-first rule at doc granularity).
    // 0 rows at sf0.01, 8 groups at sf0.1 — an audit like dedup_audit.
    "multimodal_dupes" -> ((s, dir) => {
      val payload = T(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      payload
        .groupBy(Multimodal.sha256Hex(col("payload")).as("sha256"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
        .filter(col("n_copies") > 1)
    }),

    // REAL header decode, differentially tested as parse∘construct=id:
    // payloads are synthesized as VALID PNG / GIF89a / JPEG(JFIF)
    // headers with dimensions derived from doc fields (plus a raw-text
    // "unknown" arm), then Multimodal.imageDims parses them back —
    // magic dispatch, big/little-endian field reads and the bounded
    // JPEG SOF marker walk, all codegen built-ins. The oracle emits
    // the constructed ground truth, so any parser defect mismatches.
    "multimodal_decode" -> ((s, dir) => {
      val w0 = (col("doc_id") % 640 + 1).cast("long")
      val h0 = (col("doc_id") % 480 + 1).cast("long")
      val pngHex = concat(
        lit("89504e470d0a1a0a" + "0000000d" + "49484452"),
        beHex8(w0), beHex8(h0), lit("0806000000"))
      val gifHex = concat(lit("474946383961"), leHex16(w0), leHex16(h0), lit("f70000"))
      val jpegHex = concat(
        lit("ffd8" + "ffe00010" + "4a46494600010100000100010000" + // APP0 JFIF
          "ffdb0005004142" +                                       // DQT stub
          "ffc00011" + "08"),                                      // SOF0, 8-bit
        beHex4(h0), beHex4(w0), lit("03" + "011100021100031100"))
      val payload =
        when(col("doc_id") % 4 === 0, unhex(pngHex))
          .when(col("doc_id") % 4 === 1, unhex(gifHex))
          .when(col("doc_id") % 4 === 2, unhex(jpegHex))
          .otherwise(col("text").cast("binary"))
      val dims = Multimodal.imageDims(col("payload"))
      T(s, dir, "documents")
        .withColumn("payload", payload)
        .select(col("doc_id"),
          dims.getField("format").as("format"),
          dims.getField("width").as("width"),
          dims.getField("height").as("height"))
    }),

    // Image perceptual-hash near-dup — the pixel-level member of the
    // dedup family: 64-bit blockhash-style signature over the payload
    // byte stream (block byte-sums vs their median), paired through
    // the SAME banded-Hamming candidate machinery as SimHash
    // (NearDup.bandedHammingPairs; 8 bands × 8 bits ⇒ pigeonhole-exact
    // for the Hamming ≤ 6 cutoff). Candidates are a band equijoin,
    // never all pairs, and a midpoint-grid SECOND signature confirms
    // each pair — a fixed 64-bit cutoff has a fixed ~7e-7 random
    // collision rate, making single-signature output quadratic in
    // corpus size (the 10× soak finding); two approximately
    // independent signatures square it away while K-byte edits stay
    // ≤ K windows inside each. Every doc_id % 101 == 0 payload also enters as
    // a "re-encode twin" (id + 10⁷) with ONE byte overwritten in
    // place — the byte-level corruption a pixel tweak / bit-rot
    // produces, which is the perturbation class phash exists for
    // (token-level near-dups shift every block and are SimHash's
    // job). The oracle replicates the full integer signature +
    // banding, as neardup_simhash_scaled's does.
    "multimodal_phash" -> ((s, dir) => {
      val (base, twins) = phashCorpus(s, dir)
      Multimodal.pHashPairs(base.unionByName(twins))
    }),

    // Corpus-SCALE perceptual near-dup — same synthesized payloads,
    // 256-block signature (16 bands × 16 bits, band-PAIR keys span 32
    // bits): the 64-bit mode above is pigeonhole-exact but its 16-bit
    // pair keys saturate in the corpus's second decade (the 100× soak
    // measured 576× candidate growth at 50k payloads — n²·C(8,2)/2¹⁶
    // arithmetic, not a plan defect); this is the mode a growing
    // deployment runs, in exactly the relation neardup_simhash_scaled
    // has to neardup_simhash. Oracle replicates the full 256-bit
    // signature + band-pair candidates + dual-grid confirm.
    "multimodal_phash_scaled" -> ((s, dir) => {
      val (base, twins) = phashCorpus(s, dir)
      Multimodal.pHashPairsScaled(base.unionByName(twins))
    }),

    // Measured recall/precision of the scaled pHash path against the
    // PLANTED truth — each (base, re-encode twin) pair IS a known
    // byte-level near-dup by construction, so the byte-domain family
    // gets the same live-corpus quality number the text and vector
    // paths already report (neardup_*_recall, emb_neardup_recall).
    // Extra found pairs (organic base×base signature agreements) show
    // up in precision, exactly as designed.
    "multimodal_phash_recall" -> ((s, dir) => {
      val (base, twins) = phashCorpus(s, dir)
      Eval.pairRecall(
        Multimodal.pHashPairsScaled(base.unionByName(twins)),
        // the planted truth IS the twin relation: (origin, -origin-1)
        base.where(col("doc_id") % 101 === 0)
          .select(col("doc_id").as("doc_a"),
            (-col("doc_id") - 1L).as("doc_b")),
        aCol = "doc_a", bCol = "doc_b")
    }),

    // The recall DIAL row: same banding, same primary pigeonhole
    // envelope, midpoint confirm widened 14 → 20 (the measured twin
    // distances — dev probe phash_twin_ham — put the one missed twin
    // at primary 12 / midpoint 17: the second grid's sampling, not the
    // banding, is what the default cutoff trades away). Candidates are
    // IDENTICAL to the default row by construction (the midpoint test
    // is post-join); together the two rows make the recall/cutoff
    // trade a table instead of a point.
    "multimodal_phash_recall_wide" -> ((s, dir) => {
      val (base, twins) = phashCorpus(s, dir)
      Eval.pairRecall(
        Multimodal.pHashPairsScaled(base.unionByName(twins),
          midMaxHamming = Some(Multimodal.PHashScaledMidHammingWide)),
        base.where(col("doc_id") % 101 === 0)
          .select(col("doc_id").as("doc_a"),
            (-col("doc_id") - 1L).as("doc_b")),
        aCol = "doc_a", bCol = "doc_b")
    }),

    // Audio sibling of multimodal_decode: synthesize valid RIFF/WAVE
    // payloads from doc_id (parse∘construct = id — the same oracle
    // trick), exercising the chunk walk's three real shapes: canonical
    // fmt→data, an odd-sized LIST chunk (pad-byte skip) before fmt,
    // and data BEFORE fmt (chunk order is not a WAV contract). The
    // %4==3 arm stays text → all-null row (magic gate).
    "multimodal_wav" -> ((s, dir) => {
      val ch = (col("doc_id") % 2 + 1).cast("long")
      val rate = lit(8000L) + (col("doc_id") % 8) * 4000L
      val balign = ch * 2 // 16-bit samples
      val brate = rate * balign
      val dsize = (col("doc_id") % 100 + 1) * balign
      val fmtHex = concat(
        lit("666d7420" + "10000000" + "0100"), // "fmt ", size 16, PCM
        leHex16(ch), leHex32(rate), leHex32(brate), leHex16(balign), lit("1000"))
      val dataHex = concat(lit("64617461"), leHex32(dsize),
        repeat(lit("00"), dsize.cast("int")))
      val listHex = // "LIST", odd size 5 ⇒ exercises the pad-byte skip
        lit("4c495354" + "05000000" + "494e464f31" + "00")
      val riff = lit("52494646" + "00000000" + "57415645")
      val payload =
        when(col("doc_id") % 4 === 0, unhex(concat(riff, fmtHex, dataHex)))
          .when(col("doc_id") % 4 === 1,
            unhex(concat(riff, listHex, fmtHex, dataHex)))
          .when(col("doc_id") % 4 === 2, unhex(concat(riff, dataHex, fmtHex)))
          .otherwise(col("text").cast("binary"))
      T(s, dir, "documents")
        .withColumn("payload", payload)
        .withColumn("__info", Multimodal.wavInfo(col("payload")))
        .select(col("doc_id"),
          col("__info.channels").as("channels"),
          col("__info.sample_rate").as("sample_rate"),
          col("__info.bits_per_sample").as("bits_per_sample"),
          col("__info.data_bytes").as("data_bytes"),
          col("__info.duration_ms").as("duration_ms"))
    }),

    // PCM sample decode: synthesize 8-bit mono WAVs whose data bytes
    // follow s_i = (doc_id·31 + i·17) mod 256 (deterministic, analytic
    // oracle), then compute REAL signal features from the payload
    // bytes — peak/mean deviation and zero crossings. The %4==2 arm
    // puts data BEFORE fmt so data_off is exercised under reordering;
    // %4==3 stays text → all-null row (magic + PCM8 gate).
    "multimodal_pcm" -> ((s, dir) => {
      val k = (col("doc_id") % 80 + 16).cast("int")
      val fmtHex = concat(
        lit("666d7420" + "10000000" + "0100" + "0100"),
        leHex32(lit(8000L)), leHex32(lit(8000L)), lit("0100" + "0800"))
      val sampleHex = array_join(
        transform(sequence(lit(0), k - 1),
          i => hx2(col("doc_id") * 31 + i * 17)), "")
      val dataHex = concat(lit("64617461"), leHex32(k), sampleHex)
      // RIFF word alignment: an odd-sized data chunk carries a pad
      // byte when another chunk follows it
      val dataPadded = concat(dataHex,
        when(k % 2 === 1, lit("00")).otherwise(lit("")))
      val riff = lit("52494646" + "00000000" + "57415645")
      val payload =
        when(col("doc_id") % 4 === 2, unhex(concat(riff, dataPadded, fmtHex)))
          .when(col("doc_id") % 4 <= 1, unhex(concat(riff, fmtHex, dataHex)))
          .otherwise(col("text").cast("binary"))
      // materialize the walk result, then the feature struct, each
      // ONCE per row (HOFs are interpreted — inline getFields would
      // re-run them per extracted field)
      T(s, dir, "documents")
        .withColumn("payload", payload)
        .withColumn("__winfo", Multimodal.wavInfo(col("payload")))
        .withColumn("__pcm",
          Multimodal.pcmStats(col("payload"), col("__winfo")))
        .select(col("doc_id"),
          col("__pcm.n_samples").as("n_samples"),
          col("__pcm.peak_dev").as("peak_dev"),
          col("__pcm.mad_x100").as("mad_x100"),
          col("__pcm.crossings").as("crossings"))
    }),

    // Pixel-decode sibling of multimodal_pcm: synthesize uncompressed
    // 24-bpp BMPs (BGR triples, 4-byte-aligned rows, channel bytes
    // derived from doc_id and the pixel index) and compute REAL
    // per-channel means from the payload. The %4==2 arm is a 16-bpp
    // BMP: dims parse, pixel stats gate to null; %4==3 stays text.
    "multimodal_bmp" -> ((s, dir) => {
      val w = (col("doc_id") % 6 + 2).cast("int")
      val h = (col("doc_id") % 4 + 1).cast("int")
      val stride = (idvCol(w * 3 + 3, lit(4)) * 4).cast("int")
      val stride16 = (idvCol(w * 2 + 3, lit(4)) * 4).cast("int")
      val rowsHex = transform(sequence(lit(0), h - 1), r =>
        concat(
          array_join(transform(sequence(lit(0), w - 1), c => {
            val p = r * w + c
            concat(hx2(col("doc_id") * 7 + p * 13),
              hx2(col("doc_id") * 11 + p * 19),
              hx2(col("doc_id") * 3 + p * 29))
          }), ""),
          repeat(lit("00"), stride - w * 3)))
      val pxHex = array_join(rowsHex, "")
      def fileHdr(sz: Column) =
        concat(lit("424d"), leHex32(lit(54L) + sz), lit("00000000"),
          leHex32(lit(54L)))
      def dibHdr(bppHex: String, sz: Column) =
        concat(leHex32(lit(40L)), leHex32(w), leHex32(h), lit("0100"),
          lit(bppHex), lit("00000000"), leHex32(sz),
          leHex32(lit(2835L)), leHex32(lit(2835L)),
          lit("00000000" + "00000000"))
      val sz24 = (stride * h).cast("long")
      val sz16 = (stride16 * h).cast("long")
      val bmp24 = concat(fileHdr(sz24), dibHdr("1800", sz24), pxHex)
      val bmp16 = concat(fileHdr(sz16), dibHdr("1000", sz16),
        repeat(lit("00"), stride16 * h))
      val payload =
        when(col("doc_id") % 4 <= 1, unhex(bmp24))
          .when(col("doc_id") % 4 === 2, unhex(bmp16))
          .otherwise(col("text").cast("binary"))
      T(s, dir, "documents")
        .withColumn("payload", payload)
        .withColumn("__hdr", Multimodal.bmpHeader(col("payload")))
        .withColumn("__bmp",
          Multimodal.bmpStats(col("payload"), col("__hdr")))
        .select(col("doc_id"),
          col("__bmp.width").as("width"),
          col("__bmp.height").as("height"),
          col("__bmp.bpp").as("bpp"),
          col("__bmp.px.n_sampled").as("n_sampled"),
          col("__bmp.px.mean_r_x100").as("mean_r_x100"),
          col("__bmp.px.mean_g_x100").as("mean_g_x100"),
          col("__bmp.px.mean_b_x100").as("mean_b_x100"))
    }),

    // Video sibling of multimodal_wav: synthesize valid ISO-BMFF
    // (MP4) payloads from doc_id (parse∘construct = id, same oracle
    // trick), exercising the box walk's three real shapes: moov AFTER
    // mdat (the normal camera-write layout — the walk must skip mdat
    // by size, not scan it), canonical ftyp→moov→mdat, and a free box
    // before a version-1 mvhd (64-bit duration at the widened
    // offsets). The %4==3 arm stays text → all-null row (magic gate).
    "multimodal_mp4" -> ((s, dir) => {
      val ts = lit(1000L) + (col("doc_id") % 16) * 500L
      val dur = (col("doc_id") % 3600 + 1) * 100L
      val brandHex = when(col("doc_id") % 2 === 0, lit("69736f6d")) // isom
        .otherwise(lit("6d703432")) // mp42
      val ftyp = concat(lit("00000010" + "66747970"), brandHex, lit("00000000"))
      val mdatN = (col("doc_id") % 32).cast("int")
      val mdat = concat(beHex8(lit(8L) + mdatN), lit("6d646174"),
        repeat(lit("00"), mdatN))
      val mvhd0 = concat(lit("0000001c" + "6d766864" + "00000000" +
        "00000000" + "00000000"), beHex8(ts), beHex8(dur))
      val mvhd1 = concat(lit("00000028" + "6d766864" + "01000000" +
        "0000000000000000" + "0000000000000000"), beHex8(ts),
        lpad(lower(hex(dur)), 16, "0"))
      val moov0 = concat(lit("00000024" + "6d6f6f76"), mvhd0)
      val moov1 = concat(lit("00000030" + "6d6f6f76"), mvhd1)
      val free = lit("0000000c" + "66726565" + "00000000")
      val payload =
        when(col("doc_id") % 4 === 0, unhex(concat(ftyp, mdat, moov0)))
          .when(col("doc_id") % 4 === 1, unhex(concat(ftyp, moov0, mdat)))
          .when(col("doc_id") % 4 === 2,
            unhex(concat(ftyp, free, moov1, mdat)))
          .otherwise(col("text").cast("binary"))
      T(s, dir, "documents")
        .withColumn("payload", payload)
        .withColumn("__info", Multimodal.mp4Info(col("payload")))
        .select(col("doc_id"),
          col("__info.brand").as("brand"),
          col("__info.timescale").as("timescale"),
          col("__info.duration").as("duration"),
          col("__info.duration_ms").as("duration_ms"))
    }),

    // -------- text analysis extensions (training-data pipeline ops)
    "text_langid" -> ((s, dir) =>
      TextAnalysis.langId(T(s, dir, "documents"))),
    // Measured langid quality: the confusion matrix of the marker
    // heuristic's predictions against the fixture's lang column — one
    // (label, pred) cell per row; accuracy and per-class errors derive
    // from it. The classifier-quality member of the measurement family
    // (Eval.pairRecall / topKRecall / confusion). The fixture's matrix
    // is en-heavy ACROSS every label because the synthetic text is
    // English-marker token soup for all lang values (the lang column
    // is independent metadata) — the honest reading is "the corpus's
    // text does not support its labels", which is exactly the audit a
    // confusion matrix exists to surface on real data too.
    "docs_langid_confusion" -> ((s, dir) =>
      Eval.confusion(
        TextAnalysis.langId(T(s, dir, "documents"))
          .select(col("doc_id"), col("pred_lang")),
        T(s, dir, "documents").select(col("doc_id"), col("lang")),
        predCol = "pred_lang", labelCol = "lang")),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.quality(T(s, dir, "documents"))),
    "text_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(T(s, dir, "documents"))),
    // Count–Min heavy hitters: fixed-size frequency sketch (cells
    // capped at depth·width per partition regardless of key
    // cardinality), narrow broadcast-probe, exact count joined only
    // against the survivors as the one-sided-error audit.
    "text_heavy_hitters" -> ((s, dir) => {
      val toks = Tokenize.splitTokens(inputCol = "text")(
        T(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(Scalars.wordNorm(col("word")).as("word"))
      Sketches.heavyHitters(toks, "word", HeavyHitterThreshold)
    }),
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(T(s, dir, "documents"))),
    // Context-window chunking: fixed-size overlapping token windows,
    // a narrow explode (no shuffle) — the training/retrieval window
    // prep step.
    "text_chunks" -> ((s, dir) =>
      TextAnalysis.chunk(T(s, dir, "documents"), ChunkTokens, ChunkOverlap)),
    // chunk-fingerprint consumer: shift-resistant partial-overlap pairs
    // via equijoin on the 256-bit rolling hashes (high-entropy keys —
    // join output ∝ true overlaps, the winnowing-style scale shape).
    "text_overlap" -> ((s, dir) =>
      TextAnalysis.overlapPairs(T(s, dir, "documents"))),
    // Winnowing (MOSS): rightmost-min-per-window fingerprint selection
    // — ~2/(w+1) of the k-gram postings with a shared-run guarantee.
    // Per-doc summary + the df-capped pair equijoin consumer.
    "text_winnow" -> ((s, dir) =>
      TextAnalysis.winnow(T(s, dir, "documents"))),
    "text_winnow_pairs" -> ((s, dir) =>
      TextAnalysis.winnowPairs(T(s, dir, "documents"))),
    // Top-3 distinctive terms per doc by fixed-point BM25 (k1=1.2,
    // b=0.75) + linear-idf TF-IDF — corpus-global statistics (df, avgdl)
    // the per-process reference cannot see. All-integer arithmetic so
    // the oracle matches bit-for-bit; rank filter → WindowGroupLimit.
    "text_bm25" -> ((s, dir) =>
      Relevance.bm25TopTerms(docTokens(s, dir))),
    // … and the read side: BM25 retrieval of the top-10 docs for a
    // bag-of-terms query (term-postings candidates, one doc agg,
    // TakeOrderedAndProject top-k).
    "text_search" -> ((s, dir) =>
      Relevance.search(docTokens(s, dir), SearchTerms)),
    // Hybrid retrieval: BM25 and TF-IDF top-20 lists fused by exact-
    // integer reciprocal rank (the incomparable-scales combiner), then
    // top-10 — the multi-scorer RAG-stack shape, ONE corpus pass for
    // both scorers.
    "text_hybrid_search" -> ((s, dir) =>
      Relevance.hybridSearch(docTokens(s, dir), SearchTerms)),
    // Feature hashing: vocabulary → 64 fixed buckets via the
    // cross-engine sha256 slice (no dictionary to build or broadcast),
    // per-doc bucket tf × linear idf — constant-width sparse vectors
    // for a downstream trainer.
    "text_hashed_features" -> ((s, dir) =>
      Relevance.hashedFeatures(docTokens(s, dir), buckets = HashedFeatureBuckets)),
    // Inverted-index build: word → (df, sorted posting string), with
    // the maxDf giant-row dial ENGAGED (words in more docs than the cap
    // carry no retrieval signal and their collect_list cell would grow
    // with the corpus). The oracle replicates the cap.
    "text_inverted_index" -> ((s, dir) =>
      TextAnalysis.invertedIndex(docTokens(s, dir),
        maxDf = T(s, dir, "documents").count() / InvertedIndexMaxDfPctDen)),
    // The 100 TB posting-list shape: fixed-size posting CHUNK rows —
    // no cap needed for boundedness, because no CELL grows with the
    // corpus (a stopword's postings are df/chunk bounded rows flowing
    // through spillable sort/agg, not one unbounded string).
    "text_inverted_index_sharded" -> ((s, dir) =>
      TextAnalysis.invertedIndexSharded(docTokens(s, dir))),
    // Per-language length distribution: nearest-rank p50/p90/p99 in
    // pure integer rank arithmetic (engine-exact, no interpolation).
    "text_length_stats" -> ((s, dir) =>
      TextAnalysis.lengthStats(T(s, dir, "documents"))),
    // Corpus collocations: top-50 adjacent bigrams by fixed-point lift
    // (= exp PMI, same ranking, transcendental-free). Bigrams are a
    // narrow per-row array pass; top-k is TakeOrderedAndProject.
    "text_collocations" -> ((s, dir) =>
      Relevance.collocations(T(s, dir, "documents"))),
    // End-to-end curation pipeline — the composition a real corpus run
    // executes: quality gate × language gate × exact keep-first dedup ×
    // near-dup canonical-only, all in one DAG (semi/anti joins, no
    // collects between stages).
    "docs_curated" -> ((s, dir) => curatedDocs(s, dir)),

    // Per-domain cap — the C4/RefinedWeb "at most k docs per
    // registrable domain, best quality first" anti-domination step:
    // one quality projection + one ranked window that Spark 4 plans as
    // WindowGroupLimit (per-partition top-k pushed below the
    // exchange — a million-page domain ships k·partitions rows, not
    // the domain). Fixture `source` plays the domain.
    "docs_domain_cap" -> ((s, dir) =>
      Curation.domainCap(T(s, dir, "documents"), DomainCapK)),

    // … continued to the finished training set: the curated pool
    // packed into fixed token-budget sequences per source — curate →
    // mix → pack, the whole corpus-to-batches story in one DAG. The
    // curated frame is localCheckpoint'd before packing: it is TINY
    // (the survivor rows — 295 at the 100× soak) with the engine's
    // most expensive lineage (quality × langid × dedup × clustering),
    // and packByBudget's prefix scan consumes its input twice (bucket
    // totals + running sums). Exchange reuse cannot collapse the two
    // consumers here — the self-join re-alias clones the subtree and
    // the token-count lambdas defeat canonical equality — so the
    // materialization is the seam (same rationale as the iterative
    // resolvers' internal checkpoints; measured in SCALE.md r14).
    "docs_training_set" -> ((s, dir) =>
      Curation.packByBudget(
        seamCheckpoint("docs_training_set:" + dir,
          curatedDocs(s, dir).select(col("doc_id"), col("n_tokens"))
            .join(T(s, dir, "documents").select(col("doc_id"), col("source")),
              "doc_id")),
        budgetTokens = PackBudgetTokens)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("pack_id"))),

    // BPE vocabulary induction — tokenizer training on the corpus's
    // word-frequency dict: k greedy most-frequent-pair merges, applied
    // in provably-sequential-equivalent BATCHES (one dict-sized
    // hash-agg + one projection per batch; the driver sees only the
    // model-sized top-of-ranking rows). Output = the ordered merge
    // list, identical to one-merge-per-round greedy (BpeSpec pins it).
    "text_bpe_vocab" -> ((s, dir) =>
      Bpe.train(T(s, dir, "documents"), BpeMergeRounds)),
    // the incremental-maintenance dial (the multi-GB-dictionary path)
    // certified at the ORACLE level, not just by spec equality: same
    // greedy contract, so the same DuckDB oracle must hash-match it
    "text_bpe_vocab_inc" -> ((s, dir) =>
      Bpe.trainMerges(Bpe.wordDict(T(s, dir, "documents")),
        BpeMergeRounds, incremental = true)),
    // … and the encode step under that vocabulary: the collected merge
    // list (the model artifact — k rows) enters the plan as literals;
    // the corpus pass is one narrow per-word projection + one doc agg.
    "text_bpe_encode" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = Bpe.train(docs, BpeMergeRounds)
        .orderBy(col("merge_rank"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      Bpe.encode(docs, merges)
    }),

    // -------- corpus curation (training-data pipeline ops, round 6)
    // Benchmark 8-gram decontamination: every-50th doc plays the eval
    // set; output = training docs sharing verbatim 8-grams with it
    // (the planted near-dups of benchmark docs). Benchmark grams are
    // distinct + broadcast; the corpus side never shuffles.
    "docs_decontaminate" -> ((s, dir) =>
      Curation.contaminationHits(
        T(s, dir, "documents"), col("doc_id") % BenchmarkEvery === 0)),

    // Near-dup decontamination — the paraphrase-tolerant scrub: drop
    // every training doc that is a CONFIRMED MinHash near-duplicate of
    // a benchmark doc (1-in-7 plays the eval set here so the fixture's
    // planted near-dup pairs actually cross the split), keeping docs
    // verbatim decontamination would miss only when reworded. Output =
    // the surviving training corpus.
    "docs_decontam_fuzzy" -> ((s, dir) =>
      Curation.decontaminateFuzzy(
        T(s, dir, "documents"), col("doc_id") % FuzzyBenchmarkEvery === 0)
        .select(col("doc_id"), col("n_chars"))),

    // Bloom-filter decontamination — the membership shape for a
    // reference set too big to broadcast as strings: benchmark grams →
    // fixed-size bit-word table (one bit_or hash-agg, always
    // broadcastable), corpus probes it with k sha256-derived positions.
    // Deterministic hashing → the oracle replays the filter exactly;
    // exact_hit rides along so the result data shows flagged ⊇ exact.
    "docs_decontam_bloom" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val isBench = col("doc_id") % BenchmarkEvery === 0
      // materializeGrams: this composed query consumes the tagged gram
      // table four times (exact hits + bloom build/probe); the seam's
      // shared exchange computes it once (Curation.contaminationGrams)
      val exact = Curation.contaminationHits(docs, isBench,
          materializeGrams = true)
        .select(col("doc_id"), lit(true).as("__ex"))
      Curation.contaminationBloom(docs, isBench, materializeGrams = true)
        .join(exact, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"), col("n_flagged"),
          col("bloom_hit"), coalesce(col("__ex"), lit(false)).as("exact_hit"))
    }),

    // PII redaction audit. The fixture corpus is PII-free by
    // construction, so the query plants one email / IPv4 / phone per
    // doc from the doc's own columns — BOTH engines synthesize the
    // byte-identical text, so the scrub + counts are genuinely
    // exercised end-to-end.
    "text_pii_scrub" -> ((s, dir) => {
      val seeded = T(s, dir, "documents").select(
        col("doc_id"),
        concat_ws(" ",
          lit("reach"),
          concat(col("lang"), lit("."), col("source"), lit("@crawl.example.org")),
          lit("from"),
          concat_ws(".", lit("10"),
            ((col("doc_id") % 200) + 1).cast("string"),
            ((col("doc_id") % 250) + 1).cast("string"),
            ((col("doc_id") % 100) + 1).cast("string")),
          lit("tel"),
          concat(lit("555-01"), lpad((col("doc_id") % 100).cast("string"), 2, "0")),
          col("text")).as("text"))
      Curation.scrubPii(seeded)
        .select(col("doc_id"), col("text"),
          col("n_emails"), col("n_ips"), col("n_phones"))
    }),

    // CDC merge: one day's changes (updates, inserts, tombstones —
    // synthesized deterministically from the base) applied as one
    // full-outer join + coalesce projection.
    "docs_upsert" -> ((s, dir) => {
      val base = T(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val changes = base.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("lang"), col("source"),
          concat(lit("UPDATED "), col("lang")).as("text"),
          lit(false).as("is_delete"))
        .unionByName(base.where(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("lang"),
            col("source"), concat(lit("NEW "), col("source")).as("text"),
            lit(false).as("is_delete")))
        .unionByName(base.where(col("doc_id") % 10 === 5)
          .select(col("doc_id"), col("lang"), col("source"), col("text"),
            lit(true).as("is_delete")))
      Cdc.upsert(base, changes, Seq("doc_id"), deleteCol = Some("is_delete"))
        .select(col("doc_id"), col("lang"), col("source"),
          substring(col("text"), 1, 16).as("text_head"),
          length(col("text")).cast("long").as("text_len"))
    }),

    // Snapshot diff audit — recover the change set between two table
    // versions (added/removed/changed + the columns that moved). The
    // "after" snapshot is synthesized from the same parquet (drops,
    // in-place edits, inserts), so both engines diff byte-identical
    // inputs and every classification branch is exercised.
    "docs_diff" -> ((s, dir) => {
      val before = T(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val after = before.where(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, lit("xx")).otherwise(col("lang")).as("lang"),
          col("source"),
          when(col("doc_id") % 5 === 0, col("n_chars") + 1L)
            .otherwise(col("n_chars")).as("n_chars"))
        .unionByName(before.where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 500000L).as("doc_id"), col("lang"),
            col("source"), col("n_chars")))
      Cdc.snapshotDiff(before, after, Seq("doc_id"))
    }),

    // Markup cleaning. Like text_pii_scrub, the markup is planted from
    // the doc's own columns so BOTH engines synthesize byte-identical
    // dirty text and the strip + entity unescape + collapse is
    // genuinely exercised.
    "text_clean" -> ((s, dir) => {
      val seeded = T(s, dir, "documents").select(
        col("doc_id"),
        concat(
          lit("<div class=\""), col("lang"), lit("\" id='d"), col("doc_id"),
          lit("'>\n <p>"), col("text"),
          lit("</p>\n<br/>&quot;cite&quot; &amp;lt; x&gt;</div>")).as("text"))
      Curation.cleanMarkup(seeded)
        .select(col("doc_id"), col("n_tags"), col("clean_text"))
    }),

    // Unicode canonicalization (custom codegen expression — Spark has
    // no built-in): seed canonically-DECOMPOSED text in-query (every
    // 'a' gains a combining acute U+0301), then NFC-compose it back.
    // Both engines implement the same Unicode canonical composition
    // (JDK Normalizer vs DuckDB's utf8proc), so the composed text
    // hash-matches; the char counts prove composition actually fired
    // (n_decomposed − n_nfc = number of 'a's).
    "text_nfc" -> ((s, dir) => {
      val dec = regexp_replace(col("text"), "a", "a\u0301")
      T(s, dir, "documents").select(
        col("doc_id"),
        Scalars.unicodeNormalize(dec, "NFC").as("text_nfc"),
        length(dec).cast("long").as("n_decomposed"),
        length(Scalars.unicodeNormalize(dec, "NFC")).cast("long").as("n_nfc"))
    }),

    // Gopher-style repetition quality signals (integer fixed-point).
    "text_repetition" -> ((s, dir) =>
      Curation.repetitionStats(T(s, dir, "documents"))),

    // Curriculum binning: per-language quality QUARTILES by rank
    // (balanced buckets whatever the score distribution; value cutoffs
    // would collapse under the fixture's discrete score mass).
    "text_quality_buckets" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val scored = TextAnalysis.quality(docs)
        .select(col("doc_id"), col("score_milli"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      Curation.rankBuckets(scored, "score_milli", "lang")
        .select(col("doc_id"), col("lang"), col("score_milli"), col("bucket"))
    }),

    // Deterministic multiplicative-hash stratified sampling — the
    // reproducible (cross-run AND cross-engine) form of sampleBy.
    "docs_sample_stratified" -> ((s, dir) =>
      Curation.sampleStratified(
        T(s, dir, "documents").select(col("doc_id"), col("lang")), SampleRates)
        .select(col("doc_id"), col("lang"))),

    // Deterministic 3-way corpus split (train/val/test) by hash
    // bucket ranges — stable under corpus growth (a doc's split never
    // depends on other docs), stratification-free narrow projection.
    "docs_split" -> ((s, dir) =>
      T(s, dir, "documents").select(col("doc_id"), col("lang"),
        when(Curation.hashBucket(col("doc_id")) < SplitValPermille, lit("val"))
          .when(Curation.hashBucket(col("doc_id")) < SplitValPermille + SplitTestPermille,
            lit("test"))
          .otherwise(lit("train")).as("split"))),

    // Train/held-out LEAKAGE audit: near-dup pairs that CROSS the
    // docs_split boundary (doc_a in train, doc_b in val/test) — the
    // contamination mode decontamination misses because both sides are
    // in-corpus. Same cross-corpus base×increment machinery as
    // neardup_incremental (candidates never pair train×train or
    // held×held), same exact-Jaccard confirm; an empty result is the
    // clean-split certificate. The held-out side is the SMALL side by
    // construction (~10% of docs), which is exactly the shape
    // minHashPairsBetween scales on: recurring cost follows the
    // increment.
    "docs_split_leakage" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val heldOut =
        Curation.hashBucket(col("doc_id")) < SplitValPermille + SplitTestPermille
      NearDup.minHashPairsBetween(
        docs.where(!heldOut), docs.where(heldOut))
    }),

    // … and the fixed-COUNT form: exactly k docs per stratum, chosen
    // by hash order (a uniform deterministic sample) — rank filter →
    // WindowGroupLimit partial top-k, same machinery as topKPerKey.
    "docs_sample_fixed" -> ((s, dir) =>
      Sessions.topKPerKey(
        T(s, dir, "documents").select(col("doc_id"), col("source")),
        k = FixedSamplePerSource,
        partitionCols = Seq("source"),
        orderCols = Seq(Curation.hashOrder(col("doc_id")), col("doc_id")))
        .select(col("doc_id"), col("source"), col("rk"))),

    // Deterministic weighted top-k: integer priority sampling
    // (hashOrder div weight, k smallest) — inclusion odds scale with
    // n_chars, selection replays bit-for-bit on any engine. One
    // narrow projection + one distributed top-k, no global sort.
    "docs_sample_weighted" -> ((s, dir) =>
      Curation.sampleWeighted(
        T(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        k = WeightedSampleK)),

    // Cluster-coverage sampling: top-quality docs per IVF cell —
    // selection balanced by embedding-space COVERAGE rather than
    // source labels (quality scores × the same cell assignment
    // contract as emb_semdedup; rank<=k compiles to WindowGroupLimit).
    "docs_coverage_sample" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Curation.coverageSample(
        TextAnalysis.quality(T(s, dir, "documents")),
        Embeddings.ivfAssign(emb,
          Embeddings.ivfCentroids(emb, Embeddings.CentroidStep)),
        perCell = CoveragePerCell)
    }),

    // Token-budget mixture selection — per-source hash-ordered prefix
    // under a token budget, computed as a distributed prefix scan
    // (per-bucket totals → broadcast offsets → per-bucket running sum),
    // never one window partition per stratum.
    "docs_mixture" -> ((s, dir) =>
      Curation.mixtureByBudget(
        T(s, dir, "documents").select(col("doc_id"), col("source"),
          FoldGroup.tokenCountExpr(col("text")).as("n_tokens")),
        MixtureBudgets, MixtureDefaultBudget, buckets = MixtureBuckets)
        .select(col("doc_id"), col("source"), col("n_tokens"))),

    // Sequence packing: per-source fixed token-budget pack assignment
    // in the same hash order as the mixture — the context-window
    // batching step. 512-token packs ≈ 3 per source at sf0.01.
    "docs_pack" -> ((s, dir) =>
      Curation.packByBudget(
        T(s, dir, "documents").select(col("doc_id"), col("source"),
          FoldGroup.tokenCountExpr(col("text")).as("n_tokens")),
        budgetTokens = PackBudgetTokens)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("pack_id"))),

    // -------- keyed event-sequence ops (round 6)
    // Gap sessionization (12 h) + per-session rollup: one shuffle on
    // user_id, lag + running-sum over a single window spec, one
    // hash-agg.
    "events_sessionize" -> ((s, dir) =>
      Sessions.sessionStats(eventsTable(s, dir),
        extraAggs = Seq(money(sum(decP(col("value")))).as("sum_value")))
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("t_start"), col("t_end"), col("sum_value"))),

    // Top-3 events per user by value — row_number + rank filter, the
    // shape Spark's WindowGroupLimit rewrites into a partial top-k
    // before the shuffle (asserted in PlanShapeSpec).
    "events_topk_user" -> ((s, dir) =>
      Sessions.topKPerKey(
        eventsTable(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"), col("value")),
        k = 3,
        partitionCols = Seq("user_id"),
        orderCols = Seq(col("value").desc, col("event_id")))),

    // As-of attribution: each purchase joined to the user's latest
    // click at-or-before it (union + one window pass, not a range
    // join); clicks pre-aggregated per (user, ts) to discharge the
    // uniqueness precondition; -1 sentinels keep the unmatched rows
    // int64 on both engines. Oracle = DuckDB's native ASOF LEFT JOIN.
    // Sliding (overlapping) event-time windows — each event lands in
    // len/slide windows via one Expand, one hash-agg; the same
    // aggregation runs under readStream with a watermark.
    "events_window_sliding" -> ((s, dir) =>
      eventsTable(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), money(sum(decP(col("value")))).as("sum_value"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), col("sum_value"))),

    // Regularize the irregular stream onto an hourly grid: empty slots
    // materialized per type with LOCF-filled sums — the resample/gap-fill
    // prep every windowed model needs. Exact integer cents.
    "events_resample" -> ((s, dir) =>
      Sessions.resampleLocf(
        eventsTable(s, dir), keyCol = "event_type", tsCol = "ts",
        valueExpr = (decP(col("value")) * 100).cast("long"),
        slotMicros = 3600000000L)
        .select(col("key").as("event_type"), col("slot").as("hour_idx"),
          col("n_events"), col("value_locf").as("filled_cents"), col("is_gap"))),

    // Exact-moment outlier flags per event type: squared z-score via the
    // cross-multiplied integer identity (n·x−S)²/(n·Q−S²) — one window
    // pass, no float mean/stddev pre-scan.
    "events_outliers" -> ((s, dir) =>
      Sessions.zscoreOutliers(
        eventsTable(s, dir).select(col("event_id"), col("event_type"),
          (decP(col("value")) * 100).cast("long").as("cents")),
        keyCol = "event_type", valueCol = "cents", idCols = Seq("event_id"))),

    // …its robust sibling: median/MAD flags via exact nearest-rank
    // medians — immune to the outliers dragging the mean, degenerate
    // (MAD=0) keys emit nothing.
    "events_outliers_mad" -> ((s, dir) =>
      Sessions.madOutliers(
        eventsTable(s, dir).select(col("event_id"), col("event_type"),
          (decP(col("value")) * 100).cast("long").as("cents")),
        keyCol = "event_type", valueCol = "cents", idCols = Seq("event_id"))),

    // …and the taming counterpart: clamp into the exact nearest-rank
    // [p05, p95] band per type — integer rank percentiles, one shuffle,
    // band lookup as a windowed conditional max (no subquery join).
    "events_winsorize" -> ((s, dir) =>
      Sessions.winsorize(
        eventsTable(s, dir).select(col("event_id"), col("event_type"),
          (decP(col("value")) * 100).cast("long").as("cents")),
        keyCol = "event_type", valueCol = "cents", idCols = Seq("event_id"))),

    // Trailing 7-day rolling activity per user — the RANGE-frame
    // window member: both engines aggregate over exact-microsecond
    // inclusive bounds, so ts ties are frame peers (deterministic
    // without a tiebreaker). One shuffle, one sort, one WindowExec
    // with a linear two-pointer sliding frame.
    "events_rolling" -> ((s, dir) =>
      Sessions.rollingAggs(
        eventsTable(s, dir)
          .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        keys = Seq("user_id"), tsCol = "ts",
        horizonMicros = RollingHorizonMicros,
        aggs = Seq(
          "roll_n" -> count(lit(1)),
          "roll_sum" -> sum(decP(col("value")))))
        .select(col("event_id"), col("user_id"), col("roll_n"),
          money(col("roll_sum")).as("roll_sum"))),

    // Keyless interval-containment join — every event (any user)
    // against user 0's session windows. No equality conjunct exists,
    // so the naive plan is a nested loop; the operator's time-bin
    // equijoin + residual filter replaces it (PlanShapeSpec asserts
    // no BNLJ on this very query).
    "events_range_join" -> ((s, dir) => {
      val ev = eventsTable(s, dir)
      val windows = Sessions.sessionStats(ev.where(col("user_id") === 0))
        .select(col("session_seq").as("window_id"),
          col("t_start"), col("t_end"))
      Sessions.intervalJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        windows, "ts", "t_start", "t_end", binMicros = IntervalBinMicros)
        .select(col("event_id"), col("user_id"), col("window_id"))
    }),

    // Funnel analysis (view → click → purchase) as TWO chained as-of
    // joins: each purchase attributes to the user's latest click within
    // 24 h, and that click to the user's latest view within 24 h — the
    // merge-sorted-streams plan twice, never a range join. Rollup =
    // per-user stage-completion counts.
    "events_funnel" -> ((s, dir) =>
      // the generic N-stage operator (Sessions.funnel) at the 3-stage
      // config the oracle replicates; output renamed to the oracle's
      // historical column names
      Sessions.funnel(eventsTable(s, dir), Seq("view", "click", "purchase"),
          toleranceMicros = FunnelTolMicros)
        .select(col("user_id"),
          col("n_purchase").as("n_purchases"),
          col("n_click").as("n_click_attrib"),
          col("n_view").as("n_full_funnel"))),

    "events_asof" -> ((s, dir) => {
      val ev = eventsTable(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
        .withColumn("click_us", unix_micros(col("ts")))
      Sessions.asofJoin(purchases, clicks, Seq("user_id"), "ts",
          payload = Seq("click_id", "click_us"))
        .select(
          col("purchase_id"), col("user_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(unix_micros(col("ts")) - col("click_us"), lit(-1L)).as("gap_us"))
    }),

    // …and the forward direction: each purchase → the user's NEXT
    // click at-or-after (the "response event" join); same union + one
    // window pass, scanned in reverse time.
    "events_asof_forward" -> ((s, dir) => {
      val ev = eventsTable(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
        .withColumn("click_us", unix_micros(col("ts")))
      Sessions.asofJoin(purchases, clicks, Seq("user_id"), "ts",
          payload = Seq("click_id", "click_us"), forward = true)
        .select(
          col("purchase_id"), col("user_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(col("click_us") - unix_micros(col("ts")), lit(-1L)).as("gap_us"))
    }),

    // Cohort retention matrix — users cohorted by first-event week,
    // cells = active members n weeks later; two hash-aggs + one
    // equijoin, cohort sizes joined back broadcast.
    "events_retention" -> ((s, dir) =>
      Sessions.retention(eventsTable(s, dir))),

    // SCD Type-2 history from the event stream as a change log per
    // user: value runs compressed null-safely, validity intervals via
    // lead() — one shuffle + one sort for both window passes.
    "events_scd2" -> ((s, dir) =>
      graft.operators.Cdc.scd2(
        eventsTable(s, dir).select(col("user_id"), col("ts"),
          col("value"), col("event_id")),
        keys = Seq("user_id"), tsCol = "ts",
        payload = Seq("value"), tieBreak = Seq("event_id"))),

    // First-order Markov transition matrix over per-user event
    // sequences (what follows what, with exact-permille shares) —
    // one user-shuffle + lead, then a hash-agg onto the tiny
    // |types|² pair space.
    "events_transitions" -> ((s, dir) =>
      Sessions.transitions(eventsTable(s, dir))),

    // Two-snapshot categorical drift (χ² homogeneity per source) —
    // snapshots here are the doc-id parity halves; one conditional
    // hash-agg + a broadcast 1-row totals join, exact integers.
    "docs_drift" -> ((s, dir) =>
      Curation.distributionDrift(
        T(s, dir, "documents"), col("source"), col("doc_id") % 2 === 1)),

    // DSIR importance weighting: score every doc by how target-like
    // its hashed bag-of-words is (target = the English stratum),
    // log w = Σ bits_raw − bits_target per token in exact floor-log2
    // integers; selected = w ≥ 1. The token text never shuffles —
    // only small-int bucket keys do; both LM tables broadcast.
    "docs_dsir" -> ((s, dir) =>
      Curation.dsirWeights(T(s, dir, "documents"), col("lang") === "en")),

    // Learned language classifier: multinomial NB over hashed
    // bag-of-words, trained on the deterministic 80% doc-id hash
    // split, scoring every doc — argmin −log₂ posterior in exact
    // floor-log2 bits via ONE min(struct) hash-agg (no per-doc
    // window). The n·K docs×classes grid is the IVF scoring shape.
    // (The fixture corpus shares one vocabulary across langs, so NB
    // correctly collapses to the class prior here — the hash-parity
    // gate exercises the full model path regardless; learned accuracy
    // on separable vocabularies is pinned in TextAnalysisSpec.)
    "docs_classifier" -> ((s, dir) =>
      TextAnalysis.nbClassifier(T(s, dir, "documents"))),

    // Triangle census of the k-NN similarity graph — wedge equijoin +
    // closing left-semi join on canonical lo<hi edges; the global
    // clustering coefficient in exact fixed point.
    "graph_triangles" -> ((s, dir) =>
      graft.operators.Graph.triangleStats(
        Embeddings.knnGraph(T(s, dir, "embeddings"), k = KnnGraphK,
          planes = batteryKnnPlanes(s, dir))
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst")))),

    // Contrastive-pair mining: per labeled anchor, the top same-label
    // and top cross-label (hard-negative) k-NN neighbor — two tiny
    // label joins over the bucketed graph, one max_by hash-agg.
    "emb_contrastive" -> ((s, dir) =>
      Embeddings.contrastivePairs(T(s, dir, "embeddings"), k = KnnGraphK,
        planes = batteryKnnPlanes(s, dir))),

    // Unigram-LM cross-entropy scoring (the CCNet-style perplexity
    // filter) in exact integer bits: tf hash-agg → Zipf-bounded model
    // join → per-doc rollup; -log2 p as floorlog2 via bin().
    // Sparse TF-IDF cosine pairs — lexical "related documents" with
    // exact integer weights/norms; candidates from a df-capped TERM
    // equijoin, never all-pairs.
    "text_tfidf_sim" -> ((s, dir) =>
      TextAnalysis.tfidfSimilarity(T(s, dir, "documents"),
        maxDf = TfidfMaxDf, minCosX1e6 = TfidfMinCos)),

    // TextRank corpus keywords: integer PageRank over the adjacent-
    // token co-occurrence graph, top-k by centrality.
    "text_keywords" -> ((s, dir) =>
      TextAnalysis.keywords(T(s, dir, "documents"),
        k = KeywordsK, iters = KeywordsIters)),

    "text_lm_score" -> ((s, dir) =>
      TextAnalysis.lmScore(T(s, dir, "documents"))),

    // …and the order-2 conditional form: -log2 p(w2|w1) in exact bits,
    // bigrams generated narrowly (zip_with of shifted slices — no
    // window), context counts rolled up FROM the pair counts.
    "text_lm_bigram" -> ((s, dir) =>
      TextAnalysis.lmScoreBigram(T(s, dir, "documents"))),

    // Deterministic label-propagation communities over the k-NN graph
    // (min-label tie-break, 4 synchronous rounds) — the dense-cluster
    // complement of connected components.
    "graph_communities" -> ((s, dir) =>
      graft.operators.Graph.labelPropagation(
        Embeddings.knnGraph(T(s, dir, "embeddings"), k = KnnGraphK,
          planes = batteryKnnPlanes(s, dir))
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst")),
        iters = LpaIters)
        .select(col("id").as("vec_id"), col("community"))),

    // Unicode-script mix per doc — codepoint-class counts by regex
    // removal, fixed precedence for the dominant script; zero-shuffle
    // narrow projection.
    "text_scripts" -> ((s, dir) =>
      TextAnalysis.scriptMix(T(s, dir, "documents"))),

    // Temperature mixing (T=2): dominant sources downsampled toward
    // the small ones by deterministic hash with all-integer isqrt
    // rates — the corpus never shuffles, rates join back broadcast.
    "docs_mixture_temperature" -> ((s, dir) =>
      Curation.temperatureMix(
        T(s, dir, "documents").select(col("doc_id"), col("source")))
        .select(col("doc_id"), col("source"), col("rate_x1000"))),

    // Source-vocabulary overlap matrix: exact Jaccard between distinct
    // normalized-token sets per source pair — vocab-stream self-join,
    // totals broadcast; which ingests duplicate which.
    "docs_source_similarity" -> ((s, dir) =>
      TextAnalysis.sourceSimilarity(T(s, dir, "documents"))),

    // Dataset-card summary — the one-row corpus report a training run
    // records next to its data: volume, diversity, exact-dup rate,
    // mean length. One scan; the count-distincts expand into parallel
    // partial aggregates, never a driver-side pass.
    "docs_stats_report" -> ((s, dir) =>
      T(s, dir, "documents")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum(FoldGroup.tokenCountExpr(col("text"))).as("n_tokens"),
          (count(lit(1)) - countDistinct(col("text"))).as("n_dup_docs"))
        .select(col("n_docs"), col("n_langs"), col("n_sources"),
          col("n_tokens"), col("n_dup_docs"),
          expr("(n_tokens * 100) div n_docs").as("mean_tokens_x100"),
          expr("(n_dup_docs * 10000) div n_docs").as("dup_x10000")))
  )

  /** Why a main's command line is bad, or None: `usage` when `argsOk` is
    * false, otherwise the names in `names` that are not [[queries]] keys,
    * with the valid ones. */
  def cliError(usage: String, argsOk: Boolean, names: Seq[String]): Option[String] = {
    val known = queries.keySet
    if (!argsOk) Some(s"usage: $usage")
    else names.filterNot(known) match {
      case Seq() => None
      case unknown => Some(s"unknown query: ${unknown.mkString(", ")}; " +
        s"valid queries: ${known.toSeq.sorted.mkString(", ")}")
    }
  }

  /** Prints [[cliError]]'s message and exits 2, before a main starts Spark. */
  def checkCli(usage: String, argsOk: Boolean, names: Seq[String]): Unit =
    cliError(usage, argsOk, names).foreach { msg =>
      System.err.println(msg)
      sys.exit(2)
    }

  def oracleSql: Map[String, String] = Map(
    "wordstats" ->
      s"""$toksCte,
         |counts AS (SELECT doc_id, count(*) AS words_count FROM toks GROUP BY doc_id),
         |firsts AS (SELECT doc_id, arg_min(word, pos) AS word
         |           FROM toks GROUP BY doc_id, lower(trim(word)))
         |SELECT f.doc_id,
         |       substring(f.word, 1, 254) AS word,
         |       CAST(length(translate(f.word, '$diac', '')) AS BIGINT) AS word_len,
         |       length(f.word) > 255 AS word_truncated,
         |       c.words_count
         |FROM firsts f JOIN counts c USING (doc_id)""".stripMargin,

    "wordstats_files" ->
      s"""$toksCte,
         |counts AS (SELECT doc_id, count(*) AS words_count FROM toks GROUP BY doc_id),
         |firsts AS (SELECT doc_id, arg_min(word, pos) AS word
         |           FROM toks GROUP BY doc_id, lower(trim(word))),
         |paths AS (
         |  SELECT doc_id,
         |         'data/corpus/' || source || '/' || lang || '/doc_' ||
         |         CAST(doc_id AS VARCHAR) || '.txt' AS path
         |  FROM documents),
         |files AS (
         |  SELECT doc_id,
         |         substring(array_to_string(list_slice(string_split(path, '/'),
         |           greatest(1, len(string_split(path, '/')) - 4),
         |           len(string_split(path, '/'))), '/'), 1, 269) AS file
         |  FROM paths)
         |SELECT substring(f.word, 1, 254) AS word,
         |       CAST(length(translate(f.word, '$diac', '')) AS BIGINT) AS word_len,
         |       length(f.word) > 255 AS word_truncated,
         |       fl.file,
         |       c.words_count
         |FROM firsts f
         |JOIN counts c USING (doc_id)
         |JOIN files fl USING (doc_id)""".stripMargin,

    // chunk-invariance IS the assertion: the line-row plan must
    // reproduce the whole-text wordstats result bit-for-bit
    "wordstats_chunked" ->
      s"""$toksCte,
         |counts AS (SELECT doc_id, count(*) AS words_count FROM toks GROUP BY doc_id),
         |firsts AS (SELECT doc_id, arg_min(word, pos) AS word
         |           FROM toks GROUP BY doc_id, lower(trim(word)))
         |SELECT f.doc_id,
         |       substring(f.word, 1, 254) AS word,
         |       CAST(length(translate(f.word, '$diac', '')) AS BIGINT) AS word_len,
         |       length(f.word) > 255 AS word_truncated,
         |       c.words_count
         |FROM firsts f JOIN counts c USING (doc_id)""".stripMargin,

    "tokenize" ->
      s"""$toksCte
         |SELECT doc_id, CAST(pos - 1 AS BIGINT) AS pos, word FROM toks""".stripMargin,

    "tokenize_arabic" ->
      s"""WITH src(id, text) AS (VALUES $arabicValues),
         |runs AS (
         |  SELECT id,
         |         unnest(regexp_extract_all(text, '${Tokenize.ArabicRunPattern}')) AS word,
         |         generate_subscripts(regexp_extract_all(text, '${Tokenize.ArabicRunPattern}'), 1) AS p
         |  FROM src)
         |SELECT CAST(id AS BIGINT) AS id, CAST(p - 1 AS BIGINT) AS pos, word,
         |       translate(word, '$diac', '') AS word_nodiac
         |FROM runs""".stripMargin,

    "text_ngram_tokens" ->
      """WITH g AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(1, length(text) - 2)) AS i
        |  FROM documents)
        |SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |       substr(text, i, 3) AS gram
        |FROM g""".stripMargin,

    "token_count" ->
      s"""$toksCte
         |SELECT d.doc_id, coalesce(c.words_count, 0) AS words_count
         |FROM documents d LEFT JOIN
         |  (SELECT doc_id, count(*) AS words_count FROM toks GROUP BY doc_id) c
         |  USING (doc_id)""".stripMargin,

    "dedup_first_seen" ->
      s"""$toksCte
         |SELECT doc_id, arg_min(word, pos) AS word,
         |       CAST(min(pos) - 1 AS BIGINT) AS pos
         |FROM toks GROUP BY doc_id, lower(trim(word))""".stripMargin,

    "dedup_duplicates_only" ->
      s"""$toksCte
         |SELECT doc_id, word, CAST(pos - 1 AS BIGINT) AS pos FROM (
         |  SELECT doc_id, word, pos, row_number() OVER (
         |    PARTITION BY doc_id, lower(trim(word)) ORDER BY pos) AS rn
         |  FROM toks) WHERE rn > 1""".stripMargin,

    "dedup_audit" ->
      s"""$toksCte,
         |firsts AS (SELECT doc_id, arg_min(word, pos) AS word
         |           FROM toks GROUP BY doc_id, lower(trim(word)))
         |SELECT word_norm, doc_id, n FROM (
         |  SELECT lower(trim(word)) AS word_norm, doc_id, count(*) AS n
         |  FROM firsts GROUP BY 1, 2) WHERE n > 1""".stripMargin,

    "attrs_project" ->
      """SELECT c_custkey, substring(c_name, 1, 5) AS c_name, c_nationkey,
        |       c_mktsegment, 'graft-0.1' AS engine_ver,
        |       CAST(length(c_name) AS BIGINT) AS name_len
        |FROM customer""".stripMargin,

    "required_projection" ->
      """SELECT o_orderkey AS order_key,
        |       nullif(o_orderstatus, 'F') AS status,
        |       o_totalprice AS price
        |FROM orders WHERE nullif(o_orderstatus, 'F') IS NOT NULL""".stripMargin,

    "scalar_funcs" ->
      s"""WITH p AS (
         |  SELECT doc_id, text,
         |         'data/corpus/' || source || '/' || lang || '/doc_' ||
         |         CAST(doc_id AS VARCHAR) || '.txt' AS path
         |  FROM documents)
         |SELECT doc_id,
         |  array_to_string(list_slice(string_split(path, '/'),
         |    greatest(1, len(string_split(path, '/')) - 4),
         |    len(string_split(path, '/'))), '/') AS file5,
         |  substring(path, 1, 269) AS path269,
         |  CAST(length(path) AS BIGINT) AS path_len,
         |  length(path) > 270 AS path_gt_270,
         |  substring(text, 1, 254) AS text254,
         |  length(text) > 255 AS text_gt_255,
         |  CAST(length(translate(text, '$diac', '')) AS BIGINT) AS text_len_nodiac
         |FROM p""".stripMargin,

    "rel_count" -> "SELECT count(*) AS n FROM lineitem",
    "rel_filtered_count" ->
      "SELECT count(*) AS n FROM lineitem WHERE l_returnflag = 'R'",
    "rel_sum_distinct_pairs" ->
      s"""$toksCte,
         |counts AS (SELECT doc_id, count(*) AS words_count FROM toks GROUP BY doc_id)
         |SELECT CAST(SUM(words_count) AS BIGINT) AS total
         |FROM (SELECT DISTINCT doc_id, words_count FROM counts)""".stripMargin,
    "rel_count_distinct" ->
      "SELECT count(DISTINCT l_partkey) AS n FROM lineitem",
    // the sketch CONTRACT rows: the exact side is cross-engine, and
    // the oracle pins the bound booleans to TRUE — if Spark's sketch
    // ever drifts out of its advertised error bound, the Spark side
    // emits false and the row goes red.
    "rel_approx_count_distinct" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact,
        |       TRUE AS within_2pct FROM lineitem""".stripMargin,
    "events_kmv_distinct" -> {
      val k = Sketches.KmvK
      s"""WITH d AS (
         |  SELECT DISTINCT event_type,
         |    CAST(CAST(('0x' || substring(sha256(CAST(user_id AS VARCHAR)), 1, 15))
         |      AS UBIGINT) AS BIGINT) AS h
         |  FROM events),
         |r AS (
         |  SELECT event_type, h,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
         |  FROM d),
         |s AS (SELECT event_type, count(*) AS n, max(h) AS hk
         |      FROM r WHERE rk <= $k GROUP BY 1),
         |e AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
         |      FROM events GROUP BY 1)
         |SELECT e.event_type, CAST(e.n_exact AS BIGINT) AS n_exact,
         |       CAST(CASE WHEN s.n < $k THEN s.n
         |                 ELSE CAST(${k - 1} AS HUGEINT) * ${1L << 60} // s.hk
         |            END AS BIGINT) AS kmv_distinct
         |FROM e JOIN s USING (event_type)""".stripMargin
    },
    "rel_approx_quantiles" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |       TRUE AS p50_rank_ok, TRUE AS p90_rank_ok,
        |       TRUE AS p99_rank_ok
        |FROM lineitem""".stripMargin,
    "rel_limit" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 1000""".stripMargin,

    "docs_split" ->
      s"""SELECT doc_id, lang,
         |       CASE WHEN (${Curation.hashOrderSql("doc_id")}) % 1000
         |                 < $SplitValPermille THEN 'val'
         |            WHEN (${Curation.hashOrderSql("doc_id")}) % 1000
         |                 < ${SplitValPermille + SplitTestPermille} THEN 'test'
         |            ELSE 'train' END AS split
         |FROM documents""".stripMargin,

    "docs_sample_fixed" ->
      s"""SELECT doc_id, source, rk FROM (
         |  SELECT doc_id, source,
         |         CAST(row_number() OVER (PARTITION BY source
         |           ORDER BY ${Curation.hashOrderSql("doc_id")},
         |                    doc_id) AS BIGINT) AS rk
         |  FROM documents) WHERE rk <= $FixedSamplePerSource""".stripMargin,

    "docs_sample_weighted" ->
      s"""SELECT doc_id, source, n_chars,
         |       CAST((${Curation.hashOrderSql("doc_id")})
         |            // greatest(n_chars, 1) AS BIGINT) AS priority
         |FROM documents
         |ORDER BY priority, doc_id LIMIT $WeightedSampleK""".stripMargin,

    // coverage sampling: the shared IVF-assignment fragment + the
    // text_quality oracle (nested WITH as a derived table) + the same
    // (score DESC, id) rank rule.
    "docs_coverage_sample" ->
      s"""$embCte,
         |$ivfAssignCte,
         |qual AS (SELECT doc_id, score_milli FROM ($qualitySql)),
         |r AS (
         |  SELECT a.vec_id AS doc_id, a.cell, q.score_milli,
         |         CAST(row_number() OVER (PARTITION BY a.cell
         |           ORDER BY q.score_milli DESC, a.vec_id) AS BIGINT) AS cell_rank
         |  FROM assign a JOIN qual q ON q.doc_id = a.vec_id)
         |SELECT doc_id, cell, score_milli, cell_rank
         |FROM r WHERE cell_rank <= $CoveragePerCell""".stripMargin,

    "rel_fk_audit" ->
      """SELECT 'lineitem->orders' AS fk, count(*) AS n_orphans FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'lineitem->part', count(*) FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        |UNION ALL
        |SELECT 'orders->customer', count(*) FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)""".stripMargin,

    "rel_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_acctbal,
        |       CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,

    "rel_zorder" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey,
         |       ${Layout.zValueSql(Seq("(l_orderkey % 65536)", "(l_partkey % 65536)"))} AS z
         |FROM lineitem""".stripMargin,

    "layout_compaction" ->
      """WITH f AS (
        |  SELECT 'part=' || (doc_id % 10) AS dir,
        |         'f' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS path,
        |         ((doc_id * doc_id) % 97 + 1) * 131072 AS bytes
        |  FROM documents),
        |c AS (
        |  SELECT dir, path, bytes, bytes < 4194304 AS small,
        |         coalesce(sum(bytes) OVER (
        |           PARTITION BY dir, bytes < 4194304 ORDER BY path
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS cum
        |  FROM f)
        |SELECT dir, path, CAST(bytes AS BIGINT) AS bytes,
        |       CASE WHEN small THEN 'compact' ELSE 'keep' END AS action,
        |       CASE WHEN small
        |            THEN dir || '#' || CAST(cum // 4194304 AS VARCHAR) END
        |         AS group_id
        |FROM c""".stripMargin,

    // the executed rewrite preserves the corpus bit-exactly — the
    // engine-portable half of the compaction contract (group ids
    // depend on physical parquet sizes no other engine can predict)
    "layout_compaction_exec" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    "rel_cube" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_acctbal,
        |       CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE(r_name, n_name)""".stripMargin,

    "rel_grouping_sets" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_acctbal,
        |       CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (n_name), ())""".stripMargin,

    "rel_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(row_number() OVER w_total AS BIGINT) AS rn,
        |       coalesce(lag(o_orderkey, 1) OVER w_total, -1) AS prev_okey,
        |       coalesce(lead(o_orderkey, 1) OVER w_total, -1) AS next_okey,
        |       CAST(ntile(4) OVER w_total AS BIGINT) AS tile4,
        |       CAST(rank() OVER w_prio AS BIGINT) AS rk_prio,
        |       CAST(dense_rank() OVER w_prio AS BIGINT) AS drk_prio
        |FROM orders
        |WINDOW w_total AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       w_prio  AS (PARTITION BY o_custkey ORDER BY o_orderpriority)""".stripMargin,

    "rel_pivot" ->
      """SELECT o_orderpriority,
        |       count(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_f,
        |       count(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_o,
        |       count(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_p
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin,

    "rel_setops" ->
      """WITH y94 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE year(o_orderdate) = 1994),
        |     y95 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE year(o_orderdate) = 1995)
        |SELECT 'both' AS op, o_custkey FROM (
        |  SELECT o_custkey FROM y94 INTERSECT SELECT o_custkey FROM y95)
        |UNION ALL
        |SELECT 'only_1994', o_custkey FROM (
        |  SELECT o_custkey FROM y94 EXCEPT SELECT o_custkey FROM y95)
        |UNION ALL
        |SELECT 'only_1995', o_custkey FROM (
        |  SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y94)""".stripMargin,

    "rel_histogram" ->
      """WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |           FROM orders)
        |SELECT cents // 5000000 AS bucket, count(*) AS n_orders,
        |       min(cents) AS min_cents, max(cents) AS max_cents
        |FROM c GROUP BY 1""".stripMargin,

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(4,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(4,2))) *
        |    (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(4,2))), 2) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q18_big_orders" ->
      s"""WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(4,2))), 2) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(4,2))), 2) AS DOUBLE) > ${Q18MinQty})
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,

    "join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS acctbal_sum
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "events_window" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "events_json" ->
      """SELECT CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "neardup_ngram" -> neardupSql,
    "neardup_minhash" -> neardupSql,
    "neardup_simhash" -> neardupSql,
    // banded mode is probabilistic, so the oracle replicates the FULL
    // r×b candidate generation (sha256 min-hash words, band key =
    // comma-joined words in hash-index order), then exact-confirms.
    "neardup_minhash_banded" -> minhashBandedSql,
    // text near-dup recall reports: FOUND nests the path's own oracle
    // (identical candidate predicates), TRUTH the exact-Jaccard oracle,
    // and the report replicates Eval.pairRecall's normalize/count/
    // permille math column for column.
    "neardup_minhash_recall" -> pairRecallSql(neardupSql, neardupSql),
    "neardup_minhash_banded_recall" ->
      pairRecallSql(minhashBandedSql, neardupSql),
    "neardup_simhash_recall" -> pairRecallSql(simhashScaledSql, neardupSql),
    // cross-corpus form: doc_a from the even-id base, doc_b from the
    // odd-id increment — same exact-Jaccard prelude, different pairing.
    "neardup_incremental" ->
      s"$neardupPreludeSql,\n${neardupTailSql("a.doc_id % 2 = 0 AND b.doc_id % 2 = 1")}",

    // train×held-out pairing via the SAME split hash as docs_split.
    "docs_split_leakage" -> {
      val cut = SplitValPermille + SplitTestPermille
      s"$neardupPreludeSql,\n${neardupTailSql(
        s"(${Curation.hashOrderSql("a.doc_id")}) % 1000 >= $cut " +
          s"AND (${Curation.hashOrderSql("b.doc_id")}) % 1000 < $cut")}"
    },

    // same shingle-equijoin candidate set, Levenshtein confirm — the
    // full DP here (DuckDB has no banded threshold variant); identical
    // integer distances either way.
    "neardup_edit" ->
      s"""$neardupPreludeSql,
         |shh AS (
         |  -- 60-bit sha slice of each shingle: the identical digest the
         |  -- Spark side joins on, so candidate sets match bit-for-bit
         |  SELECT doc_id,
         |         CAST(CAST(('0x' || substring(sha256(s), 1, 15)) AS UBIGINT)
         |           AS BIGINT) AS h
         |  FROM sh),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |       CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist
         |FROM cand
         |JOIN documents ta ON ta.doc_id = doc_a
         |JOIN documents tb ON tb.doc_id = doc_b
         |WHERE levenshtein(ta.text, tb.text) <= ${NearDup.MaxEditDist}""".stripMargin,

    // Substring-granular dedup: positional (multiplicity-preserving)
    // 3-grams, duplicated = gram in ≥2 distinct docs, runs via the
    // gaps-and-islands window — the 60-bit sha256-slice gram key is
    // replicated so the engines agree even under (astronomically rare)
    // slice collisions.
    "docs_dup_ngrams" -> {
      // gram width interpolated from NearDup.ShingleN (the Spark side's
      // default) so the two can never silently drift
      val gram = (0 until NearDup.ShingleN)
        .map(j => if (j == 0) "ts[i]" else s"ts[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH t2 AS (SELECT doc_id, $tokList AS ts FROM documents),
         |pg AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |         CAST(CAST(('0x' || substring(
         |           sha256($gram),
         |           1, 15)) AS UBIGINT) AS BIGINT) AS k
         |  FROM t2, unnest(range(1, greatest(len(ts) - ${NearDup.ShingleN - 2}, 1))) AS u(i)),
         |dup AS (SELECT k FROM (SELECT DISTINCT doc_id, k FROM pg)
         |        GROUP BY k HAVING count(*) >= 2),
         |fl AS (SELECT doc_id, pos FROM pg WHERE k IN (SELECT k FROM dup)),
         |isl AS (SELECT doc_id,
         |               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
         |                 AS island
         |        FROM fl),
         |runs AS (SELECT doc_id, count(*) AS run FROM isl GROUP BY doc_id, island),
         |rd AS (SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_dup,
         |              CAST(max(run) AS BIGINT) AS max_run
         |       FROM runs GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM pg GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id,
         |  CAST(coalesce(tot.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(rd.n_dup, 0) AS BIGINT) AS n_dup_grams,
         |  CAST(CASE WHEN coalesce(tot.n_grams, 0) > 0
         |       THEN coalesce(rd.n_dup, 0) * 1000 // tot.n_grams
         |       ELSE 0 END AS BIGINT) AS dup_x1000,
         |  CAST(coalesce(rd.max_run, 0) AS BIGINT) AS max_dup_run
         |FROM documents d
         |LEFT JOIN tot USING (doc_id) LEFT JOIN rd USING (doc_id)""".stripMargin
    },

    // Rewrite half of substring dedup: duplicated grams (≥2 distinct
    // docs) keep their canonical min-id doc's copies; every covered
    // position elsewhere is dropped and the text is re-joined in
    // position order. Same 60-bit sha gram key as docs_dup_ngrams.
    "docs_substring_dedup" -> {
      val gram = (0 until NearDup.ShingleN)
        .map(j => if (j == 0) "ts[i]" else s"ts[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH t2 AS (SELECT doc_id, $tokList AS ts FROM documents),
         |words AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos, ts[i] AS w
         |  FROM t2, unnest(range(1, len(ts) + 1)) AS u(i)),
         |pg AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |         CAST(CAST(('0x' || substring(
         |           sha256($gram),
         |           1, 15)) AS UBIGINT) AS BIGINT) AS k
         |  FROM t2, unnest(range(1, greatest(len(ts) - ${NearDup.ShingleN - 2}, 1))) AS u(i)),
         |gs AS (SELECT k, min(doc_id) AS canon
         |       FROM (SELECT DISTINCT doc_id, k FROM pg)
         |       GROUP BY k HAVING count(*) >= 2),
         |fl AS (SELECT pg.doc_id AS doc_id, pg.pos AS pos
         |       FROM pg JOIN gs USING (k) WHERE pg.doc_id > gs.canon),
         |rm AS (SELECT DISTINCT doc_id, pos + j AS pos
         |       FROM fl, unnest(range(0, ${NearDup.ShingleN})) AS v(j)),
         |kept AS (SELECT w.doc_id, w.pos, w.w
         |         FROM words w ANTI JOIN rm
         |           ON w.doc_id = rm.doc_id AND w.pos = rm.pos),
         |reb AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text,
         |               count(*) AS n_kept
         |        FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_tokens FROM words GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id,
         |  coalesce(reb.text, '') AS text,
         |  CAST(coalesce(tot.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(tot.n_tokens, 0) - coalesce(reb.n_kept, 0) AS BIGINT)
         |    AS n_removed
         |FROM documents d
         |LEFT JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)""".stripMargin
    },

    // Transitive closure of the exact near-dup pairs via recursive CTE;
    // component id = min reachable doc id (matches star-contraction's
    // canonical-min convention on the Spark side).
    "dedup_clusters" ->
      s"""WITH RECURSIVE p AS ($neardupSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM p
         |      UNION SELECT doc_b, doc_a FROM p),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u)
         |SELECT doc_id, cluster_id,
         |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |       (doc_id = cluster_id) AS is_canonical
         |FROM comp""".stripMargin,

    // merge's oracle is deliberately NOT incremental: the one-shot
    // closure over the full corpus pair set. Spark computes
    // merge(resolve(base-pairs), tranche-pairs); hash equality IS the
    // star-contraction theorem CC(star(CC(P1)) ∪ P2) = CC(P1 ∪ P2)
    // (minHash pair membership is pairwise-determined — per-doc
    // signatures, per-pair confirm — so base/tranche/cross pairs
    // partition the full pair set exactly).
    "dedup_clusters_merge" ->
      s"""WITH RECURSIVE p AS ($neardupSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM p
         |      UNION SELECT doc_b, doc_a FROM p),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u)
         |SELECT doc_id, cluster_id,
         |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |       (doc_id = cluster_id) AS is_canonical
         |FROM comp""".stripMargin,

    // same recursive closure as dedup_clusters, survivor = longest
    // member (ties → min id) via ranked window.
    "docs_survivorship" ->
      s"""WITH RECURSIVE p AS ($neardupSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM p
         |      UNION SELECT doc_b, doc_a FROM p),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u),
         |j AS (
         |  SELECT comp.doc_id, comp.cluster_id, d.n_chars
         |  FROM comp JOIN documents d USING (doc_id)),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY cluster_id
         |                               ORDER BY n_chars DESC, doc_id) AS rn,
         |         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |  FROM j)
         |SELECT cluster_id, doc_id AS survivor_id, n_chars AS survivor_n_chars,
         |       CAST(cluster_size AS BIGINT) AS cluster_size
         |FROM r WHERE rn = 1""".stripMargin,

    // blocked entity resolution: the oracle replicates the SymSpell
    // deletion-neighborhood blocking EXACTLY (per the verify-recipe
    // rule — candidate predicates must match, not just confirmed
    // output), then the same classic-Levenshtein confirm.
    "er_fuzzy_pairs" ->
      s"""WITH k AS (${erKeysSql("customer", "c_custkey", "c_name")}),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |         a.name AS na, b.name AS nb
         |  FROM k a JOIN k b ON a.key = b.key AND a.id < b.id)
         |SELECT id_a, id_b, CAST(levenshtein(na, nb) AS BIGINT) AS dist
         |FROM cand WHERE levenshtein(na, nb) <= 1""".stripMargin,
    "er_link_dirty" ->
      s"""WITH ${erLinkBodySql()}
         |SELECT dirty_id, c_custkey, dist FROM links""".stripMargin,
    "er_link_dirty2" ->
      s"""WITH ${erLinkBodySql(2)}
         |SELECT dirty_id, c_custkey, dist FROM links""".stripMargin,
    "er_link_best" ->
      s"""WITH ${erLinkBodySql()},
         |r AS (SELECT *, row_number() OVER (PARTITION BY dirty_id
         |                                   ORDER BY dist, c_custkey) AS rn
         |      FROM links)
         |SELECT dirty_id, c_custkey AS best_id, dist AS best_dist
         |FROM r WHERE rn = 1""".stripMargin,

    "emb_topk" ->
      s"""$embCte,
         |pairs AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         CAST(list_sum(list_transform(range(len(qq.qv)),
         |           j -> qq.qv[j+1] * c.qv[j+1])) AS BIGINT) AS d,
         |         qq.nsq AS qn, c.nsq AS cn
         |  FROM n qq JOIN n c ON qq.vec_id % 20 = 0 AND c.vec_id <> qq.vec_id),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(d AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) AS c2
         |  FROM pairs),
         |ranked AS (
         |  SELECT query_id, neighbor_id, c2,
         |         row_number() OVER (PARTITION BY query_id ORDER BY c2 DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank,
         |       CAST(round(c2 * 1000000.0) AS BIGINT) AS cos_x1e6
         |FROM ranked WHERE rnk <= 5""".stripMargin,

    // exact int64 squared-L2 ranking over the quantized vectors — no
    // floats anywhere, so the order (ties → neighbor id) is identical
    // in every engine; the shared l2TruthCte IS this query's body.
    "emb_topk_l2" ->
      s"""$embCte,
         |${l2TruthCte(5)}
         |SELECT query_id, neighbor_id,
         |       CAST(row_number() OVER w AS BIGINT) AS rank, sqd AS sqdist
         |FROM tp
         |WINDOW w AS (PARTITION BY query_id ORDER BY sqd, neighbor_id)
         |QUALIFY row_number() OVER w <= 5""".stripMargin,

    // recall@3 report: FOUND replicates the full emb_ann_ivfpq
    // pipeline (ivfPqBodyCte — same dials), TRUTH is the exact
    // squared-L2 top-3 per query, the report the counts + permille.
    "emb_ann_recall" ->
      s"""${ivfPqBodyCte(Embeddings.PqSubspaces, Embeddings.CentroidStep,
             pqStepExprSql(PqCodebookK))},
         |fnd AS (
         |  SELECT query_id, neighbor_id FROM sc
         |  WINDOW w AS (PARTITION BY query_id ORDER BY adist, neighbor_id)
         |  QUALIFY row_number() OVER w <= 3),
         |${l2TruthCte(3)},
         |h AS (SELECT f.query_id, f.neighbor_id
         |      FROM fnd f JOIN tr ON f.query_id = tr.query_id
         |                        AND f.neighbor_id = tr.neighbor_id)
         |SELECT (SELECT count(DISTINCT query_id) FROM tr) AS n_queries,
         |       (SELECT count(*) FROM tr) AS n_truth,
         |       (SELECT count(*) FROM fnd) AS n_found,
         |       (SELECT count(*) FROM h) AS n_hit,
         |       CASE WHEN (SELECT count(*) FROM tr) > 0
         |            THEN CAST(round((SELECT count(*) FROM h) * 1000.0 /
         |                 (SELECT count(*) FROM tr)) AS BIGINT)
         |            ELSE CAST(1000 AS BIGINT) END AS recall_permille,
         |       (SELECT count(*) FROM tr) = 0 AS vacuous""".stripMargin,

    // same composed pipeline with the query-cell rank widened to the
    // probe dial.
    "emb_ann_ivfpq_probed" ->
      ivfPqSql(Embeddings.PqSubspaces, Embeddings.CentroidStep,
        pqStepExprSql(PqCodebookK),
        nprobe = IvfPqNprobe),

    // probed + refined recall: the PQ top-IvfPqRefine shortlist per
    // query is re-scored by exact int64 L2 (`fnd`), truth is the same
    // exact top-3 as emb_ann_recall's.
    "emb_ann_recall_probed" ->
      refinedRecallSql(Embeddings.PqSubspaces, pqStepExprSql(PqCodebookK)),

    // …and at the accuracy PQ dials (m16, K≈62 codebooks): here the
    // refinement recovers the code loss COMPLETELY — recall equals the
    // nprobe=4 candidate ceiling (547‰ at the verify corpus).
    "emb_ann_recall_m16" ->
      refinedRecallSql(ScaledPqSubspaces, pqStepExprSql(ScaledPqCodebookK)),

    // the 2×2×2 dial grid, one frontierCellSql per cell, UNION ALLed —
    // PQ steps are corpus-derived scalar subqueries like every other
    // oracle dial (DialParitySpec pins the derivation formulas).
    "emb_ann_frontier" -> {
      val cells = for {
        (m, step) <- Seq(
          Embeddings.PqSubspaces -> pqStepExprSql(PqCodebookK),
          ScaledPqSubspaces -> pqStepExprSql(ScaledPqCodebookK))
        nprobe <- Seq(1, IvfPqNprobe)
        refine <- Seq(Option.empty[Int], Some(IvfPqRefine))
      } yield s"SELECT * FROM (${frontierCellSql(m, step, nprobe, refine)})"
      cells.mkString("\nUNION ALL\n")
    },

    "emb_ann_lsh" ->
      s"""$lshBucketsCte,
         |cand AS (
         |  SELECT a.vec_id AS vid, c.vec_id AS nid,
         |         CAST(list_sum(list_transform(range(len(a.qv)),
         |           j -> a.qv[j+1] * c.qv[j+1])) AS BIGINT) AS d,
         |         a.nsq AS an, c.nsq AS cn
         |  FROM nb a JOIN nb c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
         |best AS (
         |  SELECT vid, nid,
         |         CAST(d AS DOUBLE) / (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) AS c2,
         |         row_number() OVER (PARTITION BY vid
         |           ORDER BY CAST(d AS DOUBLE) / (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) DESC, nid) AS rn
         |  FROM cand)
         |SELECT nb.vec_id, nb.bucket,
         |       coalesce(b.nid, -1) AS neighbor_id,
         |       coalesce(CAST(round(b.c2 * 1000000.0) AS BIGINT), 0) AS cos_x1e6
         |FROM nb LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON nb.vec_id = b.vid""".stripMargin,

    "emb_neardup" -> embNearDupSql,

    // recall report: FOUND replicates embNearDupSql's bucketed pair
    // selection; TRUTH scores the planted relation (origin→exact,
    // origin→near, exact→near where both exist) with the exact
    // bucket-free quantized cosine; the report is the four counts +
    // rounded permilles.
    "emb_neardup_recall" ->
      s"""$twinLshBucketsCte,
         |fp AS (
         |  SELECT a.vec_id AS va, c.vec_id AS vb,
         |         CAST(round(CAST(list_sum(list_transform(range(len(a.qv)),
         |           j -> a.qv[j+1] * c.qv[j+1])) AS DOUBLE) /
         |           (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(c.nsq AS DOUBLE)))
         |           * 1000000.0) AS BIGINT) AS cos_x1e6
         |  FROM nb a JOIN nb c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
         |f AS (SELECT DISTINCT least(va, vb) AS pa, greatest(va, vb) AS pb
         |      FROM fp WHERE cos_x1e6 >= $NearDupCosMicro),
         |rel AS (
         |  SELECT vec_id AS va, -2 * vec_id - 1 AS vb FROM e0
         |  WHERE vec_id % $EmbTwinExactMod = 0
         |  UNION ALL
         |  SELECT vec_id, -2 * vec_id - 2 FROM e0
         |  WHERE vec_id % $EmbTwinNearMod = 0
         |  UNION ALL
         |  SELECT -2 * vec_id - 1, -2 * vec_id - 2 FROM e0
         |  WHERE vec_id % $EmbTwinExactMod = 0
         |    AND vec_id % $EmbTwinNearMod = 0),
         |t AS (
         |  SELECT DISTINCT least(rel.va, rel.vb) AS pa,
         |         greatest(rel.va, rel.vb) AS pb
         |  FROM rel JOIN n a ON a.vec_id = rel.va
         |           JOIN n b ON b.vec_id = rel.vb
         |  WHERE CAST(round(CAST(list_sum(list_transform(range(len(a.qv)),
         |          j -> a.qv[j+1] * b.qv[j+1])) AS DOUBLE) /
         |          (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE)))
         |          * 1000000.0) AS BIGINT) >= $NearDupCosMicro),
         |h AS (SELECT f.pa, f.pb FROM f JOIN t ON f.pa = t.pa AND f.pb = t.pb)
         |SELECT (SELECT count(*) FROM t) AS n_truth,
         |       (SELECT count(*) FROM f) AS n_found,
         |       (SELECT count(*) FROM h) AS n_hit,
         |       (SELECT count(*) FROM f) - (SELECT count(*) FROM h) AS n_extra,
         |       CASE WHEN (SELECT count(*) FROM t) > 0
         |            THEN CAST(round((SELECT count(*) FROM h) * 1000.0 /
         |                 (SELECT count(*) FROM t)) AS BIGINT)
         |            ELSE CAST(1000 AS BIGINT) END AS recall_permille,
         |       CASE WHEN (SELECT count(*) FROM f) > 0
         |            THEN CAST(round((SELECT count(*) FROM h) * 1000.0 /
         |                 (SELECT count(*) FROM f)) AS BIGINT)
         |            ELSE CAST(1000 AS BIGINT) END AS precision_permille,
         |       ((SELECT count(*) FROM t) = 0 OR
         |        (SELECT count(*) FROM f) = 0) AS vacuous""".stripMargin,

    "emb_centroids" ->
      s"""$embCte,
         |x AS (SELECT vec_id % 8 AS grp, i AS dim, qv[i + 1] AS q
         |      FROM n, unnest(range(0, len(qv))) u(i))
         |SELECT grp, CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(sum(q) // count(*) AS BIGINT) AS mean_q
         |FROM x GROUP BY 1, 2""".stripMargin,

    // all-rows `q` (no norm filter): quantization is a storage map, not
    // a similarity op — a zero vector still gets codes.
    "emb_quantize" ->
      s"""$embCte,
         |m AS (SELECT vec_id, qv, list_min(qv) AS mn, list_max(qv) AS mx FROM q),
         |c AS (SELECT vec_id, qv, mn, mx,
         |             CASE WHEN mx > mn
         |                  THEN list_transform(qv, x -> ((x - mn) * 255) // (mx - mn))
         |                  ELSE list_transform(qv, x -> CAST(0 AS BIGINT)) END AS codes
         |      FROM m)
         |SELECT vec_id, mn, mx,
         |       CAST(list_sum(list_transform(range(len(codes)),
         |              i -> codes[i+1] * (i+1))) % 1000000007 AS BIGINT) AS code_sig,
         |       CAST(list_max(list_transform(range(len(qv)),
         |              i -> abs(qv[i+1] - (mn + (codes[i+1] * (mx - mn)) // 255)))) AS BIGINT) AS err_max
         |FROM c""".stripMargin,

    // PQ: replicate the subvector split (8 subspaces), the id%32 seed
    // codebooks, and the exact-int64 L2 argmin with (dist, cid)
    // tie-break via QUALIFY.
    "emb_pq_codes" ->
      s"""$pqCte
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub, code,
         |       CAST(qdist AS BIGINT) AS qdist
         |FROM enc""".stripMargin,

    // ADC: per-query exact distance table × the corpus code stream,
    // summed per (query, neighbor), top-3 by (adist, neighbor).
    "emb_pq_search" ->
      pqSearchSql(Embeddings.PqSubspaces, pqStepExprSql(PqCodebookK)),
    "emb_pq_search_m16" ->
      pqSearchSql(ScaledPqSubspaces, pqStepExprSql(ScaledPqCodebookK)),

    // IVF-PQ: the ivf argmax-cosine assignment (same ordering contract
    // as ivfOracleSql) composed with the PQ prelude — candidates from
    // the cell self-join, ranked by the summed ADC partials.
    // pq step = stepForBoundedK over the live count on BOTH sides
    // (a scalar subquery here, `batteryPqStep` in the battery)
    "emb_ann_ivfpq" ->
      ivfPqSql(Embeddings.PqSubspaces, Embeddings.CentroidStep,
        pqStepExprSql(PqCodebookK)),
    // the decoupled-step config: fixed coarse step (constant cells →
    // linear candidate equijoin), corpus-derived PQ step (bounded K →
    // bounded q·m·K ADC distance table) — see the battery wiring.
    "emb_ann_ivfpq_scaled" ->
      ivfPqSql(Embeddings.PqSubspaces, ScaledIvfStep,
        pqStepExprSql(PqCodebookK)),
    // frozen == inline by construction (seed-id centroid identities),
    // so the frozen-index search shares emb_ann_ivfpq's oracle verbatim
    "emb_ann_ivfpq_frozen" ->
      ivfPqSql(Embeddings.PqSubspaces, Embeddings.CentroidStep,
        pqStepExprSql(PqCodebookK)),

    // the same scored bucket-mate pairs as emb_neardup's prelude,
    // ranked per vector on the raw double cosine (ties by neighbor).
    "emb_knn_graph" ->
      s"""$knnGraphCte
         |SELECT vec_id, neighbor_id, cos_x1e6, rnk FROM knn""".stripMargin,

    // fixed-point PageRank over the knn edges — the unrolled integer
    // update; see pageRankSql.
    "graph_pagerank" -> pageRankSql,
    "graph_bfs" -> bfsSql,

    // vector-space dedup clusters: same recursive-CTE closure as
    // dedup_clusters, over the cosine near-dup pairs. (Edge CTE is
    // named `ed`, not `e`: under WITH RECURSIVE every same-level CTE
    // name is visible inside the nested embNearDupSql prelude, and its
    // twin-union relation is already called `e`.)
    "emb_dedup_clusters" ->
      s"""WITH RECURSIVE p AS ($embNearDupSql),
         |ed AS (SELECT vec_a AS u, vec_b AS v FROM p
         |       UNION SELECT vec_b, vec_a FROM p),
         |reach(u, v) AS (
         |  SELECT u, v FROM ed
         |  UNION
         |  SELECT r.u, ed.v FROM reach r JOIN ed ON r.v = ed.u),
         |comp AS (
         |  SELECT u AS vec_id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u)
         |SELECT vec_id, cluster_id,
         |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |       (vec_id = cluster_id) AS is_canonical
         |FROM comp""".stripMargin,

    // SemDeDup: the IVF assignment prelude (same seeds/argmax contract
    // as ivfOracleSql) over the twin-planted corpus + exhaustive
    // intra-cell pairs at the 0.95 bar + keep-first.
    "emb_semdedup" ->
      s"""$twinEmbCte,
         |$ivfAssignCte,
         |nb AS (SELECT n.vec_id, n.qv, n.nsq, a.cell
         |       FROM n JOIN assign a USING (vec_id)),
         |pr AS (
         |  SELECT a.vec_id AS ua, b.vec_id AS ub,
         |         CAST(round(
         |           CAST(list_sum(list_transform(range(len(a.qv)),
         |             j -> a.qv[j+1] * b.qv[j+1])) AS DOUBLE) /
         |           (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE)))
         |           * 1000000.0) AS BIGINT) AS cos_x1e6
         |  FROM nb a JOIN nb b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |dup AS (
         |  SELECT ub, min(ua) AS dup_of FROM pr
         |  WHERE cos_x1e6 >= $NearDupCosMicro GROUP BY ub)
         |SELECT nb.vec_id, nb.cell,
         |       coalesce(d.dup_of, -1) AS dup_of,
         |       (d.ub IS NULL) AS kept
         |FROM nb LEFT JOIN dup d ON nb.vec_id = d.ub""".stripMargin,

    "emb_ann_ivf" -> ivfOracleSql(Embeddings.CentroidStep, 1),
    "emb_ann_ivf_scaled" -> ivfOracleSql(ScaledIvfStep, ScaledIvfNprobe),
    "emb_ann_ivf_kmeans" -> ivfOracleSql(ScaledIvfStep, 1, kmeansIter = 1),
    "emb_ann_lsh_scaled" -> lshScaledSql,
    "neardup_simhash_scaled" -> simhashScaledSql,

    "multimodal_binary" -> {
      // hex-string offset for byte offset 1 + (bl*i)//3: (off-1)*2 + 1
      val frames = (0 until 3).map { i =>
        s"substring(hx, ((bl * $i) // 3) * 2 + 1, 16) AS frame$i"
      }.mkString(",\n         |       ")
      s"""WITH b AS (
         |  SELECT doc_id, text,
         |         lower(hex(encode(text))) AS hx,
         |         octet_length(encode(text)) AS bl
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(bl AS BIGINT) AS byte_len,
         |       sha256(text) AS sha256,
         |       substring(hx, 1, 32) AS header_hex,
         |       $frames,
         |       CAST(bl % 640 AS BIGINT) AS img_w,
         |       CAST(bl % 480 AS BIGINT) AS img_h,
         |       CAST(3 AS BIGINT) AS img_c
         |FROM b""".stripMargin
    },

    "multimodal_dupes" ->
      """SELECT lower(sha256(text)) AS sha256, count(*) AS n_copies,
        |       CAST(min(doc_id) AS BIGINT) AS keep_id
        |FROM documents GROUP BY 1 HAVING count(*) > 1""".stripMargin,

    // parse∘construct = id: the oracle emits the GROUND-TRUTH format
    // and dimensions the Spark side synthesized into valid image
    // headers and then parsed back — any defect in the magic dispatch,
    // endian field reads or the JPEG SOF walk mismatches here.
    "multimodal_decode" ->
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |       WHEN 2 THEN 'jpeg' ELSE 'unknown' END AS format,
        |  CASE WHEN doc_id % 4 <= 2 THEN CAST(doc_id % 640 + 1 AS BIGINT)
        |       ELSE NULL END AS width,
        |  CASE WHEN doc_id % 4 <= 2 THEN CAST(doc_id % 480 + 1 AS BIGINT)
        |       ELSE NULL END AS height
        |FROM documents""".stripMargin,

    // Full replication of the 64-bit blockhash signature + 8×8-bit
    // banding + Hamming cutoff (the neardup_simhash_scaled pattern:
    // bits as rows, bands as grouped sums, candidates as the band
    // equijoin, Hamming counted over the bit rows), PLUS the
    // midpoint-grid confirm signature (`k = 1` sample offsets at
    // len·(2i+1)/128) — a pair must sit within the cutoff on BOTH
    // signatures, squaring the fixed random-collision rate that made
    // single-signature output quadratic in corpus size (the 10× soak
    // finding).
    "multimodal_phash" -> phashSql(
      Multimodal.PHashBlocks, Multimodal.PHashBands, Multimodal.PHashMaxHamming),

    "multimodal_phash_scaled" -> phashSql(
      Multimodal.PHashScaledBlocks, Multimodal.PHashScaledBands,
      Multimodal.PHashScaledMaxHamming),

    // pairRecall over the scaled pHash relation vs the planted
    // re-encode-twin truth — the full signature/banding oracle nested
    // verbatim as the found side, the twin construction itself as the
    // truth side.
    "multimodal_phash_recall" -> pairRecallSql(
      phashSql(
        Multimodal.PHashScaledBlocks, Multimodal.PHashScaledBands,
        Multimodal.PHashScaledMaxHamming),
      "SELECT doc_id AS doc_a, -doc_id - 1 AS doc_b FROM documents " +
        "WHERE doc_id % 101 = 0"),

    // the dial row's oracle: identical generator, midpoint cutoff wide
    "multimodal_phash_recall_wide" -> pairRecallSql(
      phashSql(
        Multimodal.PHashScaledBlocks, Multimodal.PHashScaledBands,
        Multimodal.PHashScaledMaxHamming,
        midMaxHamming = Some(Multimodal.PHashScaledMidHammingWide)),
      "SELECT doc_id AS doc_a, -doc_id - 1 AS doc_b FROM documents " +
        "WHERE doc_id % 101 = 0"),

    // multimodal_wav: parse∘construct = id — the payloads are built
    // FROM these doc_id-derived fields, so the oracle emits them
    // directly (multimodal_decode's pattern). duration is exact
    // integer division; the shared byte-align factor cancels:
    // (frames·balign·1000) div (rate·balign) = frames·1000 div rate.
    "multimodal_wav" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 <= 2 THEN CAST(doc_id % 2 + 1 AS BIGINT) END
        |    AS channels,
        |  CASE WHEN doc_id % 4 <= 2
        |       THEN CAST(8000 + (doc_id % 8) * 4000 AS BIGINT) END
        |    AS sample_rate,
        |  CASE WHEN doc_id % 4 <= 2 THEN CAST(16 AS BIGINT) END
        |    AS bits_per_sample,
        |  CASE WHEN doc_id % 4 <= 2
        |       THEN CAST((doc_id % 100 + 1) * (doc_id % 2 + 1) * 2 AS BIGINT) END
        |    AS data_bytes,
        |  CASE WHEN doc_id % 4 <= 2
        |       THEN CAST((doc_id % 100 + 1) * 1000
        |                   // (8000 + (doc_id % 8) * 4000) AS BIGINT) END
        |    AS duration_ms
        |FROM documents""".stripMargin,

    "multimodal_bmp" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 <= 2 THEN doc_id % 6 + 2 END AS w,
        |    CASE WHEN doc_id % 4 <= 2 THEN doc_id % 4 + 1 END AS h,
        |    doc_id % 4 <= 1 AS is24
        |  FROM documents),
        |n AS (SELECT doc_id, w, h, is24, w * h AS npix FROM m)
        |SELECT doc_id,
        |  CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CASE WHEN doc_id % 4 <= 2
        |       THEN CAST(CASE WHEN is24 THEN 24 ELSE 16 END AS BIGINT) END
        |    AS bpp,
        |  CASE WHEN is24 THEN CAST(npix AS BIGINT) END AS n_sampled,
        |  CASE WHEN is24 THEN CAST(list_sum(list_transform(range(0, npix),
        |         p -> (doc_id * 3 + p * 29) % 256)) * 100 // npix AS BIGINT) END
        |    AS mean_r_x100,
        |  CASE WHEN is24 THEN CAST(list_sum(list_transform(range(0, npix),
        |         p -> (doc_id * 11 + p * 19) % 256)) * 100 // npix AS BIGINT) END
        |    AS mean_g_x100,
        |  CASE WHEN is24 THEN CAST(list_sum(list_transform(range(0, npix),
        |         p -> (doc_id * 7 + p * 13) % 256)) * 100 // npix AS BIGINT) END
        |    AS mean_b_x100
        |FROM n""".stripMargin,

    "multimodal_pcm" -> {
      val cap = Multimodal.PcmMaxSamples
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 4 <= 2
         |         THEN LEAST(doc_id % 80 + 16, $cap) END AS n
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, n,
         |    CASE WHEN n IS NOT NULL THEN
         |      list_transform(range(0, n),
         |                     i -> (doc_id * 31 + i * 17) % 256 - 128) END AS dev
         |  FROM d)
         |SELECT doc_id,
         |  CAST(n AS BIGINT) AS n_samples,
         |  CAST(list_max(list_transform(dev, x -> abs(x))) AS BIGINT)
         |    AS peak_dev,
         |  CAST(list_sum(list_transform(dev, x -> abs(x))) * 100 // n AS BIGINT)
         |    AS mad_x100,
         |  CAST(CASE WHEN n IS NULL THEN NULL
         |            WHEN n >= 2 THEN len(list_filter(range(1, n),
         |              i -> (CASE WHEN dev[i] > 0 THEN 1
         |                         WHEN dev[i] < 0 THEN -1 ELSE 0 END)
         |                 * (CASE WHEN dev[i+1] > 0 THEN 1
         |                         WHEN dev[i+1] < 0 THEN -1 ELSE 0 END) = -1))
         |            ELSE 0 END AS BIGINT) AS crossings
         |FROM s""".stripMargin
    },

    "multimodal_mp4" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 <= 2 THEN
        |    CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END END
        |    AS brand,
        |  CASE WHEN doc_id % 4 <= 2
        |       THEN CAST(1000 + (doc_id % 16) * 500 AS BIGINT) END
        |    AS timescale,
        |  CASE WHEN doc_id % 4 <= 2
        |       THEN CAST((doc_id % 3600 + 1) * 100 AS BIGINT) END
        |    AS duration,
        |  CASE WHEN doc_id % 4 <= 2
        |       THEN CAST((doc_id % 3600 + 1) * 100 * 1000
        |                   // (1000 + (doc_id % 16) * 500) AS BIGINT) END
        |    AS duration_ms
        |FROM documents""".stripMargin,

    "text_langid" -> langidSql,

    // confusion matrix = the langid oracle nested as a CTE, joined
    // back to the ground-truth lang, one count per (label, pred) cell.
    "docs_langid_confusion" ->
      s"""WITH li AS ($langidSql)
         |SELECT d.lang, li.pred_lang, CAST(count(*) AS BIGINT) AS n
         |FROM documents d JOIN li USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,

    "text_quality" -> qualitySql,

    "text_token_counts" ->
      s"""SELECT doc_id,
         |  CAST(len($tokList) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS bpe_tokens
         |FROM documents""".stripMargin,

    // CMS replay: cell(r, c) = Σ counts of keys hashing there; the
    // per-key estimate = min over its depth cells. Identical 60-bit
    // sha256-slice hashing (offset 1+15r) mod width as Sketches.cell.
    "text_heavy_hitters" -> {
      val d = Sketches.CmsDepth
      val w = Sketches.CmsWidth
      s"""$toksCte,
         |kc AS (SELECT lower(word) AS k, CAST(count(*) AS BIGINT) AS cnt
         |       FROM toks GROUP BY 1),
         |pos AS (
         |  SELECT k, r,
         |         CAST(CAST(('0x' || substring(sha256(k), 1 + 15 * CAST(r AS INT), 15))
         |           AS UBIGINT) AS BIGINT) % $w AS c
         |  FROM kc, UNNEST(range(0, $d)) AS t(r)),
         |cells AS (
         |  SELECT p.r, p.c, CAST(sum(kc.cnt) AS BIGINT) AS cell
         |  FROM pos p JOIN kc USING (k) GROUP BY 1, 2),
         |estt AS (
         |  SELECT p.k, min(cells.cell) AS est
         |  FROM pos p JOIN cells ON cells.r = p.r AND cells.c = p.c
         |  GROUP BY p.k)
         |SELECT kc.k AS word, CAST(estt.est AS BIGINT) AS est_count,
         |       kc.cnt AS exact_count
         |FROM estt JOIN kc USING (k)
         |WHERE estt.est >= $HeavyHitterThreshold""".stripMargin
    },

    "text_fingerprint" -> {
      val w = TextAnalysis.FingerprintWindow
      s"""WITH t2 AS (SELECT doc_id, $tokList AS ts FROM documents),
         |c AS (
         |  SELECT doc_id,
         |         sha256(array_to_string(ts, ' ')) AS full_fp,
         |         CASE WHEN len(ts) = 0 THEN []::VARCHAR[]
         |              WHEN len(ts) < $w THEN [sha256(array_to_string(ts, ' '))]
         |              ELSE list_transform(range(1, len(ts) - $w + 2),
         |                     i -> sha256(array_to_string(ts[i:i+${w - 1}], ' ')))
         |         END AS chunks
         |  FROM t2)
         |SELECT doc_id, full_fp,
         |       CAST(len(chunks) AS BIGINT) AS n_chunks,
         |       coalesce(list_min(chunks), '') AS min_chunk_fp,
         |       coalesce(list_max(chunks), '') AS max_chunk_fp
         |FROM c""".stripMargin
    },

    "text_overlap" -> {
      val w = TextAnalysis.FingerprintWindow
      s"""WITH t2 AS (SELECT doc_id, $tokList AS ts FROM documents),
         |c AS (
         |  SELECT doc_id,
         |         CASE WHEN len(ts) = 0 THEN []::VARCHAR[]
         |              WHEN len(ts) < $w THEN [sha256(array_to_string(ts, ' '))]
         |              ELSE list_transform(range(1, len(ts) - $w + 2),
         |                     i -> sha256(array_to_string(ts[i:i+${w - 1}], ' ')))
         |         END AS chunks
         |  FROM t2),
         |d AS (SELECT DISTINCT doc_id, unnest(chunks) AS fp FROM c)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       count(*) AS shared_chunks
         |FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2""".stripMargin
    },

    "text_winnow" ->
      s"""$winnowPreludeSql
         |SELECT doc_id,
         |       CAST(len(hs) AS BIGINT) AS n_kgrams,
         |       CAST(len(sel) AS BIGINT) AS n_fps,
         |       list_min(selh) AS fp_min,
         |       list_max(selh) AS fp_max
         |FROM s""".stripMargin,

    "text_winnow_pairs" -> {
      val cap = TextAnalysis.WinnowMaxDocFreq
      val ms = TextAnalysis.WinnowMinShared
      s"""$winnowPreludeSql,
         |fps AS (SELECT DISTINCT doc_id, fp
         |        FROM (SELECT doc_id, unnest(selh) AS fp FROM s)),
         |cnt AS (SELECT fp, count(*) AS c FROM fps GROUP BY 1),
         |ok AS (SELECT f.doc_id, f.fp FROM fps f JOIN cnt USING (fp)
         |       WHERE c BETWEEN 2 AND $cap)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       count(*) AS shared_fps
         |FROM ok a JOIN ok b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= $ms""".stripMargin
    },

    // Fixed-point BM25 — same all-integer scaled formula as
    // Relevance.bm25TopTerms (×10⁴·SDL clears k1/b/avgdl fractions).
    "text_bm25" ->
      s"""$toksCte,
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
         |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT t.doc_id, t.word, t.tf, f.df,
         |         CAST((${Relevance.CoefNum} * t.tf * s.sdl * 1000) //
         |              (${Relevance.CoefTf} * t.tf * s.sdl + ${Relevance.CoefConst} * s.sdl + ${Relevance.CoefDl} * d.dl * s.n)
         |           AS BIGINT) AS bm25_x1000,
         |         CAST((t.tf * 1000 * s.n) // f.df AS BIGINT) AS tfidf_x1000
         |  FROM tf t
         |  JOIN dl d USING (doc_id) JOIN dfreq f USING (word), stats s),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY doc_id ORDER BY bm25_x1000 DESC, word) AS INT) AS rnk
         |  FROM scored)
         |SELECT doc_id, word, tf, df, bm25_x1000, tfidf_x1000, rnk
         |FROM ranked WHERE rnk <= 3""".stripMargin,

    "text_search" ->
      s"""$searchPreludeSql,
         |scored AS (
         |  SELECT doc_id, count(*) AS n_hit_terms,
         |         CAST(sum($bm25TermScoreOracle) AS BIGINT) AS score_x1000
         |  FROM hits, stats s GROUP BY 1)
         |SELECT doc_id, n_hit_terms, score_x1000,
         |       CAST(row_number() OVER (ORDER BY score_x1000 DESC, doc_id) AS BIGINT) AS rnk
         |FROM scored
         |ORDER BY score_x1000 DESC, doc_id LIMIT 10""".stripMargin,

    // two term scorers over one shared postings prelude, fused by
    // exact-integer reciprocal rank (c = 60, the canonical constant).
    "text_hybrid_search" ->
      s"""$searchPreludeSql,
         |bscored AS (
         |  SELECT doc_id, CAST(sum($bm25TermScoreOracle) AS BIGINT) AS score
         |  FROM hits, stats s GROUP BY 1),
         |branked AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
         |  FROM bscored ORDER BY score DESC, doc_id LIMIT 20),
         |tscored AS (
         |  SELECT doc_id, CAST(sum((tf * 1000 * s.n) // df) AS BIGINT) AS score
         |  FROM hits, stats s GROUP BY 1),
         |tranked AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
         |  FROM tscored ORDER BY score DESC, doc_id LIMIT 20)
         |SELECT coalesce(b.doc_id, t.doc_id) AS doc_id,
         |       CAST(coalesce(1000000 // (60 + b.rnk), 0)
         |          + coalesce(1000000 // (60 + t.rnk), 0) AS BIGINT) AS rrf_x1e6
         |FROM branked b FULL OUTER JOIN tranked t ON b.doc_id = t.doc_id
         |ORDER BY rrf_x1e6 DESC, doc_id LIMIT 10""".stripMargin,

    // Per-domain cap: the text_quality oracle nested verbatim, joined
    // back to the corpus for the domain, ranked per domain by
    // (score DESC, doc_id) and kept to k — DuckDB's row_number replays
    // Spark's deterministic window exactly.
    "docs_domain_cap" ->
      s"""WITH qual AS ($qualitySql)
         |SELECT doc_id, source, score_milli, domain_rank FROM (
         |  SELECT q.doc_id, d.source, q.score_milli,
         |         CAST(row_number() OVER (
         |           PARTITION BY d.source
         |           ORDER BY q.score_milli DESC, q.doc_id) AS BIGINT)
         |           AS domain_rank
         |  FROM qual q JOIN documents d ON q.doc_id = d.doc_id)
         |WHERE domain_rank <= $DomainCapK""".stripMargin,

    // The pipeline oracle composes the per-operator oracles verbatim
    // (nested-WITH CTEs), so a drift in any stage breaks BOTH its own
    // row and this one.
    "docs_curated" ->
      s"""WITH RECURSIVE
         |$curatedCtesSql
         |$curatedSelectSql""".stripMargin,

    // the curated pool continued through per-source token packing —
    // the same nested CTEs plus one window cumsum.
    "docs_training_set" ->
      s"""WITH RECURSIVE
         |$curatedCtesSql,
         |curated AS ($curatedSelectSql),
         |tset AS (
         |  SELECT c.doc_id, d.source, c.n_tokens,
         |         ${Curation.hashOrderSql("c.doc_id")} AS o
         |  FROM curated c JOIN documents d USING (doc_id)),
         |cums AS (
         |  SELECT doc_id, source, n_tokens,
         |         sum(n_tokens) OVER (PARTITION BY source ORDER BY o, doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM tset)
         |SELECT doc_id, source, n_tokens,
         |       CAST((cum - 1) // $PackBudgetTokens AS BIGINT) AS pack_id
         |FROM cums""".stripMargin,

    "text_collocations" ->
      s"""WITH t2 AS (SELECT $tokList AS ts FROM documents),
         |uni AS (SELECT unnest(ts) AS w FROM t2),
         |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
         |nu AS (SELECT count(*) AS n_uni FROM uni),
         |bg AS (SELECT ts[i] AS w1, ts[i+1] AS w2
         |       FROM t2, unnest(range(1, len(ts))) AS r(i)
         |       WHERE len(ts) >= 2),
         |nb AS (SELECT count(*) AS n_big FROM bg),
         |bc AS (SELECT w1, w2, count(*) AS c_xy FROM bg
         |       GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT b.w1, b.w2, b.c_xy,
         |       CAST((b.c_xy * nu.n_uni * nu.n_uni * 1000)
         |            // (nb.n_big * x.c * y.c) AS BIGINT) AS lift_x1000
         |FROM bc b JOIN uc x ON b.w1 = x.w JOIN uc y ON b.w2 = y.w, nu, nb
         |ORDER BY lift_x1000 DESC, b.w1, b.w2 LIMIT 50""".stripMargin,

    "text_inverted_index" ->
      s"""$toksCte
         |SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |       array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
         |FROM toks GROUP BY word
         |HAVING count(DISTINCT doc_id) <=
         |       (SELECT count(*) // $InvertedIndexMaxDfPctDen FROM documents)""".stripMargin,

    // chunked postings: per-word doc rank → chunk_no = (rn-1)//chunk;
    // df from the per-word count window, true before any filtering.
    "text_inverted_index_sharded" ->
      s"""$toksCte,
         |pairs AS (SELECT DISTINCT word, doc_id FROM toks),
         |r AS (SELECT word, doc_id,
         |             row_number() OVER (PARTITION BY word ORDER BY doc_id) AS rn,
         |             count(*) OVER (PARTITION BY word) AS df
         |      FROM pairs)
         |SELECT word, CAST(df AS BIGINT) AS df,
         |       CAST((rn - 1) // ${TextAnalysis.PostingsChunkSize} AS BIGINT) AS chunk_no,
         |       array_to_string(list_sort(list(doc_id)), ',') AS postings
         |FROM r
         |GROUP BY word, df, (rn - 1) // ${TextAnalysis.PostingsChunkSize}""".stripMargin,

    // bucket = low 60 bits of sha256 (cross-engine, same slice as the
    // scaled-SimHash family) mod the bucket count; linear-idf fixed
    // point as in text_bm25's tfidf_x1000.
    "text_hashed_features" ->
      s"""$toksCte,
         |h AS (SELECT doc_id,
         |             CAST(CAST(('0x' || substring(sha256(word), 1, 15)) AS UBIGINT)
         |                  AS BIGINT) % $HashedFeatureBuckets AS bucket
         |      FROM toks),
         |t AS (SELECT doc_id, bucket, count(*) AS tf FROM h GROUP BY 1, 2),
         |d AS (SELECT bucket, count(*) AS df FROM t GROUP BY 1),
         |n AS (SELECT count(DISTINCT doc_id) AS nn FROM toks)
         |SELECT t.doc_id, t.bucket, t.tf, d.df,
         |       CAST((t.tf * 1000 * n.nn) // d.df AS BIGINT) AS tfidf_x1000
         |FROM t JOIN d USING (bucket), n""".stripMargin,

    // Nearest-rank per-language length percentiles — same all-integer
    // rank indices (⌈q·n⌉ = (q_num·n + q_den − 1) div q_den) as
    // TextAnalysis.lengthStats; langid CTEs mirror the text_langid
    // oracle.
    "text_length_stats" ->
      s"""$toksCte,
         |markers(marker, cand_lang, prio) AS (VALUES $markersValues),
         |hits AS (
         |  SELECT doc_id, cand_lang, prio, count(*) AS n_hits
         |  FROM toks JOIN markers ON lower(trim(word)) = marker
         |  GROUP BY 1, 2, 3),
         |best AS (
         |  SELECT doc_id, cand_lang, n_hits, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY n_hits DESC, prio) AS rn
         |  FROM hits),
         |lang AS (
         |  SELECT d.doc_id, coalesce(b.cand_lang, 'und') AS pred_lang
         |  FROM documents d
         |  LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)),
         |tc AS (SELECT doc_id, CAST(len($tokList) AS BIGINT) AS ws_tokens
         |       FROM documents),
         |r AS (
         |  SELECT pred_lang, ws_tokens,
         |         row_number() OVER (PARTITION BY pred_lang
         |                            ORDER BY ws_tokens, doc_id) AS rnk,
         |         count(*) OVER (PARTITION BY pred_lang) AS n
         |  FROM lang JOIN tc USING (doc_id))
         |SELECT pred_lang, CAST(max(n) AS BIGINT) AS n_docs,
         |       min(ws_tokens) AS min_tokens,
         |       max(CASE WHEN rnk = (n + 1) // 2 THEN ws_tokens END) AS p50_tokens,
         |       max(CASE WHEN rnk = (9 * n + 9) // 10 THEN ws_tokens END) AS p90_tokens,
         |       max(CASE WHEN rnk = (99 * n + 99) // 100 THEN ws_tokens END) AS p99_tokens,
         |       max(ws_tokens) AS max_tokens
         |FROM r GROUP BY pred_lang""".stripMargin,

    "docs_decontaminate" -> {
      val n = Curation.ContaminationN
      // distinct n-grams per doc: ts[i:i+n-1] is n elements (1-based
      // inclusive slice); i ranges over [1, len-n+1] = range(1, len-n+2)
      s"""WITH t2 AS (SELECT doc_id, $tokList AS ts FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(ts[i:i+${n - 1}], ' ') AS g
         |  FROM t2, UNNEST(range(1, len(ts) - ${n - 2})) AS t(i)),
         |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % $BenchmarkEvery = 0)
         |SELECT doc_id, count(*) AS n_shared_grams
         |FROM grams JOIN bench USING (g)
         |WHERE doc_id % $BenchmarkEvery <> 0
         |GROUP BY doc_id""".stripMargin
    },

    // fuzzy scrub: the SAME exact-Jaccard pair oracle as every near-dup
    // query (neardupSqlFor, train×benchmark pairing) nested as the hit
    // subquery, anti-joined back to the training rows — one confirm
    // formula, zero copies.
    "docs_decontam_fuzzy" ->
      s"""WITH hits AS (
         |  SELECT DISTINCT doc_a FROM (
         |${neardupSqlFor(s"a.doc_id % $FuzzyBenchmarkEvery <> 0 " +
             s"AND b.doc_id % $FuzzyBenchmarkEvery = 0")}))
         |SELECT d.doc_id, d.n_chars
         |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_a
         |WHERE d.doc_id % $FuzzyBenchmarkEvery <> 0 AND hits.doc_a IS NULL""".stripMargin,

    "docs_decontam_bloom" -> {
      val n = Curation.ContaminationN
      val m = Curation.BloomBits
      val k = Curation.BloomHashes
      // identical Kirsch–Mitzenmacher probes: h1/h2 = independent
      // 60-bit sha256 slices reduced mod m, pos_i = (h1 + i·h2) mod m
      def h(off: Int) =
        s"CAST(CAST(('0x' || substring(sha256(g), $off, 15)) AS UBIGINT) AS BIGINT) % $m"
      s"""WITH t2 AS (SELECT doc_id, $tokList AS ts FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(ts[i:i+${n - 1}], ' ') AS g
         |  FROM t2, UNNEST(range(1, len(ts) - ${n - 2})) AS t(i)),
         |bp AS (
         |  SELECT ((${h(1)}) + i * (${h(16)})) % $m AS p
         |  FROM grams, UNNEST(range(0, $k)) AS t(i)
         |  WHERE doc_id % $BenchmarkEvery = 0),
         |words AS (
         |  SELECT p // 32 AS w,
         |         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
         |  FROM bp GROUP BY 1),
         |tp AS (
         |  SELECT doc_id, g, ((${h(1)}) + i * (${h(16)})) % $m AS p
         |  FROM grams, UNNEST(range(0, $k)) AS t(i)
         |  WHERE doc_id % $BenchmarkEvery <> 0),
         |mem AS (
         |  SELECT doc_id, g,
         |         bool_and((coalesce(w.bits, 0) &
         |           (CAST(1 AS BIGINT) << CAST(tp.p % 32 AS INT))) <> 0) AS member
         |  FROM tp LEFT JOIN words w ON w.w = tp.p // 32
         |  GROUP BY doc_id, g),
         |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % $BenchmarkEvery = 0),
         |ex AS (
         |  SELECT DISTINCT grams.doc_id FROM grams JOIN bench USING (g)
         |  WHERE doc_id % $BenchmarkEvery <> 0)
         |SELECT mem.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_grams,
         |       CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |       (sum(CASE WHEN member THEN 1 ELSE 0 END) > 0) AS bloom_hit,
         |       (max(ex.doc_id) IS NOT NULL) AS exact_hit
         |FROM mem LEFT JOIN ex ON mem.doc_id = ex.doc_id
         |GROUP BY mem.doc_id""".stripMargin
    },

    "text_pii_scrub" -> {
      val em = Curation.EmailPattern
      val ip = Curation.Ipv4Pattern
      val ph = Curation.PhonePattern
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |         'reach ' || lang || '.' || source || '@crawl.example.org from 10.' ||
         |         CAST((doc_id % 200) + 1 AS VARCHAR) || '.' ||
         |         CAST((doc_id % 250) + 1 AS VARCHAR) || '.' ||
         |         CAST((doc_id % 100) + 1 AS VARCHAR) || ' tel 555-01' ||
         |         lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' ' || text AS t
         |  FROM documents)
         |SELECT doc_id,
         |       regexp_replace(regexp_replace(regexp_replace(t,
         |         '$em', '<EMAIL>', 'g'),
         |         '$ip', '<IP>', 'g'),
         |         '$ph', '<PHONE>', 'g') AS text,
         |       CAST(len(regexp_extract_all(t, '$em')) AS BIGINT) AS n_emails,
         |       CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ips,
         |       CAST(len(regexp_extract_all(t, '$ph')) AS BIGINT) AS n_phones
         |FROM seeded""".stripMargin
    },

    "text_repetition" ->
      s"""WITH t0 AS (SELECT doc_id, $tokList AS ts FROM documents),
         |toks AS (SELECT * FROM t0 WHERE len(ts) >= 2),
         |big AS (
         |  SELECT doc_id,
         |         CAST(len(ts) AS BIGINT) AS n_tokens,
         |         CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct_tokens,
         |         ts[i] || ' ' || ts[i+1] AS g
         |  FROM toks, UNNEST(range(1, len(ts))) AS t(i)),
         |bc AS (SELECT doc_id, n_tokens, n_distinct_tokens, g, count(*) AS c
         |       FROM big GROUP BY 1, 2, 3, 4),
         |top AS (SELECT doc_id, n_tokens, n_distinct_tokens,
         |               max(c) AS top_bigram_count,
         |               CAST(sum(c) AS BIGINT) AS n_bigrams
         |        FROM bc GROUP BY 1, 2, 3)
         |SELECT doc_id, n_tokens, n_distinct_tokens,
         |       ((n_tokens - n_distinct_tokens) * 1000) // n_tokens AS dup_token_frac_milli,
         |       n_bigrams, top_bigram_count,
         |       (top_bigram_count * 1000) // n_bigrams AS top_bigram_frac_milli,
         |       (((n_tokens - n_distinct_tokens) * 1000) // n_tokens >= 700 OR
         |        (top_bigram_count * 1000) // n_bigrams >= 180) AS flagged
         |FROM top""".stripMargin,

    "text_chunks" -> {
      val step = ChunkTokens - ChunkOverlap
      s"""WITH t2 AS (SELECT doc_id, $tokList AS ts FROM documents),
         |t3 AS (SELECT doc_id, ts, len(ts) AS n FROM t2 WHERE len(ts) >= 1),
         |c AS (
         |  SELECT doc_id, ts,
         |         unnest(range(0, 1 + CASE WHEN n > $ChunkTokens
         |           THEN (n - $ChunkTokens + $step - 1) // $step ELSE 0 END)) AS ci
         |  FROM t3)
         |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
         |       CAST(len(list_slice(ts, ci * $step + 1, ci * $step + $ChunkTokens)) AS BIGINT) AS n_tokens,
         |       array_to_string(list_slice(ts, ci * $step + 1, ci * $step + $ChunkTokens), ' ') AS chunk_text
         |FROM c""".stripMargin
    },

    "docs_upsert" ->
      """WITH upd AS (
        |  SELECT doc_id, lang, source, 'UPDATED ' || lang AS text, false AS del
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, lang, source, 'NEW ' || source, false
        |  FROM documents WHERE doc_id % 100 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, source, text, true
        |  FROM documents WHERE doc_id % 10 = 5),
        |m AS (
        |  SELECT coalesce(u.doc_id, b.doc_id) AS doc_id,
        |         CASE WHEN u.doc_id IS NOT NULL THEN u.lang ELSE b.lang END AS lang,
        |         CASE WHEN u.doc_id IS NOT NULL THEN u.source ELSE b.source END AS source,
        |         CASE WHEN u.doc_id IS NOT NULL THEN u.text ELSE b.text END AS text,
        |         coalesce(u.del, false) AS del
        |  FROM documents b FULL OUTER JOIN upd u ON b.doc_id = u.doc_id)
        |SELECT doc_id, lang, source,
        |       substr(text, 1, 16) AS text_head,
        |       CAST(length(text) AS BIGINT) AS text_len
        |FROM m WHERE NOT del""".stripMargin,

    // same synthesized after-snapshot; IS DISTINCT FROM mirrors the
    // null-safe <=> comparisons, concat_ws skips the NULL branches in
    // both dialects so changed_cols agrees byte-for-byte.
    "docs_diff" ->
      """WITH b AS (
        |  SELECT doc_id, lang, source, n_chars FROM documents),
        |a AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang,
        |         source,
        |         CASE WHEN doc_id % 5 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 10 <> 3
        |  UNION ALL
        |  SELECT doc_id + 500000, lang, source, n_chars
        |  FROM documents WHERE doc_id % 13 = 0),
        |j AS (
        |  SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |         b.doc_id IS NOT NULL AS in_b, a.doc_id IS NOT NULL AS in_a,
        |         b.lang IS DISTINCT FROM a.lang AS d_lang,
        |         b.source IS DISTINCT FROM a.source AS d_source,
        |         b.n_chars IS DISTINCT FROM a.n_chars AS d_nc
        |  FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id)
        |SELECT doc_id,
        |       CASE WHEN NOT in_b THEN 'added'
        |            WHEN NOT in_a THEN 'removed'
        |            ELSE 'changed' END AS change,
        |       CASE WHEN in_b AND in_a
        |            THEN concat_ws(',',
        |                   CASE WHEN d_lang THEN 'lang' END,
        |                   CASE WHEN d_source THEN 'source' END,
        |                   CASE WHEN d_nc THEN 'n_chars' END)
        |            ELSE '' END AS changed_cols
        |FROM j
        |WHERE (NOT in_b) OR (NOT in_a) OR d_lang OR d_source OR d_nc""".stripMargin,

    "text_clean" ->
      """WITH seeded AS (
        |  SELECT doc_id,
        |         '<div class="' || lang || '" id=''d' || doc_id || '''>' || chr(10) ||
        |         ' <p>' || text || '</p>' || chr(10) ||
        |         '<br/>&quot;cite&quot; &amp;lt; x&gt;</div>' AS text
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '<[^>]*>')) AS BIGINT) AS n_tags,
        |       trim(regexp_replace(
        |         replace(replace(replace(replace(
        |           regexp_replace(text, '<[^>]*>', ' ', 'g'),
        |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
        |         '\s+', ' ', 'g')) AS clean_text
        |FROM seeded""".stripMargin,

    // Decompose in-query (combining acute after every 'a'), NFC back.
    // chr(769) = U+0301; utf8proc and the JDK implement the same
    // Unicode canonical composition, so the text hash-matches.
    "text_nfc" ->
      """WITH dec AS (
        |  SELECT doc_id, regexp_replace(text, 'a', 'a' || chr(769), 'g') AS d
        |  FROM documents)
        |SELECT doc_id,
        |       nfc_normalize(d) AS text_nfc,
        |       CAST(length(d) AS BIGINT) AS n_decomposed,
        |       CAST(length(nfc_normalize(d)) AS BIGINT) AS n_nfc
        |FROM dec""".stripMargin,

    "text_quality_buckets" ->
      s"""WITH q AS ($qualitySql),
         |j AS (SELECT d.doc_id, d.lang, q.score_milli
         |      FROM documents d JOIN q USING (doc_id)),
         |r AS (SELECT doc_id, lang, score_milli,
         |             row_number() OVER (PARTITION BY lang
         |                                ORDER BY score_milli NULLS FIRST, doc_id) AS rn,
         |             count(*) OVER (PARTITION BY lang) AS n
         |      FROM j)
         |SELECT doc_id, lang, score_milli,
         |       CAST(((rn - 1) * 4) // n AS BIGINT) AS bucket
         |FROM r""".stripMargin,

    "docs_sample_stratified" ->
      s"""WITH rates(lang, permille) AS (VALUES $sampleRatesValues)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN rates r USING (lang)
         |WHERE (${Curation.hashOrderSql("doc_id")}) % 1000
         |      < permille""".stripMargin,

    "text_bpe_vocab" -> bpeOracleSql,
    // the incremental dial must produce the SAME merge list — one
    // oracle, two engine paths
    "text_bpe_vocab_inc" -> bpeOracleSql,
    "text_bpe_encode" -> bpeEncodeOracleSql,

    // the oracle runs the selection as ONE global cumsum per source in
    // (hash, id) order; range bucketing makes the distributed prefix
    // scan decompose into exactly this order — equality proves it.
    "docs_mixture" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, CAST(len($tokList) AS BIGINT) AS n_tokens,
         |         ${Curation.hashOrderSql("doc_id")} AS o
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |         sum(n_tokens) OVER (PARTITION BY source ORDER BY o, doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t),
         |bu(source, budget) AS (VALUES $mixtureBudgetsValues)
         |SELECT doc_id, source, n_tokens
         |FROM c LEFT JOIN bu USING (source)
         |WHERE cum <= coalesce(budget, $MixtureDefaultBudget)""".stripMargin,

    "docs_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, CAST(len($tokList) AS BIGINT) AS n_tokens,
         |         ${Curation.hashOrderSql("doc_id")} AS o
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |         sum(n_tokens) OVER (PARTITION BY source ORDER BY o, doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT doc_id, source, n_tokens,
         |       CAST((cum - 1) // $PackBudgetTokens AS BIGINT) AS pack_id
         |FROM c""".stripMargin,

    "events_sessionize" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, ts, value,
         |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
         |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > ${Sessions.DefaultGapMicros}
         |              THEN 1 ELSE 0 END AS new_s
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (
         |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                             ROWS UNBOUNDED PRECEDING) AS session_seq
         |  FROM g)
         |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         |       count(*) AS n_events, min(ts) AS t_start, max(ts) AS t_end,
         |       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
         |FROM s GROUP BY 1, 2""".stripMargin,

    "events_topk_user" ->
      """SELECT user_id, event_id, event_type, value, rk FROM (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY value DESC, event_id) AS rk
        |  FROM events) WHERE rk <= 3""".stripMargin,

    // a 2h/1h sliding window membership is exactly {trunc_hour(t),
    // trunc_hour(t) − 1h} — the unnest replicates Spark's Expand.
    "events_window_sliding" ->
      """WITH w AS (
        |  SELECT date_trunc('hour', ts) - to_hours(o) AS ws, event_type, value
        |  FROM events, unnest([0, 1]) AS u(o))
        |SELECT ws, event_type, count(*) AS n,
        |       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,

    // hourly slot = epoch-micros integer division; LOCF via
    // last_value IGNORE NULLS over the materialized grid.
    "events_resample" ->
      """WITH e AS (SELECT event_type AS key,
        |                  CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS slot,
        |                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        |           FROM events),
        |a AS (SELECT key, slot, count(*) AS n, sum(v) AS sv FROM e GROUP BY 1, 2),
        |b AS (SELECT key, min(slot) AS s0, max(slot) AS s1 FROM a GROUP BY 1),
        |g AS (SELECT key, unnest(range(s0, s1 + 1)) AS slot FROM b),
        |j AS (SELECT g.key, g.slot, a.n, a.sv FROM g LEFT JOIN a USING (key, slot))
        |SELECT key AS event_type, slot AS hour_idx,
        |       CAST(coalesce(n, 0) AS BIGINT) AS n_events,
        |       CAST(last_value(sv IGNORE NULLS)
        |              OVER (PARTITION BY key ORDER BY slot) AS BIGINT) AS filled_cents,
        |       (n IS NULL) AS is_gap
        |FROM j""".stripMargin,

    // exact integer (n, S, Q) per type; the final compare and the
    // emitted squared-z run in double on those identical integers.
    "events_outliers" ->
      s"""WITH c AS (SELECT event_id, event_type,
        |                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |           FROM events),
        |s AS (SELECT event_id, event_type, cents,
        |             CAST(count(*) OVER w AS DOUBLE) AS n,
        |             CAST(CAST(sum(cents) OVER w AS BIGINT) AS DOUBLE) AS sm,
        |             CAST(CAST(sum(cents * cents) OVER w AS BIGINT) AS DOUBLE) AS q
        |      FROM c WINDOW w AS (PARTITION BY event_type)),
        |f AS (SELECT event_id, event_type, cents,
        |             (n * cents - sm) * (n * cents - sm) AS num,
        |             n * q - sm * sm AS den
        |      FROM s)
        |SELECT event_id, event_type, cents,
        |       CAST(round(num * 1000000.0 / den) AS BIGINT) AS z2_x1e6
        |FROM f
        |WHERE den > 0 AND num * 1000000.0 > den * $OutlierThresh2""".stripMargin,

    // both medians are nearest-rank data values via the windowed
    // conditional max; MAD=0 keys drop out on both engines.
    "events_outliers_mad" ->
      s"""WITH c AS (SELECT event_id, event_type,
         |                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
         |           FROM events),
         |r1 AS (SELECT event_id, event_type, cents,
         |              row_number() OVER (PARTITION BY event_type
         |                                 ORDER BY cents, event_id) AS rn,
         |              count(*) OVER (PARTITION BY event_type) AS n
         |       FROM c),
         |m1 AS (SELECT *, max(CASE WHEN rn = (n + 1) // 2 THEN cents END)
         |                   OVER (PARTITION BY event_type) AS med
         |       FROM r1),
         |d AS (SELECT event_id, event_type, cents, n, med,
         |             abs(cents - med) AS dev
         |      FROM m1),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |                                    ORDER BY dev, event_id) AS rn2
         |       FROM d),
         |m2 AS (SELECT *, max(CASE WHEN rn2 = (n + 1) // 2 THEN dev END)
         |                   OVER (PARTITION BY event_type) AS mad
         |       FROM r2)
         |SELECT event_id, event_type, cents,
         |       CAST(med AS BIGINT) AS median, CAST(dev AS BIGINT) AS abs_dev,
         |       CAST(mad AS BIGINT) AS mad
         |FROM m2
         |WHERE mad > 0 AND dev * 1000 > ${Sessions.DefaultMadThreshMilli} * mad""".stripMargin,

    // nearest-rank band edges via the same windowed conditional max;
    // ranks and targets are pure integers on both engines.
    "events_winsorize" ->
      """WITH c AS (SELECT event_id, event_type,
        |                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |           FROM events),
        |r AS (SELECT event_id, event_type, cents,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY cents, event_id) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS n
        |      FROM c),
        |b AS (SELECT *,
        |             max(CASE WHEN rn = greatest((5 * n + 99) // 100, 1)
        |                      THEN cents END) OVER (PARTITION BY event_type) AS lo,
        |             max(CASE WHEN rn = (95 * n + 99) // 100
        |                      THEN cents END) OVER (PARTITION BY event_type) AS hi
        |      FROM r)
        |SELECT event_id, event_type, cents,
        |       CAST(least(greatest(cents, lo), hi) AS BIGINT) AS cents_winsorized,
        |       (cents < lo OR cents > hi) AS clipped
        |FROM b""".stripMargin,

    // integer-microsecond RANGE frame on both engines; the decimal sum
    // goes round(2)→double only at emit, like every money aggregate.
    "events_rolling" ->
      s"""SELECT event_id, user_id,
         |       count(*) OVER w AS roll_n,
         |       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))) OVER w, 2) AS DOUBLE) AS roll_sum
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |             RANGE BETWEEN $RollingHorizonMicros PRECEDING AND CURRENT ROW)""".stripMargin,

    // user-0 sessionization (same gap rule as events_sessionize, no
    // user partition) → plain containment join; the engine's bin
    // decomposition must reproduce it exactly.
    "events_range_join" ->
      s"""WITH g AS (
         |  SELECT event_id, ts,
         |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
         |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > ${Sessions.DefaultGapMicros}
         |              THEN 1 ELSE 0 END AS new_s
         |  FROM events WHERE user_id = 0
         |  WINDOW w AS (ORDER BY ts, event_id)),
         |s AS (
         |  SELECT *, sum(new_s) OVER (ORDER BY ts, event_id
         |                             ROWS UNBOUNDED PRECEDING) AS session_seq
         |  FROM g),
         |w2 AS (
         |  SELECT CAST(session_seq AS BIGINT) AS window_id,
         |         min(ts) AS t_start, max(ts) AS t_end
         |  FROM s GROUP BY 1)
         |SELECT e.event_id, e.user_id, w2.window_id
         |FROM events e JOIN w2 ON e.ts >= w2.t_start AND e.ts <= w2.t_end""".stripMargin,

    // two DuckDB native ASOF joins; tolerance = post-match voiding on
    // the 24 h horizon, exactly the Spark operator's semantics.
    "events_funnel" ->
      s"""WITH p AS (
         |  SELECT event_id AS purchase_id, user_id, ts FROM events
         |  WHERE event_type = 'purchase'),
         |c AS (
         |  SELECT user_id, ts, max(event_id) AS click_id FROM events
         |  WHERE event_type = 'click' GROUP BY 1, 2),
         |v AS (
         |  SELECT user_id, ts, max(event_id) AS view_id FROM events
         |  WHERE event_type = 'view' GROUP BY 1, 2),
         |s1 AS (
         |  SELECT p.purchase_id, p.user_id,
         |         CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= $FunnelTolMicros
         |              THEN c.click_id END AS click_id,
         |         CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= $FunnelTolMicros
         |              THEN c.ts END AS click_ts
         |  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
         |s2 AS (
         |  SELECT s1.user_id, s1.click_id,
         |         CASE WHEN epoch_us(s1.click_ts) - epoch_us(v.ts) <= $FunnelTolMicros
         |              THEN v.view_id END AS view_id
         |  FROM s1 ASOF LEFT JOIN v
         |    ON s1.user_id = v.user_id AND s1.click_ts >= v.ts)
         |SELECT user_id, count(*) AS n_purchases,
         |       count(click_id) AS n_click_attrib,
         |       count(view_id) AS n_full_funnel
         |FROM s2 GROUP BY 1""".stripMargin,

    "events_asof" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts, max(event_id) AS click_id FROM events
        |  WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.purchase_id, p.user_id,
        |       coalesce(c.click_id, -1) AS click_id,
        |       coalesce(epoch_us(p.ts) - epoch_us(c.ts), -1) AS gap_us
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

    // forward as-of: DuckDB's native ASOF with the ordering inequality
    // flipped picks the earliest right at-or-after.
    "events_asof_forward" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts, max(event_id) AS click_id FROM events
        |  WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.purchase_id, p.user_id,
        |       coalesce(c.click_id, -1) AS click_id,
        |       coalesce(epoch_us(c.ts) - epoch_us(p.ts), -1) AS gap_us
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts""".stripMargin,

    "rel_semi_anti" ->
      """SELECT c_custkey,
        |       CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |            THEN 'has_orders' ELSE 'no_orders' END AS status
        |FROM customer""".stripMargin,

    "q6_forecast" ->
      """SELECT count(*) AS n_items,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    // the isqrt correction chain replayed as CTE stages; keep-decision
    // is the shared multiplicative-hash permille bucket.
    "docs_mixture_temperature" ->
      s"""WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
         |s0 AS (SELECT source, cnt,
         |              CAST(floor(sqrt(CAST(cnt AS DOUBLE))) AS BIGINT) AS e
         |       FROM c),
         |s1 AS (SELECT source, cnt,
         |              CASE WHEN (e+1)*(e+1) <= cnt THEN e+1 ELSE e END AS e
         |       FROM s0),
         |w AS (SELECT source, CASE WHEN e*e > cnt THEN e-1 ELSE e END AS w FROM s1),
         |mn AS (SELECT min(w) AS wm FROM w),
         |r AS (SELECT source, CAST((1000 * wm) // w AS BIGINT) AS rate_x1000
         |      FROM w, mn)
         |SELECT d.doc_id, d.source, r.rate_x1000
         |FROM documents d JOIN r USING (source)
         |WHERE (${Curation.hashOrderSql("d.doc_id")}) % 1000 < r.rate_x1000""".stripMargin,

    "docs_source_similarity" ->
      """WITH sw AS (
        |  SELECT DISTINCT source, lower(trim(w)) AS w FROM (
        |    SELECT source, unnest(string_split_regex(text, '\s+')) AS w
        |    FROM documents)
        |  WHERE trim(w) <> '' AND NOT regexp_matches(trim(w), '^\s+$')),
        |sz AS (SELECT source, count(*) AS n FROM sw GROUP BY 1),
        |it AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |  FROM sw a JOIN sw b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b,
        |       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
        |       CAST(n_shared AS BIGINT) AS n_shared,
        |       CAST((n_shared * 1000000) // (sa.n + sb.n - n_shared) AS BIGINT)
        |         AS jaccard_x1e6
        |FROM it
        |JOIN sz sa ON sa.source = source_a
        |JOIN sz sb ON sb.source = source_b""".stripMargin,

    "docs_stats_report" ->
      s"""WITH a AS (
         |  SELECT count(*) AS n_docs,
         |         count(DISTINCT lang) AS n_langs,
         |         count(DISTINCT source) AS n_sources,
         |         CAST(sum(len($tokList)) AS BIGINT) AS n_tokens,
         |         count(*) - count(DISTINCT text) AS n_dup_docs
         |  FROM documents)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(n_langs AS BIGINT) AS n_langs,
         |       CAST(n_sources AS BIGINT) AS n_sources,
         |       n_tokens,
         |       CAST(n_dup_docs AS BIGINT) AS n_dup_docs,
         |       CAST((n_tokens * 100) // n_docs AS BIGINT) AS mean_tokens_x100,
         |       CAST((n_dup_docs * 10000) // n_docs AS BIGINT) AS dup_x10000
         |FROM a""".stripMargin,

    // salted join ≡ plain join: the oracle runs the unsalted form.
    "join_salted" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    // both engines truncate weeks to Monday; week-start differences
    // are exact multiples of 7 days.
    "events_retention" ->
      """WITH f AS (
        |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events),
        |c AS (
        |  SELECT cohort_week,
        |         datediff('day', cohort_week, week) // 7 AS period_weeks,
        |         count(*) AS n_users
        |  FROM a JOIN f USING (user_id) GROUP BY 1, 2),
        |s AS (SELECT cohort_week, count(*) AS cohort_size FROM f GROUP BY 1)
        |SELECT c.cohort_week, CAST(period_weeks AS BIGINT) AS period_weeks,
        |       CAST(n_users AS BIGINT) AS n_users,
        |       CAST(cohort_size AS BIGINT) AS cohort_size,
        |       CAST((n_users * 10000) // cohort_size AS BIGINT) AS retained_x10000
        |FROM c JOIN s USING (cohort_week)""".stripMargin,

    // run compression is null-safe (IS DISTINCT FROM); ties on ts
    // break by event_id exactly like the operator's tieBreak.
    "events_scd2" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, value,
        |         lag(value) OVER w AS pv,
        |         row_number() OVER w AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |k AS (SELECT * FROM o WHERE rn = 1 OR value IS DISTINCT FROM pv)
        |SELECT user_id, ts AS valid_from, value,
        |       lead(ts) OVER w2 AS valid_to,
        |       (lead(ts) OVER w2 IS NULL) AS is_current
        |FROM k
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    // adjacent-pair observations per user via lead, then the pair
    // count with its per-source integer permille share (DuckDB's
    // sum(BIGINT) promotes to HUGEINT — re-cast after the division).
    "events_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       CAST((n * 1000) // sum(n) OVER (PARTITION BY from_type)
        |            AS BIGINT) AS share_x1000
        |FROM c""".stripMargin,

    // χ² homogeneity across the doc-id parity snapshots, the
    // cross-multiplied integer form the operator emits.
    "docs_drift" ->
      """WITH c AS (
        |  SELECT source AS category,
        |         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM c),
        |x AS (
        |  SELECT category, n_a, n_b,
        |         CAST(n_a AS HUGEINT) * tb - CAST(n_b AS HUGEINT) * ta AS c2,
        |         CAST(ta AS HUGEINT) * tb * (n_a + n_b) AS d
        |  FROM c, t)
        |SELECT category, n_a, n_b,
        |       CAST((c2 * c2 // d) * 1000000
        |              + ((c2 * c2 % d) * 1000000 // d) AS BIGINT) AS chi2_x1e6
        |FROM x""".stripMargin,

    // DSIR: hashed-bucket (sha256-slice % 256) two-model LM ratio in
    // floor-log2 bits with add-1 smoothing; both engines' `//`/`div`
    // truncate toward zero, so negative log-weights divide identically.
    "docs_dsir" ->
      s"""$toksCte,
         |tf AS (
         |  SELECT t.doc_id,
         |         CAST(CAST(('0x' || substring(sha256(lower(word)), 1, 15))
         |           AS UBIGINT) AS BIGINT) % ${Curation.DsirBuckets} AS b,
         |         (d.lang = 'en') AS tgt, count(*) AS tf
         |  FROM toks t JOIN documents d USING (doc_id)
         |  GROUP BY 1, 2, 3),
         |m AS (SELECT b, CAST(sum(tf) AS BIGINT) AS cr,
         |             CAST(sum(CASE WHEN tgt THEN tf ELSE 0 END) AS BIGINT) AS ct
         |      FROM tf GROUP BY 1),
         |t2 AS (SELECT CAST(sum(cr) AS BIGINT) AS tr,
         |              CAST(sum(ct) AS BIGINT) AS tt FROM m),
         |bits AS (SELECT b,
         |  CAST((length(bin(tr + ${Curation.DsirBuckets})) - length(bin(cr + 1)))
         |     - (length(bin(tt + ${Curation.DsirBuckets})) - length(bin(ct + 1)))
         |    AS BIGINT) AS logw
         |  FROM m, t2),
         |pd AS (SELECT tf.doc_id,
         |              CAST(sum(tf.tf) AS BIGINT) AS n,
         |              CAST(sum(tf.tf * bits.logw) AS BIGINT) AS lw
         |       FROM tf JOIN bits USING (b) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(pd.n, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(pd.lw, 0) AS BIGINT) AS logw_bits_total,
         |  CAST(CASE WHEN coalesce(pd.n, 0) > 0
         |       THEN coalesce(pd.lw, 0) * 100 // pd.n ELSE 0 END
         |    AS BIGINT) AS avg_logw_x100,
         |  CAST(CASE WHEN coalesce(pd.n, 0) > 0 AND coalesce(pd.lw, 0) >= 0
         |       THEN 1 ELSE 0 END AS BIGINT) AS selected
         |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,

    // NB classifier: replicate the train split (hashOrder permille),
    // the 1024-bucket sha-slice features, smoothed floor-log2 class
    // costs, and the (cost, class) tie-break via QUALIFY — DuckDB's
    // row_number order equals Spark's min(struct) lexicographic min.
    "docs_classifier" ->
      s"""$toksCte,
         |base AS (SELECT doc_id, lang AS actual,
         |           ((${Curation.hashOrderSql("doc_id")}) % 1000
         |              < ${TextAnalysis.NbTrainPerMille}) AS train
         |         FROM documents),
         |tk AS (SELECT t.doc_id, b.actual, b.train,
         |         CAST(CAST(('0x' || substring(sha256(lower(word)), 1, 15))
         |           AS UBIGINT) AS BIGINT) % ${TextAnalysis.NbBuckets} AS fb
         |       FROM toks t JOIN base b USING (doc_id)),
         |cnt AS (SELECT actual AS c, fb, CAST(count(*) AS BIGINT) AS cnt
         |        FROM tk WHERE train GROUP BY 1, 2),
         |ct AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS tc FROM cnt GROUP BY 1),
         |pri AS (SELECT actual AS c, CAST(count(*) AS BIGINT) AS nc
         |        FROM base WHERE train GROUP BY 1),
         |nt AS (SELECT CAST(sum(nc) AS BIGINT) AS n FROM pri),
         |cls AS (SELECT pri.c, coalesce(ct.tc, 0) AS tc,
         |          CAST(length(bin(nt.n + 1)) - length(bin(pri.nc + 1))
         |            AS BIGINT) AS prior_bits
         |        FROM pri LEFT JOIN ct USING (c) CROSS JOIN nt),
         |tf AS (SELECT doc_id, fb, CAST(count(*) AS BIGINT) AS tf
         |       FROM tk GROUP BY 1, 2),
         |tkc AS (SELECT tf.doc_id, cls.c,
         |          CAST(sum(tf.tf * (length(bin(cls.tc + ${TextAnalysis.NbBuckets}))
         |            - length(bin(coalesce(cnt.cnt, 0) + 1)))) AS BIGINT) AS tok_bits
         |        FROM tf CROSS JOIN cls
         |        LEFT JOIN cnt ON cnt.fb = tf.fb AND cnt.c = cls.c
         |        GROUP BY 1, 2),
         |grid AS (SELECT b.doc_id, b.actual, cls.c,
         |           cls.prior_bits + coalesce(tkc.tok_bits, 0) AS cost
         |         FROM base b CROSS JOIN cls
         |         LEFT JOIN tkc ON tkc.doc_id = b.doc_id AND tkc.c = cls.c)
         |SELECT doc_id, c AS predicted, CAST(cost AS BIGINT) AS cost_bits,
         |       actual,
         |       CAST(CASE WHEN c = actual THEN 1 ELSE 0 END AS BIGINT) AS correct
         |FROM grid
         |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cost, c) = 1""".stripMargin,

    // triangle census over the same knn CTE as graph_pagerank:
    // canonical lo<hi edges, wedge join, EXISTS-closure (= left semi).
    "graph_triangles" ->
      s"""$knnGraphCte,
         |e0 AS (
         |  SELECT DISTINCT least(vec_id, neighbor_id) AS lo,
         |         greatest(vec_id, neighbor_id) AS hi
         |  FROM knn WHERE vec_id <> neighbor_id),
         |dg AS (
         |  SELECT id, count(*) AS d FROM (
         |    SELECT lo AS id FROM e0 UNION ALL SELECT hi FROM e0)
         |  GROUP BY 1),
         |ds AS (SELECT count(*) AS n_nodes,
         |              CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM dg),
         |tr AS (
         |  SELECT count(*) AS n_triangles
         |  FROM e0 e1 JOIN e0 e2 ON e1.hi = e2.lo
         |  WHERE EXISTS (SELECT 1 FROM e0 e3 WHERE e3.lo = e1.lo AND e3.hi = e2.hi)),
         |ec AS (SELECT count(*) AS n_edges FROM e0)
         |SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges,
         |       n_wedges, CAST(n_triangles AS BIGINT) AS n_triangles,
         |       CAST(CASE WHEN n_wedges > 0
         |                 THEN (3 * n_triangles * 1000000) // n_wedges
         |                 ELSE 0 END AS BIGINT) AS global_cc_x1e6
         |FROM ds, ec, tr""".stripMargin,

    // top-1 per (anchor, kind) ranks by the INTEGER cos_x1e6 with
    // smaller-id ties, identical to the operator's max_by struct.
    "emb_contrastive" ->
      s"""$knnGraphCte,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |tag AS (
         |  SELECT k.vec_id, l1.label,
         |         CASE WHEN l1.label = l2.label THEN 'pos' ELSE 'neg' END AS kind,
         |         k.neighbor_id AS pair_id, k.cos_x1e6
         |  FROM knn k
         |  JOIN lab l1 ON l1.vec_id = k.vec_id
         |  JOIN lab l2 ON l2.vec_id = k.neighbor_id),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, kind
         |                               ORDER BY cos_x1e6 DESC, pair_id) AS rn
         |  FROM tag)
         |SELECT vec_id, label, kind, pair_id, cos_x1e6 FROM r WHERE rn = 1""".stripMargin,

    // -log2 p(w) as floorlog2(total) - floorlog2(cnt) via bin-string
    // lengths — exact integers end to end on both engines.
    // same tf/idf-bits arithmetic; isqrt replicated via the corrected
    // float-sqrt (the docs_mixture_temperature trick); the cosine
    // division runs in HUGEINT to mirror Spark's DECIMAL(38,0).
    "text_tfidf_sim" ->
      s"""$toksCte,
         |tf AS (SELECT doc_id, lower(trim(word)) AS w, count(*) AS tf
         |       FROM toks GROUP BY 1, 2),
         |nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
         |dft AS (SELECT w, count(*) AS df FROM tf
         |        GROUP BY 1 HAVING count(*) <= $TfidfMaxDf),
         |idf AS (SELECT w, CAST(length(bin(n)) - length(bin(df)) AS BIGINT) AS idf
         |        FROM dft, nd),
         |wt AS (SELECT tf.doc_id, tf.w, CAST(tf.tf * idf.idf AS BIGINT) AS wt
         |       FROM tf JOIN idf USING (w) WHERE tf.tf * idf.idf > 0),
         |n2 AS (SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS n2 FROM wt GROUP BY 1),
         |s0 AS (SELECT doc_id, n2,
         |              CAST(floor(sqrt(CAST(n2 AS DOUBLE))) AS BIGINT) AS e
         |       FROM n2),
         |s1 AS (SELECT doc_id, n2,
         |              CASE WHEN (e+1)*(e+1) <= n2 THEN e+1 ELSE e END AS e
         |       FROM s0),
         |nrm AS (SELECT doc_id, CASE WHEN e*e > n2 THEN e-1 ELSE e END AS nrm
         |        FROM s1),
         |dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |                CAST(sum(a.wt * b.wt) AS BIGINT) AS dot
         |         FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2),
         |cosd AS (
         |  SELECT id_a, id_b,
         |         CAST((CAST(dot AS HUGEINT) * 1000000)
         |              // (CAST(na.nrm AS HUGEINT) * nb.nrm) AS BIGINT) AS cos_x1e6
         |  FROM dots
         |  JOIN nrm na ON na.doc_id = dots.id_a AND na.nrm > 0
         |  JOIN nrm nb ON nb.doc_id = dots.id_b AND nb.nrm > 0)
         |SELECT id_a, id_b, cos_x1e6 FROM cosd
         |WHERE cos_x1e6 >= $TfidfMinCos""".stripMargin,

    "text_keywords" -> keywordsSql,

    "text_lm_score" ->
      s"""$toksCte,
         |tf AS (SELECT doc_id, lower(trim(word)) AS w, count(*) AS tf
         |       FROM toks GROUP BY 1, 2),
         |m AS (SELECT w, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM m),
         |b AS (SELECT w, CAST(length(bin(total)) - length(bin(cnt)) AS BIGINT) AS bits
         |      FROM m, t)
         |SELECT tf.doc_id,
         |       CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         |       CAST(sum(tf.tf * b.bits) AS BIGINT) AS bits_total,
         |       CAST((CAST(sum(tf.tf * b.bits) AS BIGINT) * 100)
         |              // CAST(sum(tf.tf) AS BIGINT) AS BIGINT) AS avg_bits_x100
         |FROM tf JOIN b USING (w) GROUP BY 1""".stripMargin,

    // adjacent-pair bits: context counts are the rollup of pair
    // counts, so p(w2|w1) normalizes exactly; bigram key = "w1 w2"
    // (tokens are \s+-split, so the space is a safe separator).
    "text_lm_bigram" ->
      s"""WITH arr AS (
         |  SELECT doc_id, list_transform($tokList, w -> lower(trim(w))) AS a
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(a)),
         |    i -> a[i] || ' ' || a[i+1])) AS b
         |  FROM arr WHERE len(a) >= 2),
         |tf AS (SELECT doc_id, b, count(*) AS tf FROM bg GROUP BY 1, 2),
         |bc AS (SELECT b, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
         |cx AS (SELECT split_part(b, ' ', 1) AS w1, CAST(sum(cnt) AS BIGINT) AS ctx
         |       FROM bc GROUP BY 1),
         |bits AS (
         |  SELECT b, CAST(length(bin(ctx)) - length(bin(cnt)) AS BIGINT) AS bits
         |  FROM bc JOIN cx ON split_part(bc.b, ' ', 1) = cx.w1)
         |SELECT tf.doc_id,
         |       CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
         |       CAST(sum(tf.tf * bits.bits) AS BIGINT) AS bits_total,
         |       CAST((CAST(sum(tf.tf * bits.bits) AS BIGINT) * 100)
         |              // CAST(sum(tf.tf) AS BIGINT) AS BIGINT) AS avg_bits_x100
         |FROM tf JOIN bits USING (b) GROUP BY 1""".stripMargin,

    "graph_communities" -> lpaSql,

    // codepoint-class counts by regex removal; the dominant CASE
    // cascade is the operator's precedence chain verbatim.
    "text_scripts" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |    CAST(length(text) - length(regexp_replace(text, '[\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS n_arabic,
        |    CAST(length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS n_cjk,
        |    CAST(length(text) - length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')) AS BIGINT) AS n_space
        |  FROM documents),
        |o AS (
        |  SELECT *, n_chars - n_latin - n_digit - n_arabic - n_cjk - n_space AS n_other,
        |         n_chars - n_space AS vis
        |  FROM s)
        |SELECT doc_id, n_chars, n_latin, n_digit, n_arabic, n_cjk, n_space,
        |       CAST(n_other AS BIGINT) AS n_other,
        |       CAST(CASE WHEN vis > 0 THEN (n_latin * 1000) // vis ELSE 0 END AS BIGINT) AS latin_x1000,
        |       CASE WHEN vis = 0 THEN 'none'
        |            WHEN n_latin >= greatest(n_arabic, n_cjk, n_digit, n_other) THEN 'latin'
        |            WHEN n_arabic >= greatest(n_cjk, n_digit, n_other) THEN 'arabic'
        |            WHEN n_cjk >= greatest(n_digit, n_other) THEN 'cjk'
        |            WHEN n_digit >= n_other THEN 'digit'
        |            ELSE 'other' END AS dominant
        |FROM o""".stripMargin
  )
}
