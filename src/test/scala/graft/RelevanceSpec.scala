package graft

import graft.operators.{Relevance, TextAnalysis, Tokenize}

/** Semantics tests for the corpus-relevance family
  * ([[graft.operators.Relevance]]) and the index/percentile additions
  * to [[graft.operators.TextAnalysis]] on hand-countable corpora —
  * fixture-scale oracle parity is covered by the battery.
  */
class RelevanceSpec extends SparkSpecBase {

  import spark.implicits._

  private def toks(rows: (Long, String)*) =
    Tokenize.splitTokens(inputCol = "text")(rows.toDF("doc_id", "text"))

  test("bm25 ranks a doc-specific term above a corpus-wide one") {
    // "zebra" appears only in doc 0; "the" is in every doc with the
    // same tf — idf-free BM25 ties them, but tfidf separates, and the
    // emitted df column must tell them apart
    val top = Relevance
      .bm25TopTerms(toks(
        (0L, "the zebra zebra runs"),
        (1L, "the dog runs fast"),
        (2L, "the cat sleeps a lot")), k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getInt(6)))
    val doc0 = top.filter(_._1 == 0L).sortBy(_._7)
    // tf=2 beats every tf=1 term under BM25; doc 0's top term is zebra
    assert(doc0.head._2 === "zebra" && doc0.head._3 === 2L && doc0.head._4 === 1L)
    // linear idf: tfidf_x1000 = tf*1000*N div df = 2*1000*3/1 = 6000
    assert(doc0.head._6 === 6000L)
    // every doc emits exactly k rows, ranks 1..k
    assert(top.groupBy(_._1).forall(_._2.map(_._7).sorted.sameElements(1 to 2)))
  }

  test("bm25 monotonicity: higher tf at equal dl and df scores higher") {
    val rows = Relevance
      .bm25TopTerms(toks(
        (0L, "aa aa aa bb"),
        (1L, "aa bb cc dd")), k = 4)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(4)))
    val aa0 = rows.find(r => r._1 == 0L && r._2 == "aa").get._3
    val aa1 = rows.find(r => r._1 == 1L && r._2 == "aa").get._3
    assert(aa0 > aa1)
  }

  test("invertedIndex: numeric posting order, true df, and the maxDf cap") {
    val idx = TextAnalysis
      .invertedIndex(toks(
        (9L, "w common"), (10L, "w common"), (2L, "w only2")))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    // 9 < 10 numerically — a lexicographic sort would emit "10,2,9"
    assert(idx("w") === (3L, "2,9,10"))
    assert(idx("common") === (2L, "9,10"))
    assert(idx("only2") === (1L, "2"))
    val capped = TextAnalysis
      .invertedIndex(toks((9L, "w common"), (10L, "w common"), (2L, "w only2")),
        maxDf = 2L)
      .collect().map(_.getString(0)).toSet
    assert(capped === Set("common", "only2"))
  }

  test("invertedIndexSharded: chunked postings, true df, chunk ordering, maxDf") {
    // 7 docs all containing "w"; chunkSize=3 → chunks of 3/3/1 in
    // numeric doc order; df is the TRUE per-word count on every chunk.
    val docs = (1L to 7L).map(i => (i, if (i <= 2) "w rare" else "w"))
    val idx = TextAnalysis
      .invertedIndexSharded(toks(docs: _*), chunkSize = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(2)) -> (r.getLong(1), r.getString(3)))
      .toMap
    assert(idx(("w", 0L)) === (7L, "1,2,3"))
    assert(idx(("w", 1L)) === (7L, "4,5,6"))
    assert(idx(("w", 2L)) === (7L, "7"))
    assert(idx(("rare", 0L)) === (2L, "1,2"))
    assert(!idx.keySet.exists { case (_, c) => c > 2 })
    // the cap composes: df computed before filtering, so w (df=7) dies
    val capped = TextAnalysis
      .invertedIndexSharded(toks(docs: _*), chunkSize = 3, maxDf = 2L)
      .collect().map(_.getString(0)).toSet
    assert(capped === Set("rare"))
  }

  test("collocations: lift isolates the glued pair from independent fillers") {
    // "new york" always adjacent (5×); filler words are shuffled around
    // so their pairings vary; minCount=2 keeps counts small
    val docs = Seq(
      (1L, "new york aa bb new york cc dd"),
      (2L, "aa new york bb cc new york dd"),
      (3L, "bb aa new york dd cc")).toDF("doc_id", "text")
    val top = Relevance.collocations(docs, k = 3, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(top.head._1 === "new" && top.head._2 === "york" && top.head._3 === 5L)
    // lift sanity: N_uni = 8+8+6 = 22 tokens, N_big = 7+7+5 = 19,
    // c_new = c_york = 5 →
    // lift = (5 * 22² * 1000) div (19 * 25) = 2420000 div 475 = 5094
    assert(top.head._4 === 5094L)
  }

  test("hashedFeatures buckets by the sha256 slice and scores linear idf") {
    import spark.implicits._
    val toks = Seq(
      (1L, "alpha"), (1L, "alpha"), (1L, "beta"),
      (2L, "alpha"), (2L, "gamma"))
      .toDF("doc_id", "word")
    val buckets = 64
    val got = Relevance.hashedFeatures(toks, buckets).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    // model: same sha256 15-hex-char slice in the JVM
    def bucketOf(w: String): Long = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % buckets
    }
    val words = Map(1L -> Seq("alpha", "alpha", "beta"), 2L -> Seq("alpha", "gamma"))
    val tf = words.toSeq.flatMap { case (d, ws) => ws.map(w => (d, bucketOf(w))) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val df = tf.keys.groupBy(_._2).map { case (b, ks) => b -> ks.size.toLong }
    val nDocs = 2L
    val expected = tf.map { case ((d, b), t) =>
      (d, b) -> (t, df(b), t * 1000L * nDocs / df(b)) }
    assert(got === expected)
    // every bucket in range
    assert(got.keys.forall { case (_, b) => b >= 0 && b < buckets })
  }

  test("lengthStats nearest-rank percentiles on a known distribution") {
    // 10 docs, lengths 1..10 tokens, all same (undetected) language:
    // p50 = idx ceil(5.0)=5 -> 5, p90 = idx 9 -> 9, p99 = idx 10 -> 10
    val docs = (1 to 10)
      .map(i => (i.toLong, Seq.fill(i)("xx").mkString(" ")))
      .toDF("doc_id", "text")
    val row = TextAnalysis.lengthStats(docs).collect()
    assert(row.length === 1 && row.head.getString(0) === "und")
    val got = (1 to 6).map(row.head.getLong)
    assert(got === Seq(10L, 1L, 5L, 9L, 10L, 10L))
  }

  test("search/hybridSearch rank windows keep a partition spec after optimization") {
    // The ≤ k-row rank windows partition by a constant-valued but
    // NON-foldable key so WindowExec's "No Partition Defined" warning
    // (which buried real signal in every bench tail) never fires.
    // EliminateWindowPartitions strips FOLDABLE partition keys — assert
    // the key survives the optimizer, so a refactor to lit(1) (folded
    // away, warning returns) fails here instead of in a bench tail.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val corpus = toks(
      (0L, "alpha beta gamma"), (1L, "alpha beta delta"), (2L, "gamma gamma zeta"))
    for (df <- Seq(
        Relevance.search(corpus, Seq("alpha", "gamma"), k = 2),
        Relevance.hybridSearch(corpus, Seq("alpha", "gamma"), k = 2))) {
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: LWindow => w }
      assert(windows.nonEmpty)
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        "rank window lost its partition spec — the no-partition " +
          "WindowExec warning is back"))
    }
    // and the constant key leaves ranks exactly as the empty spec had
    val ranks = Relevance.search(corpus, Seq("alpha", "gamma"), k = 2)
      .select("rnk").collect().map(_.getLong(0)).sorted
    assert(ranks.toSeq === Seq(1L, 2L))
  }
}
