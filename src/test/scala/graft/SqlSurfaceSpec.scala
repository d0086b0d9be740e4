package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Er, NearDup, Sessions}

/** SQL-vs-API equivalence for the TABLE-VALUED operator surface
  * (GraftExtensions.injectTableFunction): the engine's top table-level
  * operators driven from plain SQL must return exactly the Scala API's
  * rows — one operator definition behind both surfaces.
  */
class SqlSurfaceSpec extends SparkSpecBase {

  /** The shared session, with the `docs` and `events` views the SQL
    * side reads. */
  override lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("docs")
    SparkEntry.normalizeEventTs(
      s.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .createOrReplaceTempView("events")
    s
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("near_dup_pairs('docs') equals NearDup.minHashPairs") {
    val viaSql = spark.sql("SELECT * FROM near_dup_pairs('docs')")
    val viaApi = NearDup.minHashPairs(spark.table("docs"))
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() > 0)
    // composes like any relation: projection + predicate over the TVF
    val filtered = spark.sql(
      "SELECT doc_a, doc_b FROM near_dup_pairs('docs') WHERE jaccard_x1000 >= 900")
    assert(rows(filtered) ===
      rows(viaApi.where(col("jaccard_x1000") >= 900).select("doc_a", "doc_b")))
  }

  test("session_stats('events', gap) equals Sessions.sessionStats") {
    val gap = 3600L * 1000000
    val viaSql = spark.sql(s"SELECT * FROM session_stats('events', $gap)")
    val viaApi = Sessions.sessionStats(spark.table("events"), gap)
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    // defaulted gap too (DefaultGapMicros behind both surfaces)
    assert(rows(spark.sql("SELECT * FROM session_stats('events')"))
      === rows(Sessions.sessionStats(spark.table("events"))))
  }

  test("sample_weighted('docs', k) equals Curation.sampleWeighted") {
    val viaSql = spark.sql(
      "SELECT * FROM sample_weighted('docs', 25, 'doc_id', 'n_chars')")
    val viaApi = Curation.sampleWeighted(spark.table("docs"), 25)
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() === 25)
  }

  test("er_pairs('cust') equals Er.fuzzyPairs") {
    spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .createOrReplaceTempView("cust")
    val viaSql = spark.sql("SELECT * FROM er_pairs('cust')")
    val viaApi = Er.fuzzyPairs(spark.table("cust"), "c_custkey", "c_name")
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() > 0)
    // the hot-key dial rides through the SQL surface
    assert(rows(spark.sql("SELECT * FROM er_pairs('cust', 'c_custkey', 'c_name', 5)"))
      === rows(Er.fuzzyPairs(spark.table("cust"), "c_custkey", "c_name",
        maxKeyFreq = Some(5L))))
  }

  test("coverage_sample('scored','cells') equals Curation.coverageSample") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.operators.TextAnalysis.quality(spark.table("docs"))
      .createOrReplaceTempView("scored")
    graft.operators.Embeddings.ivfAssign(emb,
      graft.operators.Embeddings.ivfCentroids(emb))
      .createOrReplaceTempView("cells")
    val viaSql = spark.sql("SELECT * FROM coverage_sample('scored', 'cells', 2)")
    val viaApi = Curation.coverageSample(
      spark.table("scored"), spark.table("cells"), perCell = 2)
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() > 0)
  }

  test("topk_recall('found','truth') equals Eval.topKRecall") {
    import spark.implicits._
    Seq((1L, 2L), (1L, 9L), (2L, 5L)).toDF("query_id", "neighbor_id")
      .createOrReplaceTempView("found")
    Seq((1L, 2L), (1L, 3L), (2L, 5L)).toDF("query_id", "neighbor_id")
      .createOrReplaceTempView("truth")
    val viaSql = spark.sql("SELECT * FROM topk_recall('found', 'truth')")
    val viaApi = graft.operators.Eval.topKRecall(
      spark.table("found"), spark.table("truth"))
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.head().getLong(4) === 667L)
  }

  test("decontaminate_fuzzy('train','bench') equals Curation.decontaminateFuzzy") {
    import spark.implicits._
    val bench = Seq((100L,
      "the quick brown fox jumps over the lazy dog while the moon rises over the far hill"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog while the moon rises over the far ridge"),
      (2L, "entirely different base material about catalyst optimizer rules and codegen stages"))
      .toDF("doc_id", "text")
    train.createOrReplaceTempView("dc_train")
    bench.createOrReplaceTempView("dc_bench")
    val viaSql = spark.sql("SELECT * FROM decontaminate_fuzzy('dc_train', 'dc_bench')")
    val viaApi = Curation.decontaminateFuzzy(
      train.withColumn("__b", lit(false))
        .unionByName(bench.withColumn("__b", lit(true))),
      col("__b")).drop("__b")
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.select("doc_id").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().toSet === Set(2L))
  }

  test("asof_join('purchases','clicks',...) equals Sessions.asofJoin") {
    val ev = spark.table("events")
    ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      .createOrReplaceTempView("aj_purch")
    ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .createOrReplaceTempView("aj_click")
    val viaSql = spark.sql(
      "SELECT * FROM asof_join('aj_purch', 'aj_click', 'user_id', 'ts', 'click_id')")
    val viaApi = Sessions.asofJoin(
      spark.table("aj_purch"), spark.table("aj_click"),
      keys = Seq("user_id"), tsCol = "ts", payload = Seq("click_id"))
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.where(col("click_id").isNotNull).count() > 0)
    // tolerance + forward dials ride through the SQL surface
    val tol = 3600L * 1000000
    assert(rows(spark.sql(
      s"SELECT * FROM asof_join('aj_purch', 'aj_click', 'user_id', 'ts', 'click_id', $tol, true)"))
      === rows(Sessions.asofJoin(spark.table("aj_purch"), spark.table("aj_click"),
        Seq("user_id"), "ts", Seq("click_id"),
        toleranceMicros = Some(tol), forward = true)))
  }

  test("funnel('events', 'view,click,purchase', tol) equals Sessions.funnel") {
    val tol = 24L * 3600 * 1000000
    val viaSql = spark.sql(
      s"SELECT * FROM funnel('events', 'view,click,purchase', $tol)")
    val viaApi = Sessions.funnel(
      spark.table("events"), Seq("view", "click", "purchase"), tol)
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(viaSql.columns.toSeq ===
      Seq("user_id", "n_purchase", "n_click", "n_view"))
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() > 0)
  }

  test("pair_recall('found','truth') equals Eval.pairRecall") {
    import spark.implicits._
    Seq((2L, 1L), (1L, 2L), (3L, 4L)).toDF("vec_a", "vec_b")
      .createOrReplaceTempView("pr_found")
    Seq((1L, 2L), (5L, 6L)).toDF("vec_a", "vec_b")
      .createOrReplaceTempView("pr_truth")
    val viaSql = spark.sql("SELECT * FROM pair_recall('pr_found', 'pr_truth')")
    val viaApi = graft.operators.Eval.pairRecall(
      spark.table("pr_found"), spark.table("pr_truth"))
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    val r = viaSql.head()
    assert((r.getLong(4), r.getLong(5)) === ((500L, 500L)))
    assert(!r.getBoolean(6))
    // custom pair column names ride through
    Seq((1L, 2L)).toDF("doc_a", "doc_b").createOrReplaceTempView("pr_docs")
    assert(spark.sql(
      "SELECT * FROM pair_recall('pr_docs', 'pr_docs', 'doc_a', 'doc_b')")
      .head().getLong(4) === 1000L)
  }

  test("transitions('events') equals Sessions.transitions") {
    val viaSql = spark.sql("SELECT * FROM transitions('events')")
    val viaApi = Sessions.transitions(spark.table("events"))
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() > 0)
  }

  test("asof_join / funnel argument errors fail analysis") {
    val badForward = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM asof_join('events', 'events', 'user_id', 'ts', 'x', 1, 'yes')")
        .collect()
    }
    assert(badForward.getMessage.contains("foldable boolean"), badForward.getMessage)
    intercept[org.apache.spark.sql.AnalysisException] {
      // payload column collides with a left column
      spark.sql("SELECT * FROM asof_join('events', 'events', 'user_id', 'ts', 'value')")
        .collect()
    }
    val oneStage = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM funnel('events', 'purchase', 1)").collect()
    }
    assert(oneStage.getMessage.contains(">= 2"), oneStage.getMessage)
    val dupStage = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM funnel('events', 'click,click', 1)").collect()
    }
    assert(dupStage.getMessage.contains("distinct"), dupStage.getMessage)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM funnel('events', 'view,click', 0)").collect()
    }
  }

  test("dedup_clusters('pairs') equals DedupClusters.resolve") {
    import spark.implicits._
    // two chains + a singleton pair: {1,2,3}, {7,8}, {10,11}
    Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 11L)).toDF("doc_a", "doc_b")
      .createOrReplaceTempView("pairs")
    val viaSql = spark.sql("SELECT * FROM dedup_clusters('pairs')")
    val viaApi = graft.operators.DedupClusters.resolve(spark.table("pairs"))
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() === 7)
    // explicit column names ride through
    Seq((1L, 5L)).toDF("id_a", "id_b").createOrReplaceTempView("pairs2")
    assert(rows(
      spark.sql("SELECT * FROM dedup_clusters('pairs2', 'id_a', 'id_b')"))
      === rows(graft.operators.DedupClusters.resolve(
        spark.table("pairs2"), "id_a", "id_b")))
  }

  test("search('docs', query) equals Tokenize ∘ Relevance.search") {
    def api(terms: Seq[String], k: Int) = graft.operators.Relevance.search(
      graft.operators.Tokenize.splitTokens(inputCol = "text")(
        spark.table("docs").select("doc_id", "text")),
      terms, k)
    val viaSql = spark.sql("SELECT * FROM search('docs', 'spark hash window')")
    val viaApi = api(Seq("spark", "hash", "window"), 10)
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() > 0)
    // k dial rides through
    assert(rows(spark.sql("SELECT * FROM search('docs', 'spark hash', 3)"))
      === rows(api(Seq("spark", "hash"), 3)))
  }

  test("dedup_clusters / search argument errors fail analysis") {
    val missing = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM dedup_clusters('no_such_pairs')").collect()
    }
    assert(missing.getMessage.contains("no_such_pairs"), missing.getMessage)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM dedup_clusters('docs', 'doc_a', 'doc_b', 'extra')")
        .collect()
    }
    val emptyQuery = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM search('docs', '   ')").collect()
    }
    assert(emptyQuery.getMessage.contains("at least one term"),
      emptyQuery.getMessage)
    val badK = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM search('docs', 'spark', 0)").collect()
    }
    assert(badK.getMessage.contains(">= 1"), badK.getMessage)
    // a column reference dies in the analyzer itself (TVF args have no
    // input row to resolve against); a resolvable-but-non-foldable
    // expression exercises OUR validation message
    val nonLiteralQ = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM search('docs', CAST(rand() AS STRING))").collect()
    }
    assert(nonLiteralQ.getMessage.contains("foldable string"),
      nonLiteralQ.getMessage)
  }

  test("domain_cap('docs', k) equals Curation.domainCap") {
    val viaSql = spark.sql("SELECT * FROM domain_cap('docs', 2)")
    val viaApi = Curation.domainCap(spark.table("docs"), 2)
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() > 0)
    // explicit column names behind the same definition
    assert(rows(spark.sql(
      "SELECT * FROM domain_cap('docs', 3, 'source', 'doc_id', 'text')"))
      === rows(Curation.domainCap(spark.table("docs"), 3)))
  }

  test("mixture_budget / pack equal Curation.mixtureByBudget / packByBudget") {
    // the weighted view both surfaces consume (token counts attached)
    spark.table("docs")
      .select(col("doc_id"), col("source"),
        graft.operators.FoldGroup.tokenCountExpr(col("text")).as("n_tokens"))
      .createOrReplaceTempView("docs_weighted")
    val weighted = spark.table("docs_weighted")
    val viaSql = spark.sql(
      "SELECT * FROM mixture_budget('docs_weighted', map('src0', 0, 'src1', 300), 600)")
    val viaApi = Curation.mixtureByBudget(
      weighted, Seq("src0" -> 0L, "src1" -> 300L), 600L)
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() > 0)
    // empty overrides map: every stratum on the default budget
    assert(rows(spark.sql(
      "SELECT * FROM mixture_budget('docs_weighted', map(), 600)"))
      === rows(Curation.mixtureByBudget(weighted, Seq.empty, 600L)))
    val packSql = spark.sql("SELECT * FROM pack('docs_weighted', 512)")
    val packApi = Curation.packByBudget(weighted, 512L)
    assert(packSql.columns.toSeq === packApi.columns.toSeq)
    assert(rows(packSql) === rows(packApi))
    assert(packSql.count() > 0)
  }

  test("domain_cap / mixture_budget / pack argument errors fail analysis") {
    val badK = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM domain_cap('docs', 0)").collect()
    }
    assert(badK.getMessage.contains("k must be"), badK.getMessage)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM domain_cap('docs')").collect() // missing k
    }
    val badMap = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM mixture_budget('docs', 'not_a_map', 600)").collect()
    }
    assert(badMap.getMessage.contains("foldable map"), badMap.getMessage)
    // duplicate map keys: CreateMap.eval raises a raw RuntimeException
    // under mapKeyDedupPolicy=EXCEPTION — the surface must translate it
    // into the same positioned AnalysisException as other bad arguments
    val dupKey = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM mixture_budget('docs', map('web', 1, 'web', 2), 600)")
        .collect()
    }
    assert(dupKey.getMessage.contains("not a valid map literal"),
      dupKey.getMessage)
    // … and so must a duplicate-key NON-integral map: it types as
    // map<string,string>, so it reaches the empty-map fallback guard,
    // whose eval must get the same translation (r14 advice)
    val dupKeyStr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM mixture_budget('docs', map('a', 'x', 'a', 'y'), 600)")
        .collect()
    }
    assert(dupKeyStr.getMessage.contains("not a valid map literal"),
      dupKeyStr.getMessage)
    // a negative map entry anchors to the MAP argument even when the
    // default budget is also negative
    val bothNeg = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM mixture_budget('docs', map('a', -5), -1)").collect()
    }
    assert(bothNeg.getMessage.contains("got -5"), bothNeg.getMessage)
    val negBudget = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM mixture_budget('docs', map('a', -5), 600)").collect()
    }
    assert(negBudget.getMessage.contains(">= 0"), negBudget.getMessage)
    val negDefault = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM mixture_budget('docs', map(), -1)").collect()
    }
    assert(negDefault.getMessage.contains(">= 0"), negDefault.getMessage)
    val badPack = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM pack('docs', 0)").collect()
    }
    assert(badPack.getMessage.contains(">= 1"), badPack.getMessage)
    val missing = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM pack('no_such_docs', 512)").collect()
    }
    assert(missing.getMessage.contains("no_such_docs"), missing.getMessage)
  }

  test("substring_dedup('docs') equals NearDup.substringDedup") {
    val viaSql = spark.sql("SELECT * FROM substring_dedup('docs')")
    val viaApi = NearDup.substringDedup(spark.table("docs"))
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() > 0)
    // every dial rides through: n and min_docs
    assert(rows(spark.sql("SELECT * FROM substring_dedup('docs', 'doc_id', 'text', 4, 3)"))
      === rows(NearDup.substringDedup(spark.table("docs"), n = 4, minDocs = 3)))
  }

  test("winnow_pairs('docs') equals TextAnalysis.winnowPairs") {
    val viaSql = spark.sql("SELECT * FROM winnow_pairs('docs')")
    val viaApi = graft.operators.TextAnalysis.winnowPairs(spark.table("docs"))
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() > 0)
  }

  test("phash_pairs('bins') equals Multimodal.pHashPairs") {
    // binary payloads synthesized from the docs fixture (text bytes),
    // plus planted exact twins (id-offset copies of every 20th doc) so
    // the non-empty assertion can't depend on fixture luck
    val base = spark.table("docs")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    base.unionByName(
      base.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("payload")))
      .createOrReplaceTempView("bins")
    val viaSql = spark.sql("SELECT * FROM phash_pairs('bins')")
    val viaApi = graft.operators.Multimodal.pHashPairs(spark.table("bins"))
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() > 0)
    // the geometry dials ride through
    assert(rows(spark.sql("SELECT * FROM phash_pairs('bins', 'doc_id', 'payload', 8, 4)"))
      === rows(graft.operators.Multimodal.pHashPairs(
        spark.table("bins"), bands = 8, maxHamming = 4)))
  }

  test("bfs('edges', 'seeds') equals Graph.bfs") {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 1L))
      .toDF("src", "dst").createOrReplaceTempView("edges")
    Seq(Tuple1(1L), Tuple1(5L)).toDF("id").createOrReplaceTempView("seeds")
    val viaSql = spark.sql("SELECT * FROM bfs('edges', 'seeds', 2)")
    val viaApi = graft.operators.Graph.bfs(
      spark.table("edges"), spark.table("seeds"), maxHops = 2)
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    // seed 1 reaches 2 (1 hop) then 3 (2 hops); seed 5 reaches 6 then 1
    // (already seeded → not re-reached): exactly {1,5}@0 {2,6}@1 {3}@2
    assert(rows(viaSql) === Set("[1,0]", "[5,0]", "[2,1]", "[6,1]", "[3,2]"))
    // custom column names ride through
    Seq((1L, 2L)).toDF("a", "b").createOrReplaceTempView("edges2")
    Seq(Tuple1(1L)).toDF("n").createOrReplaceTempView("seeds2")
    assert(rows(spark.sql("SELECT * FROM bfs('edges2', 'seeds2', 1, 'a', 'b', 'n')"))
      === Set("[1,0]", "[2,1]"))
  }

  test("substring_dedup / winnow_pairs / phash_pairs / bfs argument errors fail analysis") {
    val badN = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM substring_dedup('docs', 'doc_id', 'text', 0)").collect()
    }
    assert(badN.getMessage.contains("n must be"), badN.getMessage)
    val badMinDocs = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM substring_dedup('docs', 'doc_id', 'text', 3, 1)").collect()
    }
    assert(badMinDocs.getMessage.contains("min_docs must be >= 2"), badMinDocs.getMessage)
    val missing = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM winnow_pairs('no_such_view')").collect()
    }
    assert(missing.getMessage.contains("no_such_view"), missing.getMessage)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM winnow_pairs('docs', 'doc_id', 'text', 'extra')").collect()
    }
    // the pigeonhole exactness precondition is an ANALYSIS error, not a
    // builder-time require: bands - max_hamming < 2
    val inexact = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM phash_pairs('docs', 'doc_id', 'text', 8, 7)").collect()
    }
    assert(inexact.getMessage.contains("bands - max_hamming >= 2"), inexact.getMessage)
    val badBands = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM phash_pairs('docs', 'doc_id', 'text', 1, 0)").collect()
    }
    assert(badBands.getMessage.contains("bands must be"), badBands.getMessage)
    val badHops = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM bfs('docs', 'docs', 0)").collect()
    }
    assert(badHops.getMessage.contains("max_hops must be"), badHops.getMessage)
    val hugeHops = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM bfs('docs', 'docs', 100000)").collect()
    }
    assert(hugeHops.getMessage.contains("max_hops must be"), hugeHops.getMessage)
  }

  // ---- the ANN serving path (ann_search / ann_search_refined) -------

  private def annViews(): Unit = {
    import graft.operators.Embeddings
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.createOrReplaceTempView("ann_corpus")
    emb.where(col("vec_id") % 20 === 0).createOrReplaceTempView("ann_q")
    val icents = Embeddings.ivfCentroids(emb)
    val pcents = Embeddings.pqCentroids(emb, Embeddings.CentroidStep,
      Embeddings.PqSubspaces)
    icents.createOrReplaceTempView("ann_icents")
    pcents.createOrReplaceTempView("ann_pcents")
    Embeddings.ivfAssign(emb, icents).createOrReplaceTempView("ann_cells")
    Embeddings.pqEncode(emb, pcents, Embeddings.PqSubspaces)
      .select("vec_id", "sub", "code").createOrReplaceTempView("ann_codes")
  }

  test("ann_search over frozen index tables equals Embeddings.annIvfPqServe") {
    import graft.operators.Embeddings
    annViews()
    val viaSql = spark.sql(
      "SELECT * FROM ann_search('ann_q', 'ann_icents', 'ann_pcents', " +
        "'ann_cells', 'ann_codes', 3, 4)")
    val viaApi = Embeddings.annIvfPqServe(
      spark.table("ann_q"), spark.table("ann_icents"), spark.table("ann_pcents"),
      spark.table("ann_cells"), spark.table("ann_codes"), k = 3, nprobe = 4)
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() > 0)
    // defaulted dials (k=3, nprobe=1) behind both surfaces
    assert(rows(spark.sql(
      "SELECT * FROM ann_search('ann_q', 'ann_icents', 'ann_pcents', " +
        "'ann_cells', 'ann_codes')"))
      === rows(Embeddings.annIvfPqServe(
        spark.table("ann_q"), spark.table("ann_icents"), spark.table("ann_pcents"),
        spark.table("ann_cells"), spark.table("ann_codes"))))
  }

  test("ann_search_refined (exact rerank) equals Embeddings.annIvfPqServeRefined") {
    import graft.operators.Embeddings
    annViews()
    val viaSql = spark.sql(
      "SELECT * FROM ann_search_refined('ann_q', 'ann_corpus', 'ann_icents', " +
        "'ann_pcents', 'ann_cells', 'ann_codes', 3, 4, 12)")
    val viaApi = Embeddings.annIvfPqServeRefined(
      spark.table("ann_q"), spark.table("ann_corpus"), spark.table("ann_icents"),
      spark.table("ann_pcents"), spark.table("ann_cells"), spark.table("ann_codes"),
      k = 3, nprobe = 4, refine = 12)
    assert(viaSql.columns.toSeq === viaApi.columns.toSeq)
    assert(viaSql.columns.contains("sqdist")) // exact order, not code order
    assert(rows(viaSql) === rows(viaApi))
    assert(viaSql.count() > 0)
    // and the refined SQL path is bit-identical to the inline
    // annIvfPqFromIndex deployment shape given the same tables
    val viaFromIndex = Embeddings.annIvfPqFromIndex(
      spark.table("ann_corpus"), col("vec_id") % 20 === 0,
      spark.table("ann_icents"), spark.table("ann_pcents"),
      spark.table("ann_cells"), spark.table("ann_codes"),
      k = 3, nprobe = 4, refine = Some(12))
    assert(rows(viaSql) === rows(viaFromIndex))
  }

  test("ann_search / ann_search_refined argument errors fail analysis") {
    annViews()
    val badK = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM ann_search('ann_q', 'ann_icents', 'ann_pcents', " +
        "'ann_cells', 'ann_codes', 0)").collect()
    }
    assert(badK.getMessage.contains("k must be >= 1"), badK.getMessage)
    val badNprobe = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM ann_search('ann_q', 'ann_icents', 'ann_pcents', " +
        "'ann_cells', 'ann_codes', 3, 0)").collect()
    }
    assert(badNprobe.getMessage.contains("nprobe must be >= 1"), badNprobe.getMessage)
    val badM = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM ann_search('ann_q', 'ann_icents', 'ann_pcents', " +
        "'ann_cells', 'ann_codes', 3, 1, 0)").collect()
    }
    assert(badM.getMessage.contains("m must be"), badM.getMessage)
    // refine < k violates the rerank precondition — an analysis error,
    // not a builder-time require
    val badRefine = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM ann_search_refined('ann_q', 'ann_corpus', " +
        "'ann_icents', 'ann_pcents', 'ann_cells', 'ann_codes', 5, 1, 3)").collect()
    }
    assert(badRefine.getMessage.contains("refine (3) must be >= k (5)"),
      badRefine.getMessage)
    val missing = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM ann_search('no_such_index_table', 'ann_icents', " +
        "'ann_pcents', 'ann_cells', 'ann_codes')").collect()
    }
    assert(missing.getMessage.contains("no_such_index_table"), missing.getMessage)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM ann_search('ann_q', 'ann_icents')").collect()
    }
  }

  test("table-function argument errors fail analysis with positions") {
    val missing = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM near_dup_pairs('no_such_table')").collect()
    }
    assert(missing.getMessage.contains("no_such_table"), missing.getMessage)
    val nonLiteral = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM sample_weighted('docs', 'five')").collect()
    }
    assert(nonLiteral.getMessage.contains("foldable integer"), nonLiteral.getMessage)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM sample_weighted('docs', 0)").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM session_stats('events', -1)").collect()
    }
  }
}
