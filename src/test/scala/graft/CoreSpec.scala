package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.api
import graft.operators.{AttrsTransform, FoldGroup, Tokenize}
import graft.sinks.{ConsoleSink, CsvSink, Projection}

/** Contract tests for the core API pieces and the small operators the
  * oracle queries exercise only implicitly: noop transform, transform
  * chaining, per-group folds, tokenizer per-token pipeline
  * (remove_chars → mappers → ignore predicate), projection
  * required-ness, and sink append/console behavior.
  */
class CoreSpec extends SparkSpecBase {

  test("approx_count_distinct stays within 2% of exact (the 100 TB distinct-count form)") {
    // independent re-derivation of the bound the battery query
    // (rel_approx_count_distinct) emits as its oracle-pinned boolean
    val dir = "/root/testdata/sf0.01"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val exact = li.agg(countDistinct(col("l_partkey"))).head.getLong(0)
    val approx = li.agg(approx_count_distinct(col("l_partkey"), 0.01))
      .head.getLong(0)
    val relErr = math.abs(approx - exact).toDouble / exact
    assert(relErr <= 0.02, s"approx=$approx exact=$exact relErr=$relErr")
    // and the battery query's contract row agrees
    val row = SparkEntry.queries("rel_approx_count_distinct")(spark, dir).head
    assert(row.getLong(0) === exact)
    assert(row.getBoolean(1), "within_2pct must be true")
  }

  test("approx quantiles honor the sketch's rank-error bound n/accuracy") {
    // the sketch's contract is on RANKS (not values): the number of
    // rows at-or-below each reported quantile sits within n/accuracy
    // of q·n — re-derived here independently of the battery query's
    // own rank pass.
    val dir = "/root/testdata/sf0.01"
    val prices = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_extendedprice").as("p"))
    val n = prices.count()
    val qs = prices.agg(
      percentile_approx(col("p"), array(lit(0.5), lit(0.9), lit(0.99)),
        lit(SparkEntry.ApproxQuantileAccuracy)).as("qs"))
      .head.getSeq[Double](0)
    val tol = n / SparkEntry.ApproxQuantileAccuracy + 1
    for ((q, i) <- Seq(0.5, 0.9, 0.99).zipWithIndex) {
      val v = qs(i)
      val rank = prices.filter(col("p") <= lit(v)).count()
      assert(math.abs(rank - q * n) <= tol,
        s"q=$q v=$v rank=$rank expected ~${q * n} ± $tol of n=$n")
    }
    // and the battery query's contract row agrees
    val row = SparkEntry.queries("rel_approx_quantiles")(spark, dir).head
    assert(row.getLong(0) === n)
    assert(row.getBoolean(1) && row.getBoolean(2) && row.getBoolean(3),
      "every rank bound must hold")
  }

  private lazy val df = {
    import spark.implicits._
    Seq((1L, "x", 10L), (2L, "x", 20L), (3L, "y", 5L)).toDF("id", "k", "v")
  }

  test("SparkEntry.cliError: usage line, unknown query names, or None") {
    assert(SparkEntry.cliError("m <sfDir>", argsOk = false, Seq("wordstats")) ===
      Some("usage: m <sfDir>"))
    assert(SparkEntry.cliError("m <sfDir>", argsOk = true, Seq("wordstats")) === None)
    assert(SparkEntry.cliError("m <sfDir>", argsOk = true, Nil) === None)
    val msg = SparkEntry.cliError("m <sfDir>", argsOk = true,
      Seq("wordstats", "no_such_query", "nor_this")).get
    assert(msg.startsWith("unknown query: no_such_query, nor_this; valid queries: "), msg)
    assert(SparkEntry.queries.keys.forall(msg.contains), msg)
  }

  test("noop transform is identity (OneToOneNoopTransformer)") {
    val out = AttrsTransform.noop(df)
    assert(out.schema === df.schema)
    assert(out.collect().toSeq === df.collect().toSeq)
  }

  test("chain composes transforms left-to-right") {
    val t = api.chain(
      d => d.withColumn("v", col("v") + 1),
      d => d.withColumn("v", col("v") * 2))
    // (v + 1) * 2 — order matters
    assert(t(df).select(sum("v")).head.getLong(0) === (11 + 21 + 6) * 2)
  }

  test("foldGroup and countPerGroup are the ReduceItemTransformer forms") {
    val counts = FoldGroup.countPerGroup(Seq("k"), "n")(df)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("x" -> 2L, "y" -> 1L))
    val sums = FoldGroup.foldGroup(Seq("k"), Seq(sum("v").as("s")))(df)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums === Map("x" -> 30L, "y" -> 5L))
  }

  test("tokenizer per-token pipeline: remove_chars, mapper chain, ignore predicate") {
    import spark.implicits._
    val docs = Seq((1L, "Foo, bar! foo-baz skip")).toDF("doc", "text")
    val out = Tokenize.splitTokens(
      inputCol = "text",
      removeChars = ",!",                       // strip literal chars per token
      mappers = Seq(c => lower(c), c => regexp_replace(c, "-", "_")),
      keep = c => c =!= "skip")(docs)           // custom ignore_word_fn
      .select("pos", "word").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out === Set((0, "foo"), (1, "bar"), (2, "foo_baz")))
  }

  test("projection drops rows with null REQUIRED fields, keeps optional nulls") {
    import spark.implicits._
    val src = Seq(
      (1L, Some("a"), Some("x")),
      (2L, None, Some("y")),       // required null → dropped
      (3L, Some("c"), None))       // optional null → kept
      .toDF("id", "req", "opt")
    val out = Projection(src, Seq(
      ("id", col("id"), true),
      ("r", col("req"), true),
      ("o", col("opt"), false)))
    assert(out.select("id").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("csv sink appends across writes (reference buffered-append contract)") {
    val out = Files.createTempDirectory("graft_csv").toString + "/data"
    CsvSink(out).write(df)
    CsvSink(out).write(df)
    val back = spark.read.option("delimiter", ";").csv(out)
    assert(back.count() === df.count() * 2)
  }

  test("console sink smoke (NoopLoader)") {
    ConsoleSink(numRows = 2).write(df) // must not throw
  }

  test("bucketed tables join with NO exchange on either side") {
    import spark.implicits._
    val left = (1L to 200L).map(i => (i, s"l$i")).toDF("id", "lv")
    val right = (1L to 200L).map(i => (i, i * 2)).toDF("id", "rv")
    graft.sinks.BucketedTableSink("t_left", Seq("id"), 4, Seq("id")).write(left)
    graft.sinks.BucketedTableSink("t_right", Seq("id"), 4, Seq("id")).write(right)

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("t_left").join(spark.table("t_right"), "id")
      assert(j.count() === 200L)
      val plan = j.queryExecution.executedPlan.toString
      // co-located bucketed join: no shuffle, no broadcast, anywhere
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
      assert(!plan.contains("BroadcastExchange"), plan.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
}
