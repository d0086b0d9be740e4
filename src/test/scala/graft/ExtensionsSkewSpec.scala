package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TableFunctionRegistry}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

import graft.operators.Skew

/** Tests for the session-extension hook and the skew-salting utility. */
class ExtensionsSkewSpec extends SparkSpecBase {

  test("GraftExtensions makes dot_product_long a SQL function") {
    val d = spark.sql(
      "SELECT dot_product_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
    assert(d.head.getLong(0) === 32L)
    // and it participates in real query shapes
    val viaTable = spark.sql(
      """SELECT id, dot_product_long(v, v) AS nsq FROM
        |  (SELECT 1L AS id, array(3L, 4L) AS v)""".stripMargin)
    assert(viaTable.head.getLong(1) === 25L)
    // second registered function: the shingle builder
    val sh = spark.sql(
      "SELECT distinct_shingles(array('a', 'b', 'c', 'b', 'c'), 2) AS s")
    assert(sh.head.getSeq[String](0) === Seq("a b", "b c", "c b"))
    // n is any FOLDABLE integral expression, not just a bare int
    // literal: casts, arithmetic, and wider integer types all fold
    for (nExpr <- Seq("CAST(2 AS INT)", "1 + 1", "CAST(2 AS BIGINT)", "CAST(2 AS SMALLINT)")) {
      val viaFold = spark.sql(
        s"SELECT distinct_shingles(array('a', 'b', 'c'), $nExpr) AS s")
      assert(viaFold.head.getSeq[String](0) === Seq("a b", "b c"), nExpr)
    }
    // bad shapes fail ANALYSIS (position-carrying AnalysisException),
    // not as a raw runtime error
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT distinct_shingles(array('a'), 'two')").collect()
    }
    assert(e.getMessage.contains("foldable integer"), e.getMessage)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT distinct_shingles(array('a'), 0)").collect()
    }
    // composed-from-built-ins registrations: determinism primitives
    // share their single Scala definition with the SQL surface
    val ho = spark.sql("SELECT hash_order(123) AS h")
    assert(ho.head.getLong(0) ===
      ((123L % 2147483647L) * graft.operators.Curation.HashMul) % 4294967296L)
    val zv = spark.sql("SELECT z_value(3, 5, 3) AS z")
    assert(zv.head.getLong(0) === 27L) // dimension-major interleave
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT z_value(x, 1) FROM (SELECT 1 AS x)").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT hash_order(1, 2)").collect()
    }
    // isqrt: exact roots incl. the int64 edge (no ANSI overflow)
    val iq = spark.sql(
      """SELECT isqrt(0), isqrt(24), isqrt(25), isqrt(26),
        |       isqrt(9223372036854775807)""".stripMargin).head
    assert((iq.getLong(0), iq.getLong(1), iq.getLong(2), iq.getLong(3),
      iq.getLong(4)) === ((0L, 4L, 5L, 5L, 3037000499L)))
    // matches the Column-API operator on a value table
    val vals = "SELECT explode(array(0L, 1L, 8L, 9L, 1000000L)) AS n"
    val viaCol = spark.sql(vals)
      .select(graft.operators.Curation.isqrt(
        org.apache.spark.sql.functions.col("n")).as("s"))
      .collect().map(_.getLong(0)).toSeq
    val viaSql = spark.sql(s"SELECT isqrt(n) FROM ($vals)")
      .collect().map(_.getLong(0)).toSeq
    assert(viaCol === viaSql)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT isqrt(1, 2)").collect()
    }
    // unicode_normalize: composition, decomposition, compatibility
    // (escapes: \u00e1 = precomposed a-acute, \u0301 = combining acute,
    // \ufb01 = the fi ligature)
    val un = spark.sql(
      "SELECT unicode_normalize('a\u0301b', 'NFC') AS c, " +
        "unicode_normalize('\u00e1b', 'nfd') AS d, " +
        "unicode_normalize('\ufb01le', 'NFKC') AS k").head
    assert(un.getString(0) === "\u00e1b")
    assert(un.getString(1) === "a\u0301b")
    assert(un.getString(2) === "file")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT unicode_normalize('x', 'NFX')").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT unicode_normalize('x', form) FROM (SELECT 'NFC' AS form)")
        .collect()
    }
  }

  test("no GraftExtensions function shadows a Spark builtin") {
    // every session carries the extensions, so a name that is already a
    // builtin would silently change what existing SQL computes
    val names = scala.collection.mutable.Buffer.empty[String]
    new GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(
          f: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit =
        names += f._1.funcName
      override def injectTableFunction(
          f: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)): Unit =
        names += f._1.funcName
    })
    assert(names.nonEmpty)
    assert(names.distinct.size === names.size, names.mkString(", "))
    val builtin = names.filter { n =>
      FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)) ||
        TableFunctionRegistry.builtin.functionExists(FunctionIdentifier(n))
    }
    assert(builtin.isEmpty, s"shadows a builtin: ${builtin.mkString(", ")}")
  }

  test("saltedJoin equals the plain join on a skewed corpus") {
    import spark.implicits._
    // 10k rows, 90 % on key 1 — the classic hot-key shape
    val left = (0 until 10000)
      .map(i => (if (i % 10 == 0) (i % 7).toLong + 2L else 1L, i.toLong))
      .toDF("k", "lv")
    val right = (1 to 8).map(k => (k.toLong, s"attr_$k")).toDF("k", "rv")

    def checksum(df: org.apache.spark.sql.DataFrame) = df
      .agg(count(lit(1)),
        sum(pmod(xxhash64(col("k"), col("lv"), col("rv")), lit(1000000007L))))
      .head
    val plain = checksum(left.join(right, Seq("k"), "inner"))
    val salted = checksum(Skew.saltedJoin(left, right, Seq("k"), saltN = 8))
    assert(salted === plain)

    // the join key really is (k, salt): the hot key spreads over
    // multiple shuffle partitions instead of one
    val p = Skew.saltedJoin(left, right, Seq("k"), saltN = 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("__salt"), p.take(2000))
  }

  test("saltedJoin spreads the hot key across shuffle partitions (AQE off)") {
    import spark.implicits._
    val conf = spark.conf
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    val oldBc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    // AQE off (the scenario saltedJoin exists for) and no broadcast —
    // a broadcast join would not shuffle the probe side at all
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // 20k rows, 90 % on key 1 — the hot-key shape; lv disambiguates
      // rows so the full-row salt actually spreads them
      val left = (0 until 20000)
        .map(i => (if (i % 10 == 0) (i % 7).toLong + 2L else 1L, i.toLong))
        .toDF("k", "lv")
      val right = (1 to 8).map(k => (k.toLong, s"attr_$k")).toDF("k", "rv")
      def maxShare(df: org.apache.spark.sql.DataFrame): Double = {
        val sizes = df.queryExecution.toRdd
          .mapPartitions(it => Iterator(it.size)).collect()
        sizes.max.toDouble / sizes.sum
      }
      val plain = maxShare(left.join(right, Seq("k"), "inner"))
      val salted = maxShare(Skew.saltedJoin(left, right, Seq("k"), saltN = 16))
      assert(plain > 0.85,
        s"premise broken: hot key no longer lands in one task (max share $plain)")
      assert(salted < 0.55,
        s"salting failed to spread the hot key (max share $salted)")
    } finally {
      conf.set("spark.sql.adaptive.enabled", oldAqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
    }
  }

  test("saltedJoin left_outer keeps unmatched probe rows exactly once") {
    import spark.implicits._
    val left = Seq((1L, "a"), (99L, "nomatch")).toDF("k", "lv")
    val right = Seq((1L, "r1")).toDF("k", "rv")
    val got = Skew.saltedJoin(left, right, Seq("k"), saltN = 4, joinType = "left_outer")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(got === Set((1L, "a", Some("r1")), (99L, "nomatch", None)))
  }

  test("saltedJoin rejects join types that replication would corrupt") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(df, df, Seq("k"), 4, joinType = "right_outer")
    }
  }
}
