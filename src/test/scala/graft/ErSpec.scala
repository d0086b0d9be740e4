package graft

import org.apache.spark.sql.functions._

import graft.operators.Er

/** Blocked entity resolution (operators/Er.scala): the SymSpell
  * completeness guarantee, the Levenshtein-vs-Damerau boundary, the
  * hot-key dial, the A–B linkage shape, and best-match tie-breaking. */
class ErSpec extends SparkSpecBase {
  import spark.implicits._

  private def bruteLev(a: String, b: String): Int = {
    val (n, m) = (a.length, b.length)
    val d = Array.tabulate(n + 1, m + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to n; j <- 1 to m)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(n)(m)
  }

  // a small roster with planted sub/ins/del/transpose/far variants
  private val roster = Seq(
    1L -> "alpha", 2L -> "alpho", // substitution (lev 1)
    3L -> "alphax", // insertion vs 1 (lev 1)
    4L -> "alph", // deletion vs 1 (lev 1)
    5L -> "aplha", // adjacent transposition vs 1 (classic lev 2)
    6L -> "omega", // far from everything
    7L -> "a", 8L -> "", // short/empty edges
    9L -> "b" // lev 1 from "a" and "" via sub/ins
  )

  test("fuzzyPairs == brute-force lev<=1 over all pairs (SymSpell completeness)") {
    val df = roster.toDF("id", "name")
    val got = Er.fuzzyPairs(df, "id", "name", maxEdit = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (ia, na) <- roster; (ib, nb) <- roster if ia < ib
      d = bruteLev(na, nb) if d <= 1
    } yield (ia, ib, d)).toSet
    assert(got === want)
    // the planted relations actually exercised every edit kind
    assert(want.contains((1L, 2L, 1)) && want.contains((1L, 3L, 1)) &&
      want.contains((1L, 4L, 1)) && want.contains((7L, 8L, 1)))
  }

  test("adjacent transposition: candidate surfaced, confirm rejects at maxEdit=1") {
    val df = roster.toDF("id", "name")
    val cand = Er.candidatePairs(df, "id", "name")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 5L)), "transposed pair must share a deletion key")
    val confirmed = Er.fuzzyPairs(df, "id", "name", maxEdit = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!confirmed.contains((1L, 5L)), "classic Levenshtein scores it 2")
  }

  test("maxKeyFreq drops hot keys before the join") {
    // 100 identical names: every key is carried by all 100 records —
    // uncapped that's 4950 pairs; capped at 10 the join input is empty
    val df = (1L to 100L).map(i => (i, "same-name")).toDF("id", "name")
    assert(Er.fuzzyPairs(df, "id", "name").count() === 4950L)
    assert(Er.candidatePairs(df, "id", "name", maxKeyFreq = Some(10L)).count() === 0L)
    // and a cold pair in the same frame still matches under the cap
    val mixed = df.union(Seq(200L -> "rare", 201L -> "rarf").toDF("id", "name"))
    val capped = Er.fuzzyPairs(mixed, "id", "name", maxKeyFreq = Some(10L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((200L, 201L)))
  }

  test("fuzzyJoinBetween links a dirty feed to the roster; bestMatch tie-breaks") {
    val clean = Seq(10L -> "node-1", 11L -> "node-2", 12L -> "node-9").toDF("id", "name")
    val dirty = Seq(100L -> "node-q", 101L -> "zzzzz").toDF("id", "name")
    val links = Er.fuzzyJoinBetween(dirty, "id", "name", clean, "id", "name")
    val got = links.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // node-q is one substitution from every roster member; zzzzz matches none
    assert(got === Set((100L, 10L, 1), (100L, 11L, 1), (100L, 12L, 1)))
    val best = Er.bestMatch(links).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(best === Set((100L, 10L, 1)), "dist tie -> smallest right_id")
  }

  test("null names are dropped, not matched") {
    val df = Seq((1L, "abc"), (2L, null), (3L, "abd")).toDF("id", "name")
    val got = Er.fuzzyPairs(df, "id", "name")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 3L)))
  }

  test("resolveEntities clusters confirmed pairs with canonical survivorship") {
    val df = Seq(1L -> "aaa", 2L -> "aab", 3L -> "abb", 9L -> "zzz").toDF("id", "name")
    // chain 1-2-3 (lev 1 links), 9 isolated (no pairs -> absent)
    val ents = Er.resolveEntities(Er.fuzzyPairs(df, "id", "name"))
    val rows = ents.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(rows === Set(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false)))
  }

  test("property: blocking+confirm == brute force on a random small-alphabet corpus") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // 2-letter alphabet, lengths 0-6: dense edit-neighborhoods, heavy
    // key collisions, lots of duplicate names — the adversarial regime
    // for a blocking scheme (a miss here is a pigeonhole bug, not bad
    // luck; seed fixed so the case is replayable)
    val gen = Gen.listOfN(120, for {
      n <- Gen.chooseNum(0, 6)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b'))
    } yield cs.mkString)
    val names = gen(Gen.Parameters.default, Seed(4242L)).get
    val recs = names.zipWithIndex.map { case (nm, i) => (i.toLong, nm) }
    val got = Er.fuzzyPairs(recs.toDF("id", "name"), "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (ia, na) <- recs; (ib, nb) <- recs if ia < ib
      d = bruteLev(na, nb) if d <= 1
    } yield (ia, ib, d)).toSet
    assert(got === want)
    assert(want.size > 500, s"regime check: dense corpus expected, got ${want.size}")
  }

  test("property: depth-2 blocking+confirm == brute force lev<=2 (incl. transpositions)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOfN(90, for {
      n <- Gen.chooseNum(0, 6)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b'))
    } yield cs.mkString)
    val names = gen(Gen.Parameters.default, Seed(777L)).get
    val recs = names.zipWithIndex.map { case (nm, i) => (i.toLong, nm) }
    val got = Er.fuzzyPairs(recs.toDF("id", "name"), "id", "name", maxEdit = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (ia, na) <- recs; (ib, nb) <- recs if ia < ib
      d = bruteLev(na, nb) if d <= 2
    } yield (ia, ib, d)).toSet
    assert(got === want)
    // the planted roster's adjacent transposition is now CONFIRMED
    val roster2 = Er.fuzzyPairs(roster.toDF("id", "name"), "id", "name", maxEdit = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(roster2.contains((1L, 5L, 2)), "alpha/aplha at lev 2 under maxEdit=2")
    intercept[IllegalArgumentException] {
      Er.fuzzyPairs(roster.toDF("id", "name"), "id", "name", maxEdit = 3)
    }
  }

  test("confirm-before-distinct == distinct-before-confirm (the slim candidate stage)") {
    // fuzzyPairs now confirms on the RAW (pre-distinct) candidate rows
    // and distincts the narrow (id_a, id_b, dist) triple; the reference
    // ordering de-duplicates the wide candidate frame first. The confirm
    // is a deterministic function of the name pair, so both orders must
    // produce the identical set — pinned on the dense 2-letter corpus
    // where pairs share MANY blocking keys (heavy pre-distinct
    // duplication, the regime where the orderings could diverge).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOfN(120, for {
      n <- Gen.chooseNum(0, 6)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b'))
    } yield cs.mkString)
    val names = gen(Gen.Parameters.default, Seed(4242L)).get
    val df = names.zipWithIndex.map { case (nm, i) => (i.toLong, nm) }
      .toDF("id", "name")
    for (maxEdit <- Seq(1, 2)) {
      val slim = Er.fuzzyPairs(df, "id", "name", maxEdit = maxEdit)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val wide = Er.candidatePairs(df, "id", "name", maxEdit = maxEdit)
        .withColumn("dist", levenshtein(col("__na"), col("__nb"), maxEdit))
        .where(col("dist") >= 0)
        .select(col("id_a"), col("id_b"), col("dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(slim === wide, s"orderings diverged at maxEdit=$maxEdit")
    }
  }

  test("plan shape: the pair distinct shuffles only (ids, dist) — names never ride it") {
    // the r12 slim's core property, pinned against regression: the
    // distinct's hash aggregation keys are the three NARROW columns;
    // the wide name columns (__na/__nb, __nl/__nr) are confirmed away
    // BEFORE the shuffle. A revert to distinct-before-confirm shows up
    // as name columns in some HashAggregate's keys.
    val df = roster.toDF("id", "name")
    for (plan <- Seq(
        Er.fuzzyPairs(df, "id", "name", maxEdit = 2)
          .queryExecution.executedPlan.toString,
        Er.fuzzyJoinBetween(df, "id", "name", df, "id", "name", maxEdit = 2)
          .queryExecution.executedPlan.toString)) {
      val aggKeyLines = plan.linesIterator
        .filter(l => l.contains("HashAggregate(keys=[") ||
          l.contains("SortAggregate(key=["))
        .toSeq
      assert(aggKeyLines.nonEmpty, "expected a distinct aggregation in the plan")
      val wide = aggKeyLines.filter(l => l.contains("__n"))
      assert(wide.isEmpty,
        s"name columns ride the distinct shuffle again:\n${wide.mkString("\n")}")
    }
  }

  test("deletion keys: distinct, include the name itself, empty-safe") {
    val keys = spark.range(1).select(
      Er.deletionKeys(lit("aab")).as("k"),
      Er.deletionKeys(lit("")).as("e")).head()
    assert(keys.getSeq[String](0).toSet === Set("aab", "ab", "aa"))
    assert(keys.getSeq[String](1) === Seq(""))
  }

  test("depth-2 keys: all <=2-deletion variants, short-string-safe") {
    val keys = spark.range(1).select(
      Er.deletionKeys2(lit("abc")).as("k"),
      Er.deletionKeys2(lit("a")).as("one"),
      Er.deletionKeys2(lit("")).as("zero")).head()
    assert(keys.getSeq[String](0).toSet ===
      Set("abc", "bc", "ac", "ab", "c", "b", "a"))
    assert(keys.getSeq[String](1).toSet === Set("a", ""))
    assert(keys.getSeq[String](2) === Seq(""))
  }
}
