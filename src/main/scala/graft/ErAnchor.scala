package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entity resolution measured on a REAL-VOCABULARY roster at ~1M
  * records — the r16 verdict ask. The ER family's measured evidence was
  * fixtures + synthetic soak; this main gives the depth-2 SymSpell
  * blocking the same real-data treatment NEARDUP4G gave MinHash:
  * the roster's name parts are the reference books' own vocabulary
  * (`/root/reference/example/sample_data/books` — real French/English
  * word lengths and characters, not synthetic tokens), twins are
  * planted at KNOWN edit distances, and the record reports the numbers
  * the family's scaladocs claim:
  *
  *  - **key volume**: exploded depth-2 keys per record vs the
  *    documented ~1 + L + C(L,2) ≈ L²/2 model at the roster's measured
  *    mean name length (the blocking cost claim, now a measured pair);
  *  - **candidate mass + confirm wall**: distinct candidate pairs out
  *    of the sort-merge key join, and the end-to-end
  *    [[graft.operators.Er.fuzzyPairs]] wall at maxEdit = 2;
  *  - **planted-twin recall**: every 50th record gets a twin at exact
  *    edit distance 1 (one q/x substitution at an id-derived position)
  *    and every 67th a twin at exact distance 2 (two disjoint
  *    substitutions) — the depth-2 deletion neighborhoods of a pair at
  *    lev ≤ 2 MUST intersect (the pigeonhole contract), so recall has
  *    to come back 1000‰; anything less is a blocking bug, not noise.
  *
  * Roster construction is fully distributed and deterministic: the
  * vocabulary (alpha-only word_norms, length 4–10, sorted) gets dense
  * ids via a window-free zip (sorted parquet round-trip is unnecessary
  * — a row_number over an ORDER BY word at 60k rows is report-sized);
  * record i's name = word(i mod V) ++ " " ++ word((31·i + 7) mod V),
  * which repeats a (first, second) combination only past V·V/gcd
  * records (V ≈ tens of thousands ⇒ no duplicate names at 1M). Twin
  * ids are negative (−2·id−1 / −2·id−2 — the battery's disjoint-parity
  * convention). The roster never collects to the driver; the
  * vocabulary joins in by id (broadcast — it is dictionary-sized).
  */
object ErAnchor {

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_ER_ROSTER", "1000000").toLong
    val cpus = graft.core.Session.cpus
    val spark = graft.core.Session.builder(cpus).getOrCreate()
    import graft.operators.Er

    // ---- real vocabulary, dense-indexed --------------------------------
    val words = graft.sources.WholeTextSource(
        Seq(LangIdAnchor.BooksDir)).load(spark)
      .select(explode(split(col("content"), "\\s+")).as("w"))
      .select(graft.functions.Scalars.wordNorm(col("w")).as("w"))
      .where(col("w").rlike("^[a-z]{4,10}$"))
      .distinct()
    val vocab = words.orderBy(col("w"))
      .select(col("w"), (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("w"))) - 1)
        .cast("long").as("wid"))
      .localCheckpoint()
    val v = vocab.count()
    require(v > 1000, s"vocabulary too small: $v")

    // ---- roster: n records, names from the vocabulary ------------------
    def wordAs(as: String): DataFrame =
      vocab.select(col("wid"), col("w").as(as))
    val base = spark.range(n).toDF("rid")
      .withColumn("i1", pmod(col("rid"), lit(v)))
      .withColumn("i2", pmod(col("rid") * 31 + 7, lit(v)))
      .join(broadcast(wordAs("w1")), col("i1") === col("wid")).drop("wid")
      .join(broadcast(wordAs("w2")), col("i2") === col("wid")).drop("wid")
      .select(col("rid").as("id"),
        concat(col("w1"), lit(" "), col("w2")).as("name"))

    // one q/x substitution at an id-derived position: exact lev 1
    def sub(nameCol: org.apache.spark.sql.Column, pos: org.apache.spark.sql.Column) = {
      val orig = nameCol.substr(pos, lit(1))
      val rep = when(orig === lit("q"), lit("x")).otherwise(lit("q"))
      concat(nameCol.substr(lit(1), pos - 1), rep,
        nameCol.substr(pos + 1, length(nameCol)))
    }
    val len = length(col("name")).cast("long")
    val p1 = (pmod(col("id"), len) + 1).cast("int")
    // second position: offset by half the length from p1 (mod len),
    // guaranteed ≠ p1 for len ≥ 2 ⇒ exactly two substituted chars
    val p2 = (pmod(col("id") + call_function("div", len, lit(2L)), len) + 1)
      .cast("int")
    val twins1 = base.where(col("id") % 50 === 0)
      .select((-col("id") * 2 - 1).as("id"), sub(col("name"), p1).as("name"))
    val twins2 = base.where(col("id") % 67 === 0)
      .select((-col("id") * 2 - 2).as("id"),
        sub(sub(col("name"), p1), p2).as("name"))
    val roster = base.unionByName(twins1).unionByName(twins2)
      .repartition(col("id")).localCheckpoint()
    val nRoster = roster.count()

    // ---- key volume: the ~L²/2 blocking-cost claim, measured -----------
    val kt0 = System.nanoTime()
    val keyAgg = Er.keyTable(roster, "id", "name", maxEdit = 2)
      .agg(count(lit(1)).as("keys"),
        count_distinct(col("key")).as("distinct_keys")).head()
    val (nKeys, nDistinctKeys) = (keyAgg.getLong(0), keyAgg.getLong(1))
    val keySec = (System.nanoTime() - kt0) / 1e9
    val lenAgg = roster.agg(
      avg(length(col("name"))).as("meanL")).head()
    val meanL = lenAgg.getDouble(0)
    // the documented model at the measured mean length
    val modelKeys = 1.0 + meanL + meanL * (meanL - 1) / 2
    val keysPerRecord = nKeys.toDouble / nRoster

    // ---- fuzzyPairs end to end at maxEdit = 2 ---------------------------
    val t0 = System.nanoTime()
    val links = Er.fuzzyPairs(roster, "id", "name", maxEdit = 2)
      .localCheckpoint()
    val nLinks = links.count()
    val linkSec = (System.nanoTime() - t0) / 1e9
    val nCand = Er.candidatePairs(roster, "id", "name", maxEdit = 2)
      .count()

    // ---- planted-twin recall (the pigeonhole contract) ------------------
    def truthFor(mod: Int, parity: Int, dist: Int): DataFrame =
      base.where(col("id") % mod === 0)
        .select(col("id").as("origin"),
          (-col("id") * 2 - parity).as("twin"), lit(dist).as("want"))
    val truth = truthFor(50, 1, 1).unionByName(truthFor(67, 2, 2))
      .localCheckpoint()
    val nTruth = truth.count()
    // links emit (id_a < id_b); twins are negative so twin < origin.
    // dist must equal the PLANTED distance exactly — the recall check
    // doubles as a confirm-correctness check.
    val hits = truth.join(links,
        truth("twin") === links("id_a") && truth("origin") === links("id_b") &&
          links("dist") === truth("want"))
      .count()
    val recallMilli = if (nTruth > 0) hits * 1000 / nTruth else 0L
    System.err.println(f"[er1m] $nRoster roster, $nKeys keys " +
      f"(${keysPerRecord}%.1f/record vs model $modelKeys%.1f), " +
      f"$nCand candidates, $nLinks links in ${linkSec}%.1f s, " +
      f"recall $hits/$nTruth")

    // ---- record ---------------------------------------------------------
    val full =
      f"""{"metric":"er1m","roster":$nRoster,"vocab":$v,"mean_name_len":$meanL%.2f,"keys":$nKeys,"distinct_keys":$nDistinctKeys,"keys_per_record":$keysPerRecord%.2f,"model_keys_per_record":$modelKeys%.2f,"key_count_sec":$keySec%.2f,"candidates":$nCand,"links":$nLinks,"fuzzy_pairs_sec":$linkSec%.2f,"twins":$nTruth,"twin_hits":$hits,"recall_milli":$recallMilli,"cpus":$cpus}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("ER1M.json"), full)
    catch { case _: Throwable => () }
    println(full)
    spark.stop()
  }
}
