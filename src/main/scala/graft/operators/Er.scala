package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked entity resolution — fuzzy record matching under an edit-
  * distance bound, the dirty-roster generalization of the reference's
  * exact keyed dedup (UniqueFilterTransformer,
  * tiny_etl/transformers/aggregators.py:71-132, whose normalizer-chain
  * key IS edit distance 0 matching after lower∘strip).
  *
  * Blocking is the SymSpell deletion-neighborhood: each record emits
  * its name plus every single-character deletion of it, and candidates
  * are the equijoin on those keys. Pigeonhole guarantee: if
  * lev(a, b) ≤ 1 the two deletion neighborhoods intersect — a
  * substitution at position i means deleting i from both sides yields
  * the same string; an insertion means the inserted char's deletion
  * recovers the shorter string, which is its own 0-deletion member.
  * (Damerau transpositions of ADJACENT chars also share a key — both
  * orders delete to the same string — so they surface as candidates,
  * but classic Levenshtein scores them 2 and the confirm drops them at
  * maxEdit = 1; ErSpec pins both halves.) So the candidate stage is
  * COMPLETE for the maxEdit = 1 contract, and every emitted pair is
  * confirmed with Spark's banded `levenshtein(l, r, threshold)` — the
  * O(maxEdit·len) early-exit DP, codegen'd, no UDF.
  *
  * 100 TB shape: keys per record = len+1 (bounded by name length), so
  * the exploded key table is O(n·L) and candidates are per-key-bucket
  * joins — the same banded-candidate discipline as the MinHash/SimHash
  * families (operators/NearDup.scala). Natural-key corpora (names, ids,
  * URLs) have small buckets; a degenerate corpus (many identical or
  * near-identical names) concentrates mass on few keys, and the
  * `maxKeyFreq` dial drops keys hotter than the cap BEFORE the join —
  * identical strings still pair through their un-deleted full-name key
  * only if that key survives the cap, making the trade-off explicit
  * (the hot-shingle cap of NearDup.shinglesWithDfCap, same rationale).
  */
object Er {

  /** MEASURED NEGATIVE RESULT — key-domain bloom pruning (r14): the
    * obvious next lever for the candidate sort ("semi-join/bloom-prune
    * each side's keys against the other side's key domain so
    * partnerless keys never enter the sort") was implemented with
    * Spark's native `BloomFilterAggregate` + `BloomFilterMightContain`
    * (8 MB single-probe filter as a scalar subquery, probed at the key
    * scan) and REGRESSED at every scale: er_link_dirty2 8.4 → 14.6 s
    * at sf0.1, 27.9 → 75.7 s at the 100× soak; er_fuzzy_pairs (freq≥2
    * self-join variant) 1.8 → 3.2 s / 2.9 → 6.8 s. The cost structure
    * is unfixable, not a tuning miss: the filter build must pass over
    * the SAME ~26M-row key volume the sort would (one extra explode
    * pass per side), every map partition emits a full filter-sized
    * partial into a single-reducer merge (≥ 32 × 8 MB per filter), and
    * a filter small enough to make partials cheap saturates (k=1 fpp
    * 1−e^(−n/m) ≈ 95 % at 26M keys in 1 MB) exactly at the scale where
    * pruning would matter. The narrow (key, id) sort-merge join is
    * already the cheapest discoverer of partnerless keys at this row
    * width; don't re-attempt a same-volume pre-pass. */

  /** The SymSpell blocking keys of a name: the name itself plus every
    * single-character deletion, de-duplicated (a run of equal chars
    * yields equal deletions). Null-safe at the caller (rows with null
    * names are dropped before keying); empty string yields just itself.
    */
  def deletionKeys(name: Column): Column = {
    val dels = transform(sequence(lit(1), length(name)), i =>
      concat(name.substr(lit(1), i - 1), name.substr(i + 1, length(name))))
    array_distinct(concat(array(name),
      when(length(name) >= 1, dels).otherwise(array())))
  }

  /** Depth-2 deletion neighborhood: [[deletionKeys]] plus every
    * two-character deletion (positions i < j removed), de-duplicated —
    * the blocking for the maxEdit = 2 contract. Key volume is
    * 1 + L + C(L,2) ≈ L²/2 per record (the price of the wider
    * guarantee; state it when turning the dial). All nested HOFs —
    * sequence/transform/flatten — stay whole-stage-codegen. */
  def deletionKeys2(name: Column): Column = {
    val del2 = flatten(transform(sequence(lit(1), length(name) - 1), i =>
      transform(sequence(i + 1, length(name)), j =>
        concat(name.substr(lit(1), i - 1),
          name.substr(i + 1, j - i - 1),
          name.substr(j + 1, length(name))))))
    array_distinct(concat(deletionKeys(name),
      when(length(name) >= 2, del2).otherwise(array())))
  }

  /** [[deletionKeys]] for maxEdit ≤ 1, [[deletionKeys2]] for 2. */
  private[graft] def keysFor(name: Column, maxEdit: Int): Column =
    if (maxEdit <= 1) deletionKeys(name) else deletionKeys2(name)

  /** (key, id, name) — one row per blocking key per record, with the
    * optional hot-key cap applied: keys carried by more than
    * `maxKeyFreq` records are dropped entirely (both sides of any pair
    * they would have generated, so the output contract stays symmetric).
    */
  private def keyed(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      maxKeyFreq: Option[Long],
      maxEdit: Int): DataFrame = {
    // Spread the roster BEFORE the key explode: the explode fans out
    // ~(L+1)× (depth 1) to ~L²/2× (depth 2) rows per input row, so the
    // map stage's cost tracks the OUTPUT volume while its input split
    // count tracks the tiny roster bytes — a one-file roster otherwise
    // runs the whole L²/2 explode + key materialization on ONE task
    // (measured at sf0.1: two 3.7 s single-task stages fed the
    // er_link_dirty2 key join while 31 cores idled). One narrow
    // (id, name) shuffle of n roster rows buys explode parallelism at
    // any scale; the partition count is pinned to the session's
    // shuffle.partitions (scale-adaptive via conf) because AQE's
    // byte-based coalescing would re-serialize exactly the CPU-dense
    // stage this exchange exists to spread.
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val k = df
      .where(col(nameCol).isNotNull)
      .select(col(idCol).as("__id"), col(nameCol).as("__name"))
      .repartition(parts, col(idCol))
      .select(col("__id"), col("__name"),
        explode(keysFor(col("__name"), maxEdit)).as("__key"))
    maxKeyFreq match {
      case None => k
      case Some(cap) =>
        require(cap >= 1, s"maxKeyFreq must be >= 1, got $cap")
        val hot = k.groupBy(col("__key"))
          .agg(count(lit(1)).as("__kf"))
          .where(col("__kf") > cap)
          .select(col("__key"))
        k.join(hot, Seq("__key"), "left_anti")
    }
  }

  /** The RAW (pre-distinct) candidate join — one row per shared
    * blocking key per ordered pair, NARROW: ids only, names joined
    * back later from the n-row roster. THE one construction behind
    * both [[candidatePairs]] (the soak-measured frame) and
    * [[fuzzyPairs]] (the production path), so a join-shape fix can
    * never reach one and not the other.
    *
    * Why narrow: this join's sort is the engine's single largest
    * shuffle at depth 2 — ~L²/2 key rows per record on BOTH sides.
    * r12 carried the two ~L-char name strings through it (for an
    * immediate confirm); at the 100× soak that sort was the wall-clock
    * tail (52.6 s). Dropping names here cuts the sorted bytes per row
    * from ~(key + id + name) to ~(key + id) — the names rejoin on the
    * DISTINCT pair frame, which is orders of magnitude smaller than
    * the raw key join (multi-key duplicates collapsed by a 2-long
    * map-side-partial aggregate).
    *
    * Sort-merge, never auto-broadcast: the key table is an inline
    * explode, and Spark's size estimate of an explode is its CHILD's
    * size — ~(L+1)× (depth 1) to ~L²/2× (depth 2) too low here. At
    * the 10× soak the depth-2 estimate made the planner broadcast a
    * 26M-row frame it thought was megabytes and die; a shuffle_hash
    * hint then moved the same death into the per-partition hash
    * build. Sort-merge is the one fully-spillable shape — the sort is
    * the price of surviving arbitrary key-table sizes. */
  private def rawCandidates(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      maxKeyFreq: Option[Long],
      maxEdit: Int): DataFrame = {
    val k = keyed(df, idCol, nameCol, maxKeyFreq, maxEdit)
      .select(col("__key"), col("__id"))
    val a = k.select(col("__key"), col("__id").as("id_a"))
    val b = k.select(col("__key"), col("__id").as("id_b"))
    a.join(b.hint("merge"), Seq("__key"))
      .where(col("id_a") < col("id_b"))
  }

  /** The roster's (id, name) side for the name join-back — same
    * null-name filter as [[keyed]], so join-back rows are exactly the
    * records that were keyed. n rows (one per input record): cheap to
    * join — and often broadcast — next to the key-join frames. */
  private def nameSide(
      df: DataFrame, idCol: String, nameCol: String,
      idAs: String, nameAs: String): DataFrame =
    df.where(col(nameCol).isNotNull)
      .select(col(idCol).as(idAs), col(nameCol).as(nameAs))

  /** Distinct candidate pairs (id_a < id_b) sharing at least one
    * blocking key, names joined back for inspection — the pre-confirm
    * frame, exposed separately so the soak gate and tests can measure
    * it. The distinct runs on the NARROW (id_a, id_b) pair before
    * names attach (see [[rawCandidates]]). */
  def candidatePairs(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      maxKeyFreq: Option[Long] = None,
      maxEdit: Int = 1): DataFrame =
    rawCandidates(df, idCol, nameCol, maxKeyFreq, maxEdit)
      .select(col("id_a"), col("id_b"))
      .distinct()
      .join(nameSide(df, idCol, nameCol, "id_a", "__na"), Seq("id_a"))
      .join(nameSide(df, idCol, nameCol, "id_b", "__nb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("__na"), col("__nb"))

  /** Join names onto the distinct narrow pair frame, confirm with the
    * banded early-exit `levenshtein(l, r, threshold)` (O(maxEdit·len),
    * codegen'd, no UDF), and emit the (idA, idB, dist) triple. The
    * trailing distinct only matters when the roster carries duplicate
    * ids (several name variants per id can confirm at the same dist);
    * for unique-id rosters it de-duplicates an already-unique confirmed
    * frame — a shuffle of output-sized narrow rows. */
  private def confirmJoinedBack(
      pairs: DataFrame,
      sideA: DataFrame, sideB: DataFrame,
      idA: String, idB: String,
      nameA: String, nameB: String,
      maxEdit: Int): DataFrame =
    pairs
      .join(sideA, Seq(idA))
      .join(sideB, Seq(idB))
      .withColumn("dist", levenshtein(col(nameA), col(nameB), maxEdit))
      .where(col("dist") >= 0)
      .select(col(idA), col(idB), col("dist"))
      .distinct()

  /** Confirmed fuzzy self-match: all pairs (id_a < id_b) with
    * lev(name_a, name_b) ≤ maxEdit. Complete by the SymSpell theorem:
    * lev(a, b) ≤ k ⇒ the depth-k deletion neighborhoods intersect —
    * depth-1 keys serve maxEdit ≤ 1, depth-2 ([[deletionKeys2]],
    * ~L²/2 keys per record) serves maxEdit = 2; maxEdit = 0
    * degenerates to exact match through the full-name key. Output:
    * id_a, id_b, dist.
    *
    * Name-combo completeness under duplicate ids: the confirm sees
    * EVERY (name_a, name_b) combination of a candidate pair (the
    * join-back is by id), a superset of the combos that shared a
    * blocking key — but any combo with lev ≤ maxEdit shares a key by
    * the SymSpell theorem, so the extra combos are all confirm-
    * rejected and the output set is identical to confirming on the
    * raw keyed rows (ErSpec pins the equivalence). CONTRACT: roster
    * ids identify records (one name per id). With duplicate ids AND
    * `maxKeyFreq` set, the identity argument has a hole — a combo
    * whose only shared keys were frequency-capped away still reaches
    * the confirm through another combo's surviving key and can emit a
    * row the keyed-row confirm would not have; unique ids (or no cap)
    * make the two orderings exactly equal. */
  def fuzzyPairs(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      maxEdit: Int = 1,
      maxKeyFreq: Option[Long] = None): DataFrame = {
    require(maxEdit >= 0 && maxEdit <= 2,
      s"deletion blocking implemented to depth 2 (maxEdit <= 2), got $maxEdit")
    confirmJoinedBack(
      rawCandidates(df, idCol, nameCol, maxKeyFreq, maxEdit)
        .select(col("id_a"), col("id_b")).distinct(),
      nameSide(df, idCol, nameCol, "id_a", "__na"),
      nameSide(df, idCol, nameCol, "id_b", "__nb"),
      "id_a", "id_b", "__na", "__nb", maxEdit)
  }

  /** Confirm-before-distinct: score each candidate row with the banded
    * early-exit `levenshtein(l, r, threshold)`, drop non-matches, THEN
    * de-duplicate on the narrow (idA, idB, dist) triple. Equivalent to
    * distinct-before-confirm — the confirm is a deterministic function
    * of the name pair, so duplicate candidates (pairs sharing several
    * blocking keys) collapse to the same triple — but the distinct's
    * shuffle now carries three numeric columns instead of two ~L-char
    * name strings, and the rows that fail the edit bound never enter it
    * at all. At the 10× ER soak the depth-2 merge join emits 33.8M
    * candidate rows; this ordering cut the post-join shuffle bytes
    * several-fold at an identical output (ErSpec pins the equivalence).
    * The repeated per-duplicate levenshtein is the cheap side of the
    * trade: O(maxEdit·len) with early exit, codegen'd, no shuffle. */
  private def confirmThenDistinct(
      cand: DataFrame,
      idA: String, idB: String,
      nameA: String, nameB: String,
      maxEdit: Int): DataFrame =
    cand
      .withColumn("dist", levenshtein(col(nameA), col(nameB), maxEdit))
      .where(col("dist") >= 0)
      .select(col(idA), col(idB), col("dist"))
      .distinct()

  /** Confirmed fuzzy linkage between two rosters (the record-linkage
    * A–B shape: dirty feed → clean roster). Output: left_id, right_id,
    * dist — every right record within maxEdit of each left record. */
  def fuzzyJoinBetween(
      left: DataFrame, leftId: String, leftName: String,
      right: DataFrame, rightId: String, rightName: String,
      maxEdit: Int = 1,
      maxKeyFreq: Option[Long] = None): DataFrame = {
    require(maxEdit >= 0 && maxEdit <= 2,
      s"deletion blocking implemented to depth 2 (maxEdit <= 2), got $maxEdit")
    val l = keyed(left, leftId, leftName, maxKeyFreq, maxEdit)
      .select(col("__key"), col("__id").as("left_id"))
    val r = keyed(right, rightId, rightName, maxKeyFreq, maxEdit)
      .select(col("__key"), col("__id").as("right_id"))
    // sort-merge for the same post-explode underestimation reason as
    // candidatePairs (both sides are inline key explodes here; the
    // parquet-backed streaming path, fuzzyPairsFromKeys, keeps Spark's
    // choice, its store stats being real file sizes); narrow (key, id)
    // rows through the big sort, names joined back onto the distinct
    // pair frame (see rawCandidates). Merge is the only algorithm because
    // it is fully spillable: shuffle_hash was measured (r15) and ran out
    // of memory building its hash relation at the 100× soak scale, at 32
    // partitions and at 256 (AQE coalesces the narrow key shuffle back
    // into few large build partitions).
    confirmJoinedBack(
      l.join(r.hint("merge"), Seq("__key"))
        .select(col("left_id"), col("right_id")).distinct(),
      nameSide(left, leftId, leftName, "left_id", "__nl"),
      nameSide(right, rightId, rightName, "right_id", "__nr"),
      "left_id", "right_id", "__nl", "__nr", maxEdit)
  }

  /** The blocking-key table in its incremental-store shape: one row
    * per (key, id, name) — what a streaming roster ingest persists so
    * each tranche is keyed exactly once
    * ([[graft.streaming.Streams.ingestErLinks]]). */
  def keyTable(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      maxEdit: Int = 1): DataFrame =
    keyed(df, idCol, nameCol, None, maxEdit)
      .select(col("__key").as("key"), col("__id").as("id"),
        col("__name").as("name"))

  /** Confirmed pairs between two [[keyTable]] frames. `ordered = true`
    * is the self-join form (emits id_a < id_b once); `ordered = false`
    * the cross-store form (id sets disjoint by contract, every match
    * emitted as (a.id, b.id)). Same candidates-then-banded-confirm
    * shape as [[fuzzyPairs]]. */
  def fuzzyPairsFromKeys(
      a: DataFrame,
      b: DataFrame,
      maxEdit: Int = 1,
      ordered: Boolean = true): DataFrame = {
    require(maxEdit >= 0 && maxEdit <= 2,
      s"deletion blocking implemented to depth 2 (maxEdit <= 2), got $maxEdit")
    val l = a.select(col("key"), col("id").as("id_a"), col("name").as("__na"))
    val r = b.select(col("key"), col("id").as("id_b"), col("name").as("__nb"))
    confirmThenDistinct(
      l.join(r, Seq("key"))
        .where(if (ordered) col("id_a") < col("id_b") else col("id_a") =!= col("id_b")),
      "id_a", "id_b", "__na", "__nb", maxEdit)
  }

  /** Disambiguation: the single best right match per left record —
    * smallest dist, ties to the smallest right_id (deterministic in any
    * engine). One hash aggregation, map-side partial. */
  def bestMatch(links: DataFrame): DataFrame =
    links.groupBy(col("left_id"))
      .agg(min_by(struct(col("right_id"), col("dist")),
        struct(col("dist"), col("right_id"))).as("__b"))
      .select(col("left_id"),
        col("__b.right_id").as("best_id"),
        col("__b.dist").as("best_dist"))

  /** Entity clusters over confirmed pairs: connected components +
    * canonical-member survivorship, reusing the star-contraction
    * resolver (scale notes there). Output: doc_id→id, cluster_id,
    * cluster_size, is_canonical renamed to entity terms. */
  def resolveEntities(pairs: DataFrame): DataFrame =
    DedupClusters.resolve(pairs, aCol = "id_a", bCol = "id_b")
      .select(col("doc_id").as("id"), col("cluster_id").as("entity_id"),
        col("cluster_size").as("entity_size"), col("is_canonical"))
}
