package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.api.Transform

/** Keyed dedup / duplicates-filter — the Spark form of
  * UniqueFilterTransformer (tiny_etl/transformers/aggregators.py:71-132)
  * and its ConcurrentKeyBagSet state store (tiny_etl/commons.py:238-310).
  *
  * Reference semantics (SURVEY §2.3, §7.4):
  *   - the dedup key is a normalizer-chain of the value (example uses
  *     lower ∘ strip, example/main.py:98) scoped by a bag key (the file);
  *   - yield_unique_values=True  → keep only the FIRST occurrence, in
  *     in-file order, emitting the ORIGINAL (un-normalized) form;
  *   - yield_unique_values=False → keep only re-occurrences (the XOR at
  *     aggregators.py:127).
  *
  * Scale note: `keepFirst` is a single hash-aggregation with map-side
  * partial min_by — one shuffle, no sort, no whole-partition window, so
  * it survives arbitrarily large groups-per-file counts. The reference's
  * cross-process shared bag becomes the shuffle itself.
  */
object Dedup {

  /** First occurrence per (bagKeys, norm(valueCol)), ordered by orderCol
    * (token position). Emits the original row columns of that first
    * occurrence. Equivalent to row_number()==1 but shuffle-friendlier:
    * groupBy + min_by(struct, order) does partial aggregation map-side.
    */
  def keepFirst(
      bagKeys: Seq[String],
      valueCol: String,
      orderCol: String,
      normalizer: Column => Column = graft.functions.Scalars.wordNorm): Transform = { df =>
    val payload = df.columns.toSeq
    val normC = graft.core.Cols.fresh("__norm", payload)
    val firstC = graft.core.Cols.fresh("__first", payload)
    df.withColumn(normC, normalizer(col(valueCol)))
      .groupBy((bagKeys :+ normC).map(col): _*)
      .agg(min_by(struct(payload.map(col): _*), col(orderCol)).as(firstC))
      .select(payload.map(c => col(firstC).getField(c).as(c)): _*)
  }

  /** Re-occurrences only (the yield_unique_values=False branch): every
    * row whose (bagKeys, norm) was already seen at a smaller orderCol.
    * Needs per-group ordering → window row_number, rn > 1.
    */
  def duplicatesOnly(
      bagKeys: Seq[String],
      valueCol: String,
      orderCol: String,
      normalizer: Column => Column = graft.functions.Scalars.wordNorm): Transform = { df =>
    val payload = df.columns.toSeq
    val rnC = graft.core.Cols.fresh("__rn", payload)
    val w = Window
      .partitionBy((bagKeys.map(col) :+ normalizer(col(valueCol))): _*)
      .orderBy(col(orderCol))
    df.withColumn(rnC, row_number().over(w))
      .filter(col(rnC) > 1)
      .select(payload.map(col): _*)
  }
}
