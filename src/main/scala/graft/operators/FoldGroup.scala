package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.api.Transform

/** Per-group folds — the Spark form of ReduceItemTransformer
  * (tiny_etl/transformers/aggregators.py:13-67).
  *
  * The reference folds the records produced by a nested sub-pipeline with
  * a (init, reducer) pair; the only shipped reducer is `count` (acc+1,
  * aggregators.py:66-67), used for per-file word counts
  * (example/main.py:72-94). In Spark that is either:
  *
  *   - `groupBy(keys).agg(...)` — the general distributed fold, with
  *     partial (map-side) aggregation before the shuffle for free; or
  *   - a pure expression when the "group" is a single row's own nested
  *     data (e.g. token count of a content column = size(split(...)) —
  *     NO shuffle at all, matching the reference's inline nested fold
  *     which never crosses a process boundary, SURVEY §3.2).
  */
object FoldGroup {

  /** General keyed fold: groupBy + aggregate expressions. */
  def foldGroup(keys: Seq[String], aggs: Seq[Column]): Transform =
    df => df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)

  /** The reference's one concrete reducer: count per group. */
  def countPerGroup(keys: Seq[String], outputCol: String = "count"): Transform =
    df => df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(outputCol))

  /** Shuffle-free token count of a string column — the nested-fold case
    * where the whole group is already in hand on one row
    * (ReduceItemTransformer wrapping a tokenizer, example/main.py:72-94).
    * Counting tokens of `content` needs no explode+groupBy round trip:
    * size(split(...)) is a scalar expression evaluated in place.
    */
  def tokenCountExpr(inputCol: Column, pattern: String = "\\s+"): Column = {
    val parts = split(inputCol, pattern)
    // Python re.split parity: leading separator yields a leading "" and a
    // trailing separator a trailing "" — both are non-words. Count only
    // non-blank tokens.
    size(filter(parts, t => !(t === "" || t.rlike("^\\s+$")))).cast("long")
  }
}
