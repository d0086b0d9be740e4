package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expressions.FirstWords
import graft.functions.Scalars
import org.apache.spark.sql.graft.ColumnAdapter

/** The reference's canonical query (SURVEY §3.4, example/main.py:59-137):
  * for each document, one row per FIRST occurrence of each distinct
  * (case/whitespace-normalized) word, carrying:
  *
  *   word           first-seen original form, truncated to 254 chars
  *   word_len       length after diacritic strip, BEFORE truncation
  *   word_truncated pre-truncation length > 255
  *   words_count    total (non-blank) tokens in the document
  *
  * Plan: scan → one projection of the row-local kernel
  * [[graft.expressions.FirstWords]] (token count + first form of each
  * `Scalars.wordNorm` key, in one pass over the text) → explode → the
  * derivation projection. A document is one row, so its first-seen
  * dedup needs no exchange: the plan is narrow end to end. The
  * reference reads and tokenizes every file TWICE (once to count, once
  * to dedup — SURVEY §3.3); this reads each document once.
  *
  * The rows equal `Tokenize.splitTokens` → `Dedup.keepFirst` keyed by
  * (doc, words_count, carryCols, `lower(trim(word))`) with
  * `FoldGroup.tokenCountExpr` as the count — ExpressionEquivalenceSpec
  * pins that composition on adversarial text. It assumes one row per
  * `idCol` value, which every document source gives; rows that share an
  * id are deduplicated separately, not together.
  */
object WordStats {

  /** `carryCols`: additional PER-DOCUMENT columns of `docs` to carry
    * through to the output unchanged. The reference's canonical sink
    * rows carry the source `file` this way (example/main.py:127,158-162). */
  def apply(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      carryCols: Seq[String] = Nil): DataFrame = {
    val kept = idCol +: carryCols
    val fw = graft.core.Cols.fresh("__fw", kept)
    // the kernel gets its own column, so explode and words_count read
    // one evaluation of it instead of CollapseProject inlining it twice
    val kernel = docs.select(kept.map(col) :+ ColumnAdapter.column(
      FirstWords(ColumnAdapter.expression(col(textCol)))).as(fw): _*)
    val firsts = kernel.select(kept.map(col) ++ Seq(
      col(fw).getField("words_count").as("words_count"),
      explode(col(fw).getField("words")).as("word")): _*)

    firsts.select(
      col(idCol) +:
      // Pre-image semantics (SURVEY §7.4): word_len and word_truncated
      // are computed on the UN-truncated word, in the same projection
      // that truncates it.
      Scalars.truncate254(col("word")).as("word") +:
      length(Scalars.removeDiac(col("word"))).cast("long").as("word_len") +:
      Scalars.lenGt255(col("word")).as("word_truncated") +:
      col("words_count") +:
      carryCols.map(col): _*)
  }

  /** The same per-file word stats computed DIRECTLY from splittable
    * line rows — the 100 TB form of [[apply]] for huge files: input is
    * `(idCol, orderCol, lineCol)` (e.g.
    * [[graft.sources.ChunkedTextSource]]'s `(file_path, byte_offset,
    * line)`), and no task ever materializes a whole file. Whitespace
    * tokenization cannot span a line boundary, so tokenizing each line
    * and ordering tokens by `(orderCol, position-in-line)` reproduces
    * the whole-text token stream exactly: first-occurrence dedup and
    * the total token count — hence every output row — equal
    * [[apply]]'s over the reassembled content (GoldenCorpusSpec pins
    * the equality on the books corpus; the wordstats_chunked battery
    * entry pins it against the unchanged DuckDB wordstats oracle).
    *
    * Plan shape: one narrow tokenize stage, then TWO aggregations
    * where [[apply]] has none — a line is not a document, so neither
    * the first-seen dedup nor the per-file token total is row-local:
    * the dedup is `Dedup.keepFirst`'s hash aggregation and the total is
    * its own `groupBy(id)` count joined back onto the dedup output (one
    * row per file — the small side of that join). `orderCol` must
    * totally order a file's lines (byte offsets do); ties across lines
    * would make first-occurrence nondeterministic. */
  def fromLines(
      lines: DataFrame,
      idCol: String = "file_path",
      orderCol: String = "byte_offset",
      lineCol: String = "line"): DataFrame = {
    val ordC = graft.core.Cols.fresh("__ord", lines.columns.toSeq ++ Seq("pos", "word"))
    val tokens = Tokenize.splitTokens(inputCol = lineCol)(
      lines.select(idCol, orderCol, lineCol))
      .withColumn(ordC, struct(col(orderCol), col("pos")))
      .drop(orderCol, "pos")

    val counts = tokens.groupBy(col(idCol))
      .agg(count(lit(1)).as("words_count"))

    val firsts = Dedup.keepFirst(
      bagKeys = Seq(idCol), valueCol = "word", orderCol = ordC)(tokens)

    firsts.join(counts, Seq(idCol)).select(
      col(idCol),
      Scalars.truncate254(col("word")).as("word"),
      length(Scalars.removeDiac(col("word"))).cast("long").as("word_len"),
      Scalars.lenGt255(col("word")).as("word_truncated"),
      col("words_count"))
  }
}
