package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Cols
import graft.core.api.Transform

/** Tokenizers — Spark forms of AbstractTextWordTokenizerTransformer /
  * TextWordTokenizerTransformer (tiny_etl/transformers/text.py:8-71) and
  * ArabicTextWordsTokenizerTransformer (example/arabic_transformers.py:6-22).
  *
  * The reference's per-token pipeline is: split → strip remove_chars →
  * mapper fn-chain → drop tokens failing ignore_word_fn. All of it maps
  * to posexplode + translate + expression chain + filter — one narrow,
  * fully codegen'd stage, no UDFs, no shuffle.
  *
  * We keep the token POSITION (`posCol`) from posexplode: the reference's
  * first-seen dedup semantics (SURVEY §7.4) need a deterministic in-file
  * order, and generators give the reference that order for free; in Spark
  * it must be an explicit column.
  *
  * Column-name contract: `posCol` and `outputCol` REPLACE same-named
  * input columns (the reference's output_key re-wrap also overwrites,
  * transformers/commons.py:47-53); internal scratch columns are
  * uniquified against the input schema via [[graft.core.Cols.fresh]], so
  * no input name can collide with operator internals.
  */
object Tokenize {

  /** The exact character class of the reference's Arabic findall
    * (example/arabic_transformers.py:20), as a set of literal chars:
    * U+0621–U+0628, U+062A–U+063A, U+0640–U+0652 — i.e. the hamza forms
    * and letters WITHOUT teh marbuta (U+0629), plus tatweel and the
    * eight diacritics + tanween marks. The omission of teh marbuta (and
    * of all digits) is faithful to the reference's enumerated class, not
    * an oversight here.
    */
  val ArabicCharClass: String =
    ((0x621 to 0x628) ++ (0x62A to 0x63A) ++ (0x640 to 0x652))
      .map(_.toChar).mkString

  /** `[<ArabicCharClass>]+` — literal chars, valid in both Java regex
    * (Spark) and RE2 (DuckDB oracle). */
  val ArabicRunPattern: String = s"[$ArabicCharClass]+"

  /** Regex-split tokenizer. `pattern` is the split regex (the canonical
    * pipeline uses "\\s+", example/main.py:82-86). Emits
    * (inputCols..., posCol, outputCol) one row per kept token.
    *
    * Note the Python `re.split` edge (SURVEY §7.4): leading whitespace
    * yields a leading "" token — Spark's `split` does the same; both are
    * dropped by the blank filter, keeping parity.
    */
  def splitTokens(
      inputCol: String,
      outputCol: String = "word",
      posCol: String = "pos",
      pattern: String = "\\s+",
      removeChars: String = "",
      mappers: Seq[Column => Column] = Nil,
      keep: Column => Column = c => !graft.functions.Scalars.isBlank(c)): Transform = { df =>
    val tok = Cols.fresh("__tok", df.columns :+ outputCol :+ posCol)
    val carried =
      df.columns.filterNot(c => c == inputCol || c == outputCol || c == posCol)
        .map(col).toSeq
    val stripped =
      if (removeChars.isEmpty) col(tok)
      else translate(col(tok), removeChars, "")
    val mapped = mappers.foldLeft(stripped)((c, f) => f(c))
    df.select(carried :+ posexplode(split(col(inputCol), pattern)).as(Seq(posCol, tok)): _*)
      .withColumn(outputCol, mapped)
      .filter(keep(col(outputCol)))
      .drop(tok)
  }

  /** Arabic-script tokenizer — regexp_extract_all over the reference's
    * exact character class ([[ArabicRunPattern]]), matching
    * example/arabic_transformers.py:17-23: `re.findall(...)` then an
    * inner whitespace split/drop-blank. The class contains no whitespace
    * and no '×', so the reference's inner replace/split loop is a no-op
    * on findall output — each run IS one token.
    *
    * `stripDiacritics` applies remove_diac as a mapper on the emitted
    * word (the reference keeps tokenization and remove_diac separate;
    * pass false for raw tokenizer parity). A token that is all
    * diacritics strips to "" and is dropped — only possible with
    * stripDiacritics=true, where an empty "word" is meaningless.
    */
  /** Codepoint n-gram tokenizer — the fallback for whitespace-free
    * scripts (CJK, Thai, …) where `\s+` splitting degenerates to one
    * giant token: emit every overlapping n-codepoint gram with its
    * 0-based position, the same long-form (carried…, pos, token) shape
    * as [[splitTokens]], so the downstream machinery (shingle MinHash,
    * BM25 term stats, winnowing) consumes grams exactly as it consumes
    * words. Texts shorter than `n` emit nothing.
    *
    * Shape: ONE narrow codegen stage, no shuffle, no UDF — split into
    * a codepoint array once, then `slice` + `array_join` per gram (O(n)
    * each, linear in text length overall; a per-gram `substring(text,
    * i, n)` would rescan from the string head each time — quadratic in
    * document length, a real cliff on book-sized documents). The
    * `length >= n` guard matters: Spark's `sequence(1, stop)` counts
    * DOWN when `stop < 1`, which would emit phantom grams for short
    * texts instead of none.
    */
  def cjkNgrams(
      inputCol: String,
      n: Int = 3,
      outputCol: String = "gram",
      posCol: String = "pos"): Transform = { df =>
    require(n >= 1, s"n must be >= 1, got $n")
    val chars = Cols.fresh("__chars", df.columns :+ outputCol :+ posCol)
    val carried =
      df.columns.filterNot(c => c == inputCol || c == outputCol || c == posCol)
        .map(col).toSeq
    val grams = when(length(col(inputCol)) >= n,
        transform(sequence(lit(1), length(col(inputCol)) - n + 1),
          i => array_join(slice(col(chars), i, lit(n)), "")))
      .otherwise(array().cast("array<string>"))
    df.withColumn(chars, split(col(inputCol), ""))
      .select(carried :+ posexplode(grams).as(Seq(posCol, outputCol)): _*)
  }

  def arabicTokens(
      inputCol: String,
      outputCol: String = "word",
      posCol: String = "pos",
      stripDiacritics: Boolean = true): Transform = { df =>
    val tok = Cols.fresh("__tok", df.columns :+ outputCol :+ posCol)
    val carried =
      df.columns.filterNot(c => c == inputCol || c == outputCol || c == posCol)
        .map(col).toSeq
    val word =
      if (stripDiacritics) graft.functions.Scalars.removeDiac(col(tok))
      else col(tok)
    df.select(
        carried :+ posexplode(regexp_extract_all(col(inputCol), lit(ArabicRunPattern), lit(0)))
          .as(Seq(posCol, tok)): _*)
      .withColumn(outputCol, word)
      .filter(length(col(outputCol)) > 0)
      .drop(tok)
  }
}
