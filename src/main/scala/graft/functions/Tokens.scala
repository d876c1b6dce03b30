package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{filter, lower, split, trim}

/** The pinned lexical tokenizer, `split(lower(trim(text)), '\s+')`, that
  * every lexical operator and its DuckDB oracle share
  * (`regexp_split_to_array(lower(trim(text)), '\s+')`).
  *
  *  - `trim` strips spaces only, so a text that starts (ends) with other
  *    whitespace keeps one leading (trailing) `""` token; `\s+` never
  *    leaves an interior `""`. Java `\s` is ASCII whitespace: NBSP and
  *    U+3000 stay inside tokens.
  *  - `lower` is ICU's root-locale full case mapping: a word-final `Σ`
  *    lowers to `ς` and `İ` to `i` + U+0307.
  *  - Null text yields a null array, which `explode` turns into no rows.
  */
object Tokens {

  /** Every token, including the edge `""` tokens (the sites that count or
    * window over raw positions use this).
    */
  def words(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** The non-empty tokens: [[words]] without its edge `""` tokens. */
  def terms(text: Column): Column = filter(words(text), t => t =!= "")
}
