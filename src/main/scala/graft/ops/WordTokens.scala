package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The word tokens of the corpus-statistics operators: split on the
  * single space 0x20, empties dropped (tabs, newlines and other spaces
  * stay inside a token) — `string_split` plus a non-empty filter in the
  * SQL oracles. Each construction is written once in Scala form, for the
  * per-row kernels, and once in Column form; `DecontaminateSpec` checks
  * that the two agree. */
private[ops] object WordTokens {

  def tokens(text: String): Array[String] =
    if (text == null || text.isEmpty) Array.empty[String]
    else text.split(" ", -1).filter(_.nonEmpty)

  def tokensCol(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Corpus unigram counts: (tokenCol, cntCol), one map-combined
    * shuffle. */
  def counts(docs: DataFrame, textCol: String, tokenCol: String,
      cntCol: String): DataFrame =
    docs
      .select(explode(tokensCol(col(textCol))).as(tokenCol))
      .groupBy(col(tokenCol))
      .agg(count(lit(1)).as(cntCol))

  /** Word n-grams, space-joined, in position order; none when there are
    * fewer than `n` tokens. */
  def ngrams(text: String, n: Int): Array[String] = {
    val ws = tokens(text)
    if (ws.length < n) Array.empty[String]
    else Array.tabulate(ws.length - n + 1)(i =>
      ws.slice(i, i + n).mkString(" "))
  }

  def ngramsCol(text: Column, n: Int): Column = {
    val ws = tokensCol(text)
    when(size(ws) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + 1, lit(n)), " ")))
  }
}
