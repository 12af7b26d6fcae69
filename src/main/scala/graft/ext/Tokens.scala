package graft.ext

import graft.ops.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The whitespace tokenizer of the text, corpus, curation and near-dup
  * queries: `text` split on single spaces, the oracle's
  * `string_split(text, ' ')`. Every query-code token column, token
  * stream, per-doc token count and word n-gram is built here
  * (TokenizerLnRuleSpec pins this object as the split's only home in
  * query code; `tools/ScaleGen` generates data and keeps its own). */
private[graft] object Tokens {

  /** The token array of `text`. */
  def wsTokens: Column = split(col("text"), " ")

  /** Tokens per document as BIGINT — the count every budget, pack,
    * shard and length query sums. */
  def nTok: Column = size(wsTokens).cast("long")

  /** One row per token occurrence: the `keep` columns, then `tok`. */
  def tokenRows(docs: DataFrame, keep: String*): DataFrame =
    docs.select(keep.map(col) :+ explode(wsTokens).as("tok"): _*)

  /** The repetition ratio 1 − n_uniq / n_tok at 6 dp, shared by
    * [[TextOps.repetition]] (over its projected counts) and the
    * streaming `DocStream.curate` gate (over the tokens themselves). */
  def repRatio(total: Column = size(wsTokens),
               uniq: Column = size(array_distinct(wsTokens))): Column =
    Num.rnd(lit(1.0) - uniq.cast("double") / total, 6)

  /** Space-split tokens (key, toks) of the documents with at least `n`
    * tokens — the frame [[wordGrams]] reads; shorter docs yield no gram. */
  def wordTokens(docs: DataFrame, n: Int, key: String = "doc_id"): DataFrame =
    docs.select(col(key), wsTokens.as("toks")).filter(size(col("toks")) >= n)

  /** The word n-grams of [[wordTokens]]' `toks`, in start order — the one
    * gram expression (higher-order functions, codegen-friendly, no UDF)
    * every shingle, gram and window site of Dedup and TextOps explodes. */
  def wordGrams(n: Int): Column =
    expr(s"transform(sequence(1, size(toks) - ${n - 1}), " +
         s"i -> concat_ws(' ', slice(toks, i, $n)))")
}
