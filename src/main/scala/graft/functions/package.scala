package graft

import org.apache.spark.sql.{Column, GraftBridge}

/** Column wrappers for graft's native Catalyst expressions. */
package object functions {

  /** Rabin-Karp rolling hash of a string column's UTF-8 bytes → long.
    * Native expression with codegen — see [[RollingHash]]. */
  def rolling_hash(c: Column, base: Long = 31L, mod: Long = 1000000007L): Column =
    GraftBridge.column(RollingHash(GraftBridge.expression(c), base, mod))

  /** Codegen'd element-order dot product of two numeric arrays → double.
    * Bit-equal to the zip_with/aggregate fold it replaces — see
    * [[DotProduct]]. */
  def dot_product(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Unicode NFC canonical composition → string. Custom codegen
    * expression (Spark has no builtin) mirrored by DuckDB's
    * nfc_normalize — see [[NfcNormalize]]. */
  def nfc_normalize(c: Column): Column =
    GraftBridge.column(NfcNormalize(GraftBridge.expression(c)))

  /** Distinct word n-grams of a token array (first-occurrence order) —
    * the codegen'd replacement for the interpreted
    * `array_distinct(transform(...))` chain; see [[DistinctShingles]]. */
  def distinct_shingles(tokens: Column, n: Int): Column =
    GraftBridge.column(DistinctShingles(GraftBridge.expression(tokens), n))

  /** All word n-grams in order, duplicates kept — the multiset sibling
    * of [[distinct_shingles]]; see [[WordNgrams]]. */
  def word_ngrams(tokens: Column, n: Int): Column =
    GraftBridge.column(WordNgrams(GraftBridge.expression(tokens), n))

  /** All word bigrams as structs (gram, prev, cur), duplicates kept —
    * for consumers needing the joined gram and its member tokens in one
    * pass; see [[WordBigramStructs]]. */
  def word_bigram_structs(tokens: Column): Column =
    GraftBridge.column(WordBigramStructs(GraftBridge.expression(tokens)))

  /** Single-pass grouped top-k by (score desc, id asc) → sorted
    * array<struct<score, id>>. Partial-aggregating heap; ships k rows per
    * group through the shuffle instead of the rank-window's everything —
    * see [[TopKByScore]]. */
  def topk_by_score(score: Column, id: Column, k: Int): Column =
    GraftBridge.column(TopKByScore(GraftBridge.expression(score),
      GraftBridge.expression(id), k).toAggregateExpression())
}
