package graft.text

import org.apache.spark.sql.Column

/** BPE merge-table support (north-star token counting, completing
  * [[TextOps.bpeTokens]]): a pinned default merge table and the Column
  * surface over the native [[graft.expr.BpeEncode]] loop.
  */
object Bpe {

  /** Pinned default merge table: common English merges, hand-ordered so
    * every rule referencing a multi-char unit appears after the rule that
    * creates it (rank-consistency — the invariant real learned tables have
    * by construction). Rank-consistent tables make the priority merge loop
    * equivalent to applying rules exhaustively in rank order, which is what
    * makes the operator mirrorable in plain SQL (nested replaces) for the
    * correctness oracle. */
  val DefaultMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "n",
    "o" -> "r", "e" -> "s", "s" -> "t", "o" -> "u", "i" -> "t",
    "i" -> "s", "in" -> "g", "t" -> "o", "o" -> "f", "a" -> "r",
    "a" -> "s", "h" -> "e", "e" -> "d", "o" -> "w", "l" -> "e",
    "a" -> "l", "c" -> "h", "s" -> "h", "l" -> "y", "w" -> "h",
    "q" -> "u", "th" -> "at", "f" -> "or", "w" -> "as", "w" -> "e",
    "b" -> "e", "s" -> "e", "n" -> "o", "c" -> "o", "d" -> "e")

  /** Encode pre-token arrays against a merge table — flattened subword
    * units via the native codegen'd loop. */
  def encode(pretokens: Column, merges: Seq[(String, String)] = DefaultMerges): Column =
    graft.exprapi.bpeEncode(pretokens, merges)

  /** Full chain: text → GPT-2-style pre-tokens → merged subword units. */
  def subwords(text: Column, merges: Seq[(String, String)] = DefaultMerges): Column =
    encode(TextOps.bpeTokens(text), merges)
}
