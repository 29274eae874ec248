package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Word-shingle generation with codegen'd collection builtins —
  * no UDFs, so shingling runs inside whole-stage codegen. */
object Shingles {

  /** Distinct k-word shingles of a text column (space-tokenized).
    * Documents shorter than k words produce an empty array. */
  def wordShingles(text: Column, k: Int): Column = {
    val t = split(text, " ")
    val grams = transform(
      sequence(lit(1), size(t) - lit(k - 1)),
      i => concat_ws(" ", (0 until k).map(j => element_at(t, i + lit(j))): _*))
    array_distinct(when(size(t) >= k, grams).otherwise(array()))
  }

  /** Native-codegen shingles (same semantics as [[wordShingles]]; one
    * pass, no interpreted higher-order functions — see [[WordShingles]]). */
  def wordShinglesNative(text: Column, k: Int): Column =
    call_function("graft_word_shingles", text, lit(k))
}
