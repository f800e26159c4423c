package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Test-only UDFs and Column forms. `rollingFingerprint` lived in
  * TextAnalysis (main scope) purely as the equality comparator for the
  * native `rolling_fingerprint` expression — a `udf {}` in main is an
  * attractive nuisance for future callers (the query path must stay on the
  * codegen'd expression), so it moved here (r6, VERDICT item 6).
  * `shingleHashes` is the same kind of comparator for `shingle_hashes`.
  */
object TestUdfs {
  val rollingFingerprint: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      graft.functions.expressions.RollingFingerprintExpr.fingerprint(text)
    }

  /** The Column form `shingle_hashes` replaced: distinct xxhash64 of every
    * space-joined word-k-gram, NULL below k words. Its lambda re-splits the
    * text per shingle position (O(words²)) — a comparator, never a query path.
    */
  def shingleHashes(text: Column, k: Int): Column = {
    val words = filter(split(text, " "), t => t =!= "")
    when(size(words) >= k,
      array_distinct(transform(sequence(lit(0), size(words) - lit(k)),
        i => xxhash64(concat_ws(" ", slice(words, i + 1, lit(k)))))))
  }
}
