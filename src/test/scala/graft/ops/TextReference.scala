package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reference form of the canonical tokenizer, kept for the specs that
  * pin [[graft.functions.WordTokens]] (behind
  * [[TextAnalysis.tokensCol]]) against it: Spark's `lower`, a regex
  * split, and a `filter` lambda that drops empty tokens. */
object TextReference {

  /** `lower(text)` split on `[^a-z0-9]+`, empty tokens dropped. */
  def tokensHof(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)
}
