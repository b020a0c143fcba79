package graft.analysis

import graft.functions.GraftRuntime
import org.apache.spark.unsafe.types.UTF8String

/** text → terms: THE analysis chain (split per analyzer mode → codepoint
  * uppercase → greedy synonym expansion), one definition for index time
  * and query time alike — the reference applies one analyzer chain per
  * field both ways (`src/Indexer.java:420`, match-time fold at
  * `src/SynonymFilter.java:401`). String callers (query and phrase
  * analysis, MLT / highlight re-analysis, synonym-rule parsing) run the
  * same byte-native [[GraftRuntime.tokensU8]] + [[SynonymDict.expandU8]]
  * pass every build and Catalyst operator runs, so a query term is
  * byte-for-byte the term the index stored.
  *
  * A Java String enters through `UTF8String.fromString` — the same
  * encode Spark applies when it writes a String column — so an unpaired
  * surrogate becomes `?` here exactly as it did in the stored text. */
object Analyzer {

  /** Analyzed terms in stream order, duplicates kept (callers dedup or
    * count as their contract needs); null text → no terms. */
  def terms(text: String, mode: String, dict: SynonymDict): Array[String] = {
    if (text == null) return Array.empty
    dict.expandU8(GraftRuntime.tokensU8(UTF8String.fromString(text), mode))
      .map(_.toString)
  }
}
