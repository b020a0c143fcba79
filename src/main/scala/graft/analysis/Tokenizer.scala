package graft.analysis

/** Tokenization + case folding contract (SURVEY.md §2.2 A1/A2).
  *
  * Semantics mirror the reference's whitespace analyzer + UPPERCASE fold:
  *  - split on Unicode whitespace (`Character.isWhitespace(int)`) — the
  *    token-loop contract is visible at
  *    `/root/reference/LuceneSearchEngine/src/SynonymMap.java:360-390`
  *    (zero-length tokens forbidden at :368-370);
  *  - case fold is codepoint-wise `Character.toUpperCase(int)` — the
  *    reference flips Lucene's lowercase filter to uppercase
  *    (`src/SynonymFilter.java:42-44`, match-time fold at :401); this is
  *    locale-independent (no Turkish-İ problem) and maps ß→ß (the
  *    single-codepoint uppercase of ß does not exist).
  *
  * There is ONE production tokenizer: the UTF-8 byte walk
  * [[graft.functions.GraftRuntime.tokensU8]], reached from Strings via
  * [[Analyzer.terms]]. Malformed UTF-8 is re-encoded once (U+FFFD per
  * bad sequence, java.lang.String's decode semantics) and walked again.
  * The java.lang.String tokenizer the byte walk replaced lives on in the
  * test sources as the golden reference (`graft.golden.StringAnalysis`).
  */
object Tokenizer {

  /** Analyzer modes (the reference dispatches an analyzer per field from
    * its schema config, `src/Indexer.java:420`; our per-field equivalent
    * is a per-index analyzer recorded in the segment config):
    *  - `Text`: Unicode-whitespace split (the reference's whitespace
    *    analyzer) — body text;
    *  - `Keyword`: split on every non-alphanumeric codepoint — urls,
    *    hostnames, identifiers (`doc://src3/000042` → DOC, SRC3, 000042).
    * Both fold codepoint-uppercase. */
  val Text = "text"
  val Keyword = "keyword"

  /** Uppercase a single already-split token (caller-split query terms,
    * prefix / wildcard / fuzzy / range operands): the tokenizer's fold,
    * so both sides of a match against index terms fold identically. */
  def foldCase(token: String): String = {
    val sb = new java.lang.StringBuilder(token.length)
    var i = 0
    while (i < token.length) {
      val cp = token.codePointAt(i)
      sb.appendCodePoint(Character.toUpperCase(cp))
      i += Character.charCount(cp)
    }
    sb.toString
  }
}
