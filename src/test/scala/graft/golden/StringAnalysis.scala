package graft.golden

import graft.analysis.{SynEntry, SynonymDict, Tokenizer}
import scala.collection.mutable.ArrayBuffer

/** The java.lang.String analysis chain — the golden reference the
  * production byte-native chain (`GraftRuntime.tokensU8`,
  * `SynonymDict.expandU8`, `GraftRuntime.normalizeSortKey`, reached from
  * Strings via `graft.analysis.Analyzer.terms`) is pinned against by
  * U8TokenizerSpec, and the analysis half of GoldenBM25. Written over
  * codepoints of a decoded String, independently of any byte walk.
  * Semantics: `graft.analysis.Tokenizer` (split + fold) and
  * `graft.analysis.SynonymDict` (greedy earliest-longest expansion). */
object StringAnalysis {

  /** Golden twin of `graft.analysis.Analyzer.terms`: split + fold, then
    * expand, duplicates and stream order kept. */
  def terms(text: String, mode: String, dict: SynonymDict): Vector[String] =
    expand(dict, tokenize(text, mode).toIndexedSeq)

  def tokenize(text: String): Array[String] = tokenize(text, Tokenizer.Text)

  def tokenize(text: String, mode: String): Array[String] = {
    if (text == null) return Array.empty
    val keyword = mode == Tokenizer.Keyword
    require(keyword || mode == Tokenizer.Text, s"unknown analyzer mode '$mode'")
    val out = new ArrayBuffer[String]()
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val n = text.length
    while (i < n) {
      val cp = text.codePointAt(i)
      val isSep =
        if (keyword) !Character.isLetterOrDigit(cp)
        else Character.isWhitespace(cp)
      if (isSep) {
        if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      } else {
        sb.appendCodePoint(Character.toUpperCase(cp))
      }
      i += Character.charCount(cp)
    }
    if (sb.length > 0) out += sb.toString
    out.toArray
  }

  /** Sort-key normalization (SURVEY.md A4): the reference routes string
    * sort DocValues through `SymbolMap.apply(value.trim())` then UTF-8
    * bytes (`src/Indexer.java:541-548`) for a case/width-insensitive sort.
    * Our deterministic equivalent: trim → fullwidth→halfwidth fold of the
    * FF01–FF5E block + U+3000 → codepoint uppercase. */
  def normalizeSortKey(s: String): String = {
    if (s == null) return null
    val t = s.trim
    val sb = new java.lang.StringBuilder(t.length)
    var i = 0
    while (i < t.length) {
      var cp = t.codePointAt(i)
      if (cp >= 0xFF01 && cp <= 0xFF5E) cp = cp - 0xFF01 + 0x21
      else if (cp == 0x3000) cp = 0x20
      sb.appendCodePoint(Character.toUpperCase(cp))
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** Greedy earliest-longest expansion over an (already case-folded)
    * token sequence. Pure; deterministic output order: keepOrig originals
    * first, then outputs in rule order. Candidates are dispatched on the
    * first token and tried longest first, as the production index does. */
  def expand(dict: SynonymDict, tokens: IndexedSeq[String]): Vector[String] = {
    if (dict.isEmpty) return tokens.toVector
    val byFirst: Map[String, Seq[(Vector[String], SynEntry)]] =
      dict.entries.toSeq.groupBy(_._1.head).view
        .mapValues(_.sortBy(-_._1.length)).toMap
    val out = Vector.newBuilder[String]
    var i = 0
    val n = tokens.length
    while (i < n) {
      val matched = byFirst.getOrElse(tokens(i), Nil).find { case (key, _) =>
        key.length <= n - i && key.indices.forall(k => key(k) == tokens(i + k))
      }
      matched match {
        case Some((key, e)) =>
          if (e.keepOrig) (i until i + key.length).foreach(k => out += tokens(k))
          e.outputs.foreach(o => o.tokens.foreach(out += _))
          i += key.length
        case None =>
          out += tokens(i)
          i += 1
      }
    }
    out.result()
  }
}
