package graft.analysis

import scala.collection.mutable

/** Greedy longest-match multi-word synonym expansion (SURVEY.md §2.3).
  *
  * Reference semantics reproduced (all cites into
  * `/root/reference/LuceneSearchEngine/`):
  *  - rules are `input-phrase → output-phrase (+ keepOrig)`; phrases are
  *    token sequences joined by a word separator
  *    (`src/SynonymMap.java:63`);
  *  - identity rules are elided at build
  *    (`src/SynonymMap.java:211-213`);
  *  - duplicate rules are deduped (`src/SynonymMap.java:92-98,294-301`);
  *  - language-tagged entries `nike:EN` split on the LAST ':'
  *    (`src/SynonymMap.java:54-59,197-198`); at emit time the language is
  *    stripped and only the bare term is emitted
  *    (`src/SynonymFilter.java:534-545`);
  *  - matching is greedy: the earliest-starting, longest match wins
  *    (`src/SynonymFilter.java:50-66`), case-folded per codepoint at match
  *    time (`src/SynonymFilter.java:401`);
  *  - after a match the scan resumes AFTER the matched span
  *    (`inputSkipCount = matchInputLength`,
  *    `src/SynonymFilter.java:445-449`) — so rules `a→x, a b→y, b c d→z`
  *    on input `a b c d e` yield `y c d e` (the upstream javadoc's
  *    `y b c d` example does not match the implementation);
  *  - matched span replaced by the stacked outputs; originals kept iff
  *    keepOrig (bit 0 of the encoded output,
  *    `src/SynonymFilter.java:465-467`); unmatched tokens pass through
  *    (`src/SynonymFilter.java:569-587`).
  *
  * The reference compiles the dictionary to an FST; at our dictionary
  * sizes a broadcast hash map of token-vectors preserves the exact
  * semantics without the FST machinery (SURVEY.md Y1). Synonym outputs are
  * flattened into the token multiset (position stacking is irrelevant for
  * bag-of-words BM25 — documented simplification, SURVEY.md Y3).
  */
final case class SynOutput(tokens: Vector[String], lang: Option[String])
    extends Serializable

final case class SynEntry(outputs: Vector[SynOutput], keepOrig: Boolean)
    extends Serializable

final class SynonymDict(
    val entries: Map[Vector[String], SynEntry],
    val maxInputLen: Int) extends Serializable {

  def isEmpty: Boolean = entries.isEmpty

  /** First-token dispatch index (the hash-map stand-in for the
    * reference's FST arc dispatch): the per-position probe in
    * [[expandU8]] is ONE hash lookup; only on a first-token hit are the
    * (few) multi-token keys compared in place, longest first. A naive
    * Map[Vector[String], _] probe per position allocates a slice and does
    * boxed element-wise equality — measured ~100× slower on the index
    * build's hot loop. Keys and flattened outputs are pre-encoded to
    * UTF-8 once per JVM; among equal-length same-first-token keys order
    * is irrelevant (two distinct keys of equal length cannot both match
    * one span). @transient lazy: rebuilt per JVM after the plan ships
    * the dict to executors. */
  @transient private lazy val byFirstU8
      : java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[SynonymDict.U8Rule]] = {
    import org.apache.spark.unsafe.types.UTF8String
    val m = new java.util.HashMap[UTF8String, Array[SynonymDict.U8Rule]]()
    entries.toSeq.groupBy(_._1.head).foreach { case (first, es) =>
      val rules = es.sortBy(-_._1.length).map { case (k, e) =>
        new SynonymDict.U8Rule(
          k.iterator.map(UTF8String.fromString).toArray,
          e.outputs.iterator.flatMap(_.tokens).map(UTF8String.fromString).toArray,
          e.keepOrig)
      }.toArray
      m.put(UTF8String.fromString(first), rules)
    }
    m
  }

  /** (first byte, byte length) bitmap over [[byFirstU8]]'s keys: entry
    * `firstByte` has bit `min(len, 63)` set iff some rule's first token
    * starts with that byte at that byte length. A token failing the test
    * cannot equal ANY first-token key, so the per-position murmur hash +
    * map probe is skipped — a pure prefilter, match results unchanged
    * (lengths ≥ 63 share one bit and fall through to the exact probe). */
  @transient private lazy val u8FirstFilter: Array[Long] = {
    val f = new Array[Long](256)
    byFirstU8.keySet.forEach { k =>
      f(k.getByte(0) & 0xFF) |= 1L << math.min(k.numBytes, 63)
    }
    f
  }

  /** Greedy earliest-longest expansion over an (already case-folded)
    * token sequence — the ONE production expansion ([[Analyzer.terms]]
    * and every build pass / Catalyst operator). Pure; deterministic
    * output order: keepOrig originals first, then outputs flattened in
    * rule order. Pinned against the String reference it replaced
    * (`graft.golden.StringAnalysis.expand`) by U8TokenizerSpec. */
  def expandU8(tokens: Array[org.apache.spark.unsafe.types.UTF8String])
      : Array[org.apache.spark.unsafe.types.UTF8String] = {
    if (entries.isEmpty) return tokens
    val idx = byFirstU8
    val filter = u8FirstFilter
    val out = new java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String](
      tokens.length + 8)
    var i = 0
    val n = tokens.length
    while (i < n) {
      val t = tokens(i)
      val cands =
        if (t.numBytes == 0 ||
            (filter(t.getByte(0) & 0xFF) & (1L << math.min(t.numBytes, 63))) == 0L)
          null
        else idx.get(t)
      var matched: SynonymDict.U8Rule = null
      if (cands != null) {
        var c = 0
        while (matched == null && c < cands.length) {
          val r = cands(c)
          if (r.key.length <= n - i) {
            var k = 1 // first token already matched by the hash probe
            var ok = true
            while (ok && k < r.key.length) {
              if (!r.key(k).equals(tokens(i + k))) ok = false else k += 1
            }
            if (ok) matched = r
          }
          c += 1
        }
      }
      if (matched != null) {
        if (matched.keepOrig) {
          var k = i
          while (k < i + matched.key.length) { out.add(tokens(k)); k += 1 }
        }
        var e = 0
        while (e < matched.emit.length) { out.add(matched.emit(e)); e += 1 }
        i += matched.key.length
      } else {
        out.add(tokens(i))
        i += 1
      }
    }
    out.toArray(
      new Array[org.apache.spark.unsafe.types.UTF8String](out.size))
  }
}

object SynonymDict {

  /** Pre-encoded rule for the UTF8String dispatch: key tokens, flattened
    * emit tokens (outputs in rule order), keepOrig. Plain class (never
    * Dataset-encoded), rebuilt per JVM inside the transient index. */
  private[analysis] final class U8Rule(
      val key: Array[org.apache.spark.unsafe.types.UTF8String],
      val emit: Array[org.apache.spark.unsafe.types.UTF8String],
      val keepOrig: Boolean)

  val empty: SynonymDict = new SynonymDict(Map.empty, 0)

  /** Split a phrase on its LAST ':' into (bare phrase, language tag) —
    * reference `Tool.splitLastIndex` use at `src/SynonymMap.java:197-198`.
    * A trailing-':'-free phrase has no language. */
  private[analysis] def splitLang(phrase: String): (String, Option[String]) = {
    val idx = phrase.lastIndexOf(':')
    if (idx <= 0 || idx == phrase.length - 1) (phrase, None)
    else (phrase.substring(0, idx), Some(phrase.substring(idx + 1)))
  }

  private def keyOf(phrase: String): Vector[String] = // fold + split
    Analyzer.terms(phrase, Tokenizer.Text, empty).toVector

  /** Programmatic rule add mirroring `SynonymMap.add(input, output,
    * keepOrig)`. Build with `builder += ((in, out, keepOrig, lang))`. */
  def build(rules: Seq[(String, String, Boolean, Option[String])]): SynonymDict = {
    val acc = mutable.LinkedHashMap.empty[Vector[String], (mutable.LinkedHashSet[SynOutput], Boolean)]
    rules.foreach { case (in, outPhrase, keepOrig, lang) =>
      val key = keyOf(in)
      val out = SynOutput(keyOf(outPhrase), lang)
      if (key.nonEmpty && out.tokens.nonEmpty && key != out.tokens) { // identity elision + dedup
        val (set, ko) = acc.getOrElseUpdate(key, (mutable.LinkedHashSet.empty[SynOutput], false))
        set += out
        acc(key) = (set, ko || keepOrig)
      }
    }
    val entries = acc.map { case (k, (set, ko)) => k -> SynEntry(set.toVector, ko) }.toMap
    val maxLen = if (entries.isEmpty) 0 else entries.keys.map(_.length).max
    new SynonymDict(entries, maxLen)
  }

  /** Parse the fixture format (FIXTURES.md §3):
    * {{{
    *   # comment
    *   a => x            // explicit mapping, original dropped (keepOrig=false)
    *   a b => y, z       // multi-token lhs; comma-separated outputs
    *   nike:EN,나이키:KO  // equivalence class, language-tagged; every member
    *                     // maps to every other member, originals kept
    *   foo => foo        // identity — elided at build (SynonymMap.java:211-213)
    * }}}
    */
  def parse(lines: Iterable[String]): SynonymDict = {
    val rules = Vector.newBuilder[(String, String, Boolean, Option[String])]
    lines.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      if (line.nonEmpty) {
        if (line.contains("=>")) {
          val Array(lhs, rhs) = line.split("=>", 2)
          for (in <- lhs.split(',').map(_.trim).filter(_.nonEmpty);
               out <- rhs.split(',').map(_.trim).filter(_.nonEmpty)) {
            val (inPhrase, _) = splitLang(in)
            val (outPhrase, outLang) = splitLang(out)
            rules += ((inPhrase, outPhrase, false, outLang))
          }
        } else {
          val members = line.split(',').map(_.trim).filter(_.nonEmpty)
          for (in <- members; out <- members if in != out) {
            val (inPhrase, _) = splitLang(in)
            val (outPhrase, outLang) = splitLang(out)
            rules += ((inPhrase, outPhrase, true, outLang))
          }
        }
      }
    }
    build(rules.result())
  }
}
