package graft.golden

import graft.analysis.{SynonymDict, Tokenizer, TextExtract}
import graft.index.WebtextGen

/** The golden model (SURVEY.md §0.1, §5.2.1): a deliberately-obvious,
  * single-threaded re-implementation of the reference's documented
  * scoring semantics — Lucene 6.3 default BM25 (k1=1.2, b=0.75, version
  * pin `/root/reference/LuceneSearchEngine/src/Searcher.java:106`), top-k
  * by (score desc, docId asc) (`Searcher.java:779-787`), non-scoring
  * filter clause (`Searcher.java:734-737`). The distributed engine must
  * be rank-identical with bit-identical scores: both sum per-term
  * contributions in ascending term order.
  */
object GoldenBM25 {

  final case class Doc(docId: Long, url: String, lang: String,
                       tokens: Vector[String])
  final case class Hit(docId: Long, score: Double)

  /** Build golden docs from the same generator the engine indexes:
    * doc_id = rank in url sort order (the engine's assignment rule). */
  def docsFromWebtext(seed: Long, n: Int, dict: SynonymDict): Vector[Doc] =
    WebtextGen.pages(seed, n)
      .map { p =>
        val text = if (p.text != null) p.text else TextExtract.extractText(p.html)
        (p.url, p.lang, StringAnalysis.terms(text, Tokenizer.Text, dict))
      }
      .sortBy(_._1)
      .zipWithIndex
      .map { case ((url, lang, toks), i) => Doc(i.toLong, url, lang, toks) }
      .toVector

  /** Cross-field parsed scoring — the golden twin of
    * [[graft.index.FieldedIndex.FieldedSearcher.scoreQuery]]: each
    * (model, clause-subset, dict) part accumulates with ITS OWN
    * collection statistics; MUST sets intersect globally, NOT sets union
    * globally, and every part's (term, contrib) pairs merge into ONE
    * ascending fold (the engine's exact cross-field order). Doc ids must
    * be aligned across models (the fielded invariant). */
  def scoreParsedMulti(parts: Seq[(Model, Seq[graft.query.QueryParser.Clause],
                                   SynonymDict)]): Seq[Hit] = {
    val accums = parts.map { case (m, cs, d) => (m, m.parsedAccum(cs, d)) }
    if (accums.exists(_._2.matchNone)) return Seq.empty
    if (accums.forall(_._2.contribs.isEmpty)) return Seq.empty
    val mustSets = accums.flatMap(_._2.mustSets)
    val candidates: Set[Long] =
      if (mustSets.nonEmpty) mustSets.reduce(_ intersect _)
      else accums.flatMap { case (m, a) => m.candidateDocs(a.contribs) }.toSet
    val notDocs = accums.flatMap(_._2.notDocs).toSet
    (candidates -- notDocs).toSeq.map { id =>
      val pairs = accums
        .flatMap { case (m, a) => m.pairsFor(id, a.contribs) }.sorted
      Hit(id, pairs.foldLeft(0.0)(_ + _._2))
    }
  }

  /** `mode` is the model's query-time analyzer (Tokenizer.Text /
    * Keyword) — a keyword-field model must analyze QUERIES with the
    * keyword tokenizer too, or punctuation-only clauses diverge from
    * the engine (text mode keeps "," as a term; keyword drops it). */
  final class Model(docs: Seq[Doc], k1: Double = 1.2, b: Double = 0.75,
                    mode: String = Tokenizer.Text) {
    private val nDocs: Long = docs.size.toLong
    private val avgdl: Double =
      if (nDocs == 0) 0.0 else docs.map(_.tokens.size.toLong).sum.toDouble / nDocs
    private val dl: Map[Long, Int] = docs.map(d => d.docId -> d.tokens.size).toMap
    /** term → docId → tf */
    private val postings: Map[String, Map[Long, Int]] =
      docs.flatMap(d => d.tokens.groupBy(identity).map { case (t, g) => (t, d.docId, g.size) })
        .groupBy(_._1)
        .map { case (t, rows) => t -> rows.map(r => r._2 -> r._3).toMap }
    private val byId: Map[Long, Doc] = docs.map(d => d.docId -> d).toMap

    def df(term: String): Long = postings.get(term).map(_.size.toLong).getOrElse(0L)

    private def idf(term: String): Double = {
      val d = df(term)
      math.log(1.0 + (nDocs - d + 0.5) / (d + 0.5))
    }

    def analyze(query: String, dict: SynonymDict): Seq[String] =
      StringAnalysis.terms(query, mode, dict)
        .distinct.sorted

    /** All matches with scores; contributions summed in ascending term
      * order (the shared determinism contract). `minShouldMatch` (OR
      * mode): a doc must match at least that many distinct terms. */
    def scoreAll(terms: Seq[String], conjunctive: Boolean,
                 filter: Doc => Boolean = _ => true,
                 minShouldMatch: Int = 0): Seq[Hit] = {
      val ts = terms.distinct.sorted
      if (ts.isEmpty) return Seq.empty
      if (conjunctive && ts.exists(df(_) == 0L)) return Seq.empty
      val perTerm = ts.flatMap(t => postings.get(t).map(t -> _))
      val candidates: Seq[Long] =
        if (conjunctive)
          perTerm.map(_._2.keySet).reduceOption((a, b) => a intersect b)
            .getOrElse(Set.empty).toSeq
        else perTerm.flatMap(_._2.keys).distinct
      candidates
        .filter(id => conjunctive || minShouldMatch <= 0 ||
          perTerm.count(_._2.contains(id)) >= minShouldMatch)
        .filter(id => filter(byId(id)))
        .map { id =>
          var s = 0.0
          perTerm.foreach { case (t, post) =>
            post.get(id).foreach { tf =>
              s += idf(t) * (tf * (k1 + 1.0)) /
                (tf + k1 * ((1.0 - b) + b * dl(id) / avgdl))
            }
          }
          Hit(id, s)
        }
    }

    def topK(terms: Seq[String], k: Int, start: Int = 0,
             conjunctive: Boolean = true,
             filter: Doc => Boolean = _ => true): Seq[Hit] =
      scoreAll(terms, conjunctive, filter)
        .sortBy(h => (-h.score, h.docId))
        .slice(start, start + k)

    /** Mixed MUST/SHOULD BooleanQuery scoring: docs containing EVERY
      * must term score over must ∪ should contributions (Lucene Occur
      * semantics; must ∅ = pure disjunction, should ∅ = pure
      * conjunction). Contributions still sum in ascending term order. */
    def scoreBoolean(must: Seq[String], should: Seq[String],
                     filter: Doc => Boolean = _ => true): Seq[Hit] = {
      val m = must.distinct.sorted
      val ts = (must ++ should).distinct.sorted
      if (ts.isEmpty) return Seq.empty
      if (m.exists(df(_) == 0L)) return Seq.empty
      val perTerm = ts.flatMap(t => postings.get(t).map(t -> _))
      val candidates: Seq[Long] =
        if (m.isEmpty) perTerm.flatMap(_._2.keys).distinct
        else m.map(t => postings(t).keySet).reduce((a, b) => a intersect b)
          .toSeq
      candidates.filter(id => filter(byId(id))).map { id =>
        var s = 0.0
        perTerm.foreach { case (t, post) =>
          post.get(id).foreach { tf =>
            s += idf(t) * (tf * (k1 + 1.0)) /
              (tf + k1 * ((1.0 - b) + b * dl(id) / avgdl))
          }
        }
        Hit(id, s)
      }
    }

    /** The phrase analysis chain with order and duplicates preserved
      * (positions are over the expanded token stream — the contract
      * shared with the engine's positional postings). */
    def analyzePhrase(phrase: String, dict: SynonymDict): Seq[String] =
      StringAnalysis.terms(phrase, mode, dict)

    /** DocIds with an ordered within-slop alignment: positions
      * p_0 < … < p_{m-1} with tokens(p_j) == terms(j) and every gap
      * p_j − p_{j−1} ≤ 1 + slop. Per-gap proximity — slop = 0 is exact
      * adjacency (∃p ∀j tokens(p+j) == terms(j)); deliberately NOT
      * Lucene's total-edit-distance slop (this model IS the contract). */
    def phraseMatches(orderedTerms: Seq[String], slop: Int = 0): Seq[Long] =
      if (orderedTerms.isEmpty) Seq.empty
      else docs.filter { d =>
        def from(j: Int, prev: Int): Boolean =
          j == orderedTerms.size ||
            ((prev + 1) to math.min(prev + 1 + slop, d.tokens.size - 1))
              .exists(p => d.tokens(p) == orderedTerms(j) && from(j + 1, p))
        d.tokens.indices.exists(p0 =>
          d.tokens(p0) == orderedTerms.head && from(1, p0))
      }.map(_.docId)

    /** Phrase top-k: phrase-matching docs scored as conjunctive BM25
      * over the DISTINCT phrase terms (term-ordered fold — the same
      * shared determinism contract as every other scoring path). */
    def phraseTopK(orderedTerms: Seq[String], k: Int,
                   start: Int = 0, slop: Int = 0): Seq[Hit] = {
      val matched = phraseMatches(orderedTerms, slop).toSet
      topK(orderedTerms.distinct, k, start, conjunctive = true,
        filter = d => matched.contains(d.docId))
    }

    /** Multi-term-query expansion (PrefixQuery/WildcardQuery/FuzzyQuery
      * analog): every dictionary term matching `pred`, ascending. The
      * expanded set scores as ONE disjunctive BooleanQuery (each term
      * its own idf — the scoring boolean rewrite). */
    def expandTerms(pred: String => Boolean): Seq[String] =
      postings.keys.filter(pred).toSeq.sorted

    /** More-like-this interesting-term selection: the source doc's
      * terms ranked by round(tf · idf, 6) descending, term ascending on
      * ties (rounded so the rank is portable across ln
      * implementations); top `maxQueryTerms`. */
    def mltTerms(sourceId: Long, maxQueryTerms: Int): Seq[String] =
      byId(sourceId).tokens.groupBy(identity).toSeq
        .map { case (t, g) =>
          (t, BigDecimal(g.size * idf(t))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .sortBy { case (t, w) => (-w, t) }
        .take(maxQueryTerms).map(_._1)

    /** Parsed-query scoring twin of the engine's
      * [[graft.query.Searcher.scoreParsed]] (Lucene clause semantics):
      * candidates = ∩ over MUST clauses (term = contains the analyzed
      * term, each its own MUST; expansion = contains ANY expanded term;
      * phrase = the alignment) minus ∪ MUST_NOT; score = Σ over
      * positive clauses of boost × the clause's per-term contributions
      * (a phrase contributes only on aligned docs), with the
      * (term, contrib) pairs sorted ascending before the sum — the
      * engine's exact fold order. Pure-NOT or MatchNoDocs ⇒ empty. */
    def scoreParsed(clauses: Seq[graft.query.QueryParser.Clause],
                    dict: SynonymDict,
                    filter: Doc => Boolean = _ => true): Seq[Hit] = {
      val a = parsedAccum(clauses, dict)
      if (a.matchNone || a.contribs.isEmpty) return Seq.empty
      val candidates: Set[Long] =
        if (a.mustSets.nonEmpty) a.mustSets.reduce(_ intersect _)
        else candidateDocs(a.contribs)
      (candidates -- a.notDocs).toSeq.filter(id => filter(byId(id))).map {
        id =>
          val parts = pairsFor(id, a.contribs).sorted
          Hit(id, parts.foldLeft(0.0)(_ + _._2))
      }
    }

    /** Per-model accumulation of a parsed clause subset — the reusable
      * piece behind [[scoreParsed]] and the cross-field
      * [[GoldenBM25.scoreParsedMulti]]. `contribs` = (weight, terms,
      * phrase-alignment restriction) contribution groups. */
    private[golden] final case class ParsedAccum(
      contribs: Seq[(Double, Seq[String], Option[Set[Long]])],
      mustSets: Seq[Set[Long]],
      notDocs: Set[Long],
      matchNone: Boolean)

    private[golden] def docsWith(t: String): Set[Long] =
      postings.getOrElse(t, Map.empty).keySet
    private[golden] def docsWithAny(ts: Seq[String]): Set[Long] =
      ts.flatMap(t => postings.getOrElse(t, Map.empty).keys).toSet

    private[golden] def candidateDocs(
        contribs: Seq[(Double, Seq[String], Option[Set[Long]])]): Set[Long] =
      contribs.flatMap { case (_, ts, r) => r.getOrElse(docsWithAny(ts)) }
        .toSet

    /** This model's (term, weighted contrib) pairs of `id` — UNSORTED;
      * the caller folds after sorting (cross-field callers merge several
      * models' pairs first). */
    private[golden] def pairsFor(id: Long,
        contribs: Seq[(Double, Seq[String], Option[Set[Long]])])
        : Seq[(String, Double)] =
      contribs.flatMap { case (w, ts, restrict) =>
        if (restrict.exists(!_.contains(id))) Nil
        else ts.flatMap(t =>
          postings.getOrElse(t, Map.empty).get(id).map { tf =>
            (t, w * (idf(t) * (tf * (k1 + 1.0)) /
              (tf + k1 * ((1.0 - b) + b * dl(id) / avgdl))))
          })
      }

    private[golden] def parsedAccum(
        clauses: Seq[graft.query.QueryParser.Clause],
        dict: SynonymDict): ParsedAccum = {
      import graft.query.QueryParser._
      import scala.collection.mutable.ArrayBuffer
      // (weight, terms, restrictTo): contribution groups; restrictTo =
      // the phrase alignment set when present
      val contribs = ArrayBuffer.empty[(Double, Seq[String], Option[Set[Long]])]
      val mustSets = ArrayBuffer.empty[Set[Long]]
      val notDocs = scala.collection.mutable.Set.empty[Long]
      var matchNo = false
      clauses.foreach { c =>
        val w = c.boost
        c match {
          case TermQ(text, occur, _) =>
            val ts = analyze(text, dict)
            occur match {
              case MustNot => notDocs ++= docsWithAny(ts)
              case Must => ts.foreach { t =>
                if (df(t) == 0) matchNo = true
                else { mustSets += docsWith(t); contribs += ((w, Seq(t), None)) }
              }
              case Should =>
                ts.foreach(t => contribs += ((w, Seq(t), None)))
            }
          case PhraseQ(text, slop, occur, _) =>
            val ordered = analyzePhrase(text, dict)
            if (ordered.nonEmpty) {
              val dts = ordered.distinct.sorted
              val present = dts.forall(df(_) > 0)
              lazy val m = phraseMatches(ordered, slop).toSet
              occur match {
                case MustNot => if (present) notDocs ++= m
                case Must =>
                  if (!present) matchNo = true
                  else { mustSets += m; contribs += ((w, dts, Some(m))) }
                case Should => if (present) contribs += ((w, dts, Some(m)))
              }
            }
          case GroupQ(children, occur, gb) =>
            // one any-of requirement: member contributions keep their own
            // (boost × group boost) weights; the group's doc set is the
            // union of member doc sets; unsatisfiable members drop out
            val members: Seq[((Double, Seq[String], Option[Set[Long]]),
                              Set[Long])] =
              children.flatMap { ch =>
                val w2 = ch.boost * gb
                ch match {
                  case TermQ(text, _, _) =>
                    analyze(text, dict).flatMap(t =>
                      if (df(t) == 0) Nil
                      else Seq(((w2, Seq(t),
                        None: Option[Set[Long]]), docsWith(t))))
                  case PhraseQ(text, slop, _, _) =>
                    val ordered = analyzePhrase(text, dict)
                    val dts = ordered.distinct.sorted
                    if (ordered.isEmpty || !dts.forall(df(_) > 0)) Nil
                    else {
                      val m = phraseMatches(ordered, slop).toSet
                      Seq(((w2, dts, Some(m)), m))
                    }
                  case _: GroupQ => sys.error("nested group — parser bug")
                  case exp =>
                    val ts = expandClause(exp)
                    if (ts.isEmpty) Nil
                    else Seq(((w2, ts, None), docsWithAny(ts)))
                }
              }
            // engine parity: a MUST group dies only when SOME member
            // actually registered (analyzed to something) and none are
            // satisfiable; a group whose EVERY member analyzed to
            // nothing is DROPPED like any other empty-analysis clause
            // (Searcher's lazyReq never allocates its requirement)
            val anyRegistered = children.exists {
              case TermQ(text, _, _) => analyze(text, dict).nonEmpty
              case PhraseQ(text, _, _, _) => analyzePhrase(text, dict).nonEmpty
              case _ => true // expansion predicates always register
            }
            occur match {
              case MustNot => notDocs ++= members.flatMap(_._2)
              case Must =>
                if (members.isEmpty) { if (anyRegistered) matchNo = true }
                else {
                  mustSets += members.flatMap(_._2).toSet
                  contribs ++= members.map(_._1)
                }
              case Should => contribs ++= members.map(_._1)
            }
          case FieldQ(_, _) =>
            sys.error("field clause reached a single-model accum — " +
              "use GoldenBM25.scoreParsedMulti")
          case exp =>
            val ts = expandClause(exp)
            exp.occur match {
              case MustNot => notDocs ++= docsWithAny(ts)
              case Must =>
                if (ts.isEmpty) matchNo = true
                else { mustSets += docsWithAny(ts); contribs += ((w, ts, None)) }
              case Should => if (ts.nonEmpty) contribs += ((w, ts, None))
            }
        }
      }
      ParsedAccum(contribs.toSeq, mustSets.toSeq, notDocs.toSet, matchNo)
    }

    /** Expansion-clause dictionary twin (independent predicate
      * implementations — the engine evaluates Column predicates, this
      * evaluates plain Scala). */
    private def expandClause(c: graft.query.QueryParser.Clause): Seq[String] = {
      import graft.query.QueryParser._
      c match {
        case PrefixQ(p, _, _) =>
          expandTerms(_.startsWith(Tokenizer.foldCase(p.trim)))
        case WildcardQ(pat, _, _) =>
          val folded = Tokenizer.foldCase(pat.trim)
          val rx = folded.map {
            case '*' => ".*"
            case '?' => "."
            case ch => java.util.regex.Pattern.quote(ch.toString)
          }.mkString
          val p = java.util.regex.Pattern.compile("^" + rx + "$")
          expandTerms(t => p.matcher(t).matches)
        case FuzzyQ(t0, e, _, _) =>
          val t = Tokenizer.foldCase(t0.trim)
          expandTerms(term => GoldenBM25.levenshtein(term, t) <= e)
        case RegexpQ(p0, _, _) =>
          val p = java.util.regex.Pattern.compile("^(?:" + p0.trim + ")$")
          expandTerms(t => p.matcher(t).matches)
        case RangeQ(lo, hi, il, ih, _, _) =>
          val l = lo.map(x => Tokenizer.foldCase(x.trim)).filter(_.nonEmpty)
          val h = hi.map(x => Tokenizer.foldCase(x.trim)).filter(_.nonEmpty)
          expandTerms(t => l.forall(v => if (il) t >= v else t > v) &&
            h.forall(v => if (ih) t <= v else t < v))
        case _ => Seq.empty
      }
    }

    /** Highlighter contract: first 1-based token position holding any
      * query term, and the tokens [max(1, pos−window), min(len,
      * pos+window)] joined by spaces. */
    def highlight(docId: Long, terms: Set[String],
                  window: Int = 2): (Long, String) = {
      val toks = byId(docId).tokens
      val p0 = toks.indexWhere(terms.contains)
      require(p0 >= 0, s"doc $docId contains no query term")
      val lo = math.max(0, p0 - window)
      val hi = math.min(toks.size - 1, p0 + window)
      ((p0 + 1).toLong, toks.slice(lo, hi + 1).mkString(" "))
    }
  }

  /** Plain DP Levenshtein (the fuzzy-expansion golden twin of the
    * engine's built-in `levenshtein`). Over code POINTS, not UTF-16
    * units: Spark's UTF8String counts a supplementary character
    * (surrogate pair) as ONE edit unit. */
  def levenshtein(a: String, b: String): Int = {
    val ca = a.codePoints().toArray
    val cb = b.codePoints().toArray
    val d = Array.tabulate(ca.length + 1, cb.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to ca.length; j <- 1 to cb.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (ca(i - 1) == cb(j - 1)) 0 else 1))
    d(ca.length)(cb.length)
  }
}
