package graft.query

import graft.SparkTestBase
import graft.analysis.SynonymDict
import graft.golden.GoldenBM25
import graft.index.{IndexBuilder, WebtextGen}
import org.scalatest.funsuite.AnyFunSuite

/** Phrase queries over positional postings: the engine must be rank- and
  * score-identical to the golden model's phrase semantics (∃p ∀j:
  * tokens(p+j) == terms(j) over the expanded stream; matching docs score
  * as conjunctive BM25 over the distinct phrase terms). */
class PhraseSpec extends AnyFunSuite with SparkTestBase {

  private val Seed = 42L
  private val NDocs = 600
  private val K = 10

  private lazy val dict = SynonymDict.parse(resourceLines("/synonyms.txt"))

  private lazy val root: String = {
    val dir = tmpDir("graft-posidx-")
    val cfg = IndexBuilder.IndexConfig(numParts = 8, rangeParts = 4,
      saltDf = 200, saltFanout = 4, indexPositions = true)
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, NDocs), dict,
      dir, cfg, inputSnapshot = s"webtext(seed=$Seed,n=$NDocs)")
    dir
  }

  private lazy val searcher = new Searcher(spark, root, dict)
  private lazy val goldenDocs = GoldenBM25.docsFromWebtext(Seed, NDocs, dict)
  private lazy val golden = new GoldenBM25.Model(goldenDocs)

  private def enginePhrase(phrase: String, start: Int = 0): Seq[(Long, Double)] =
    searcher.searchPhrase(phrase, K, start)
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def goldenPhrase(phrase: String, start: Int = 0): Seq[(Long, Double)] =
    golden.phraseTopK(golden.analyzePhrase(phrase, dict), K, start)
      .map(h => (h.docId, h.score))

  test("phrase top-k is rank- and score-identical to golden, on phrases " +
    "guaranteed present (sampled from corpus bigrams/trigrams) and fixed ones") {
    // bigrams/trigrams lifted from actual docs — guaranteed hits
    val sampled = goldenDocs.filter(_.tokens.size >= 8).take(6).flatMap { d =>
      Seq(d.tokens.slice(3, 5).mkString(" "), d.tokens.slice(2, 5).mkString(" "))
    }
    val fixed = Seq("spark index", "index build", "spark spark",
      "zzzq unknownterm", "search")
    val failures = (sampled ++ fixed).distinct.flatMap { ph =>
      val e = enginePhrase(ph)
      val g = goldenPhrase(ph)
      if (e == g) None
      else Some(s"'$ph': engine=${e.take(3)} golden=${g.take(3)} " +
        s"(sizes ${e.size}/${g.size})")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    val withHits = sampled.count(ph => goldenPhrase(ph).nonEmpty)
    assert(withHits == sampled.size, "sampled phrases must all match")
  }

  test("phrase matching is stricter than conjunctive AND (adjacency matters)") {
    // find a bigram pair that co-occurs in some doc non-adjacently
    val ph = goldenDocs.filter(_.tokens.size >= 8).head.tokens.slice(3, 5)
    val andSet = golden.scoreAll(ph.distinct.sorted, conjunctive = true)
      .map(_.docId).toSet
    val phraseSet = golden.phraseMatches(ph).toSet
    assert(phraseSet.subsetOf(andSet))
    val engineSet = searcher.searchPhrase(ph.mkString(" "), NDocs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(engineSet == phraseSet)
  }

  test("sloppy phrase is rank- and score-identical to golden for " +
    "slop ∈ {0,1,2}, and slop strictly widens a skip-one pair") {
    // token pairs/triples lifted from docs at gaps 1 and 2: (t3,t5)
    // needs slop ≥ 1, (t2,t4,t6) needs slop ≥ 1 on both gaps
    val sampled = goldenDocs.filter(_.tokens.size >= 10).take(6).flatMap { d =>
      Seq(d.tokens.slice(3, 5), Seq(d.tokens(3), d.tokens(5)),
        Seq(d.tokens(2), d.tokens(4), d.tokens(6)))
    }.map(_.mkString(" ")).distinct
    val failures = for {
      ph <- sampled ++ Seq("spark index", "spark spark")
      slop <- 0 to 2
      e = searcher.searchPhrase(ph, K, slop = slop)
        .select("doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      g = golden.phraseTopK(golden.analyzePhrase(ph, dict), K, slop = slop)
        .map(h => (h.docId, h.score))
      if e != g
    } yield s"'$ph' slop=$slop: engine=${e.take(3)} golden=${g.take(3)}"
    assert(failures.isEmpty, failures.mkString("\n"))
    // monotone widening: every slop-0 match stays a slop-2 match, and at
    // least one skip-one pair matches at slop 1 but not at slop 0
    // pick a doc whose skip-one pair re-analyzes to itself, so engine
    // analysis and the raw golden token pair agree exactly
    val d = goldenDocs.filter(_.tokens.size >= 10).find { dd =>
      val pair = Seq(dd.tokens(3), dd.tokens(5))
      golden.analyzePhrase(pair.mkString(" "), dict) == pair
    }.get
    val skipOne = Seq(d.tokens(3), d.tokens(5))
    val m0 = golden.phraseMatches(skipOne, 0).toSet
    val m1 = golden.phraseMatches(skipOne, 1).toSet
    assert(m0.subsetOf(m1) && m1.contains(d.docId))
    val e1 = searcher.searchPhrase(skipOne.mkString(" "), NDocs, slop = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(e1 == m1)
  }

  test("phrase pagination and single-term degenerate case match golden") {
    val d = goldenDocs.filter(_.tokens.size >= 4).head
    val one = d.tokens(1)
    assert(enginePhrase(one) == goldenPhrase(one)) // 1-term = presence
    val bigram = goldenDocs.flatMap(_.tokens.sliding(2).toSeq)
      .groupBy(identity).maxBy(_._2.size)._1 // most frequent bigram
    val ph = bigram.mkString(" ")
    assert(goldenPhrase(ph, start = 0).nonEmpty)
    assert(enginePhrase(ph, start = 5) == goldenPhrase(ph, start = 5))
  }

  test("phrase across APPENDED positional segments matches golden over " +
    "the combined corpus (per-segment blobs, global statistics)") {
    val dir = tmpDir("graft-posinc-")
    val cfg = IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2,
      indexPositions = true)
    val n1 = 250
    val n2 = 150
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 5L, n1), dict, dir, cfg)
    // disjoint url space: different seed ⇒ fresh pages, ids continue
    val extra = WebtextGen.df(spark, 6L, n2)
      .withColumn("url", org.apache.spark.sql.functions
        .concat(org.apache.spark.sql.functions.lit("x-"),
          org.apache.spark.sql.functions.col("url")))
    IndexBuilder.appendSegment(spark, extra, dict, dir, cfg)
    val s = new Searcher(spark, dir, dict)
    try {
      assert(s.positionsIndexed)
      // golden over BOTH segments with the engine's id rule
      val seg1 = WebtextGen.pages(5L, n1).map(p => (p.url, p))
      val seg2 = WebtextGen.pages(6L, n2).map(p => ("x-" + p.url, p))
      def docsOf(seg: Seq[(String, graft.index.WebtextGen.Page)], base: Long) =
        seg.sortBy(_._1).zipWithIndex.map { case ((u, p), i) =>
          val text = if (p.text != null) p.text
            else graft.analysis.TextExtract.extractText(p.html)
          GoldenBM25.Doc(base + i,
            u, p.lang, graft.golden.StringAnalysis.terms(text,
              graft.analysis.Tokenizer.Text, dict))
        }
      val g = new GoldenBM25.Model(docsOf(seg1, 0L) ++ docsOf(seg2, n1.toLong))
      val phrases = Seq("spark index", "index build", "search")
      for (ph <- phrases) {
        val e = s.searchPhrase(ph, 10).select("doc_id", "score")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val gg = g.phraseTopK(g.analyzePhrase(ph, dict), 10)
          .map(h => (h.docId, h.score))
        assert(e == gg, s"multi-segment phrase '$ph'")
      }
    } finally s.close()
  }

  test("searchPhrase on a position-less index fails loudly") {
    val dir = tmpDir("graft-noposidx-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 7L, 50), dict, dir,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2))
    val s = new Searcher(spark, dir, dict)
    try {
      assert(!s.positionsIndexed)
      val e = intercept[IllegalArgumentException](s.searchPhrase("spark index", 5))
      assert(e.getMessage.contains("indexPositions"))
    } finally s.close()
  }

  test("BM25 top-k over the positional index is identical to the golden " +
    "model (positions must not perturb scoring)") {
    val failures = Seq("spark index", "big data", "search engine fast")
      .flatMap { q =>
        val e = searcher.search(q, K).select("doc_id", "score")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val g = golden.topK(golden.analyze(q, dict), K)
          .map(h => (h.docId, h.score))
        if (e == g) None else Some(q)
      }
    assert(failures.isEmpty, failures.mkString(","))
  }

  test("chain-join alignment (the head-term scale path) is rank- and " +
    "score-identical to the collect_list path and golden across slops") {
    // phraseJoinMinDf = 0 forces EVERY phrase through phraseChainAligned
    val chained = new Searcher(spark, root, dict, phraseJoinMinDf = 0L)
    try {
      val sampled = goldenDocs.filter(_.tokens.size >= 8).take(4).flatMap { d =>
        Seq(d.tokens.slice(3, 5).mkString(" "), d.tokens.slice(2, 5).mkString(" "))
      }
      val fixed = Seq("spark index", "spark spark", "zzzq unknownterm", "search")
      val failures = for {
        ph <- (sampled ++ fixed).distinct
        slop <- 0 to 2
        c = chained.searchPhrase(ph, K, slop = slop)
          .select("doc_id", "score").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        l = searcher.searchPhrase(ph, K, slop = slop)
          .select("doc_id", "score").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        g = golden.phraseTopK(golden.analyzePhrase(ph, dict), K, slop = slop)
          .map(h => (h.docId, h.score))
        if c != l || c != g
      } yield s"'$ph' slop=$slop: chain=${c.take(3)} list=${l.take(3)} " +
        s"golden=${g.take(3)}"
      assert(failures.isEmpty, failures.mkString("\n"))
    } finally chained.close()
  }

  override def afterAll(): Unit = {
    searcher.close()
    super.afterAll()
  }
}
