package graft.analysis

import graft.SparkTestBase
import graft.functions.GraftRuntime
import graft.golden.StringAnalysis
import graft.index.IndexBuilder
import graft.query.Searcher
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pins query-time analysis ([[Analyzer.terms]], the String entry
  * of the one analysis chain) to index-time analysis
  * (`GraftRuntime.tfPairs`, what the build stores as terms) for the same
  * text: a query can only match what the index wrote. */
class AnalyzerSpec extends AnyFunSuite with SparkTestBase {

  private val multiWord = SynonymDict.parse(Seq(
    "spark => apachespark", "join,merge", "big data => bigdata",
    "new york city => nyc", "nike:EN,나이키:KO"))

  private def indexTerms(text: String, mode: String,
                         dict: SynonymDict): Seq[String] = {
    val arr = GraftRuntime.tfPairs(dict, UTF8String.fromString(text), mode)
    (0 until arr.numElements())
      .map(arr.getStruct(_, 3).getUTF8String(0).toString).sorted
  }

  private def check(text: String, mode: String, dict: SynonymDict): Unit =
    assert(Analyzer.terms(text, mode, dict).distinct.sorted.toSeq ==
      indexTerms(text, mode, dict), s"input '$text' mode $mode")

  test("query terms ≡ index terms: edge cases, both modes, with and " +
    "without a multi-word synonym dict") {
    val cases = Seq("", "   ", "Spark", "big data in New York City",
      "BIG  data big\tDATA spark join", "merge:join a-b_c.d",
      "doc://src3/000042 path_x.y", "나이키　신발 NIKE", "straße ıstanbul",
      "a b 𐐨x")
    for (t <- cases; mode <- Seq(Tokenizer.Text, Tokenizer.Keyword);
         dict <- Seq(SynonymDict.empty, multiWord))
      check(t, mode, dict)
  }

  test("query terms ≡ index terms on random texts (both modes, both dicts)") {
    val vocab = Array("spark", "Join", "MERGE", "big", "data", "new", "york",
      "city", "nike", "나이키", "x-y", "ß", "9a", "doc://a/1")
    val seps = Array(" ", "  ", "\t", "　", "/")
    val rnd = new scala.util.Random(20261017)
    (1 to 300).foreach { _ =>
      val sb = new StringBuilder
      (0 until rnd.nextInt(16)).foreach { _ =>
        sb ++= vocab(rnd.nextInt(vocab.length)) ++= seps(rnd.nextInt(seps.length))
      }
      for (mode <- Seq(Tokenizer.Text, Tokenizer.Keyword);
           dict <- Seq(SynonymDict.empty, multiWord))
        check(sb.toString, mode, dict)
    }
  }

  test("the single-token fold is the tokenizer's fold") {
    val rnd = new scala.util.Random(3)
    (1 to 500).foreach { _ =>
      val sb = new java.lang.StringBuilder
      val len = 1 + rnd.nextInt(12)
      while (sb.length < len) {
        val cp = rnd.nextInt(0x10FFFF + 1)
        if (!(cp >= 0xD800 && cp <= 0xDFFF) && !Character.isWhitespace(cp))
          sb.appendCodePoint(cp)
      }
      val t = sb.toString
      assert(Analyzer.terms(t, Tokenizer.Text, SynonymDict.empty).toSeq ==
        Seq(Tokenizer.foldCase(t)), s"token '$t'")
    }
  }

  test("a lone surrogate analyzes to the '?' the index stored, so the " +
    "query matches (the String golden keeps the surrogate)") {
    val text = "caf\ud800e bar"
    assert(Analyzer.terms(text, Tokenizer.Text, SynonymDict.empty).toSeq ==
      Seq("CAF?E", "BAR"))
    assert(StringAnalysis.tokenize(text).toSeq == Seq("CAF\ud800E", "BAR"))
    val sp = spark
    import sp.implicits._
    val pages = Seq(
      ("https://s/1", new java.sql.Timestamp(0L), null: Array[Byte], text, "en"),
      ("https://s/2", new java.sql.Timestamp(0L), null: Array[Byte], "bar", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val root = tmpDir("graft-analyzer-")
    IndexBuilder.buildFull(spark, pages, SynonymDict.empty, root,
      IndexBuilder.IndexConfig(numParts = 2, rangeParts = 1), "surrogate")
    val s = new Searcher(spark, root)
    try {
      assert(s.search("caf\ud800e", 10).select("url").as[String].collect()
        .toSeq == Seq("https://s/1"))
    } finally s.close()
  }
}
