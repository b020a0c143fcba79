package graft.analysis

import graft.golden.StringAnalysis
import org.scalatest.funsuite.AnyFunSuite

class TokenizerSpec extends AnyFunSuite {
  private def tokenize(text: String): Array[String] =
    Analyzer.terms(text, Tokenizer.Text, SynonymDict.empty)

  test("whitespace split + uppercase fold") {
    assert(tokenize("the Quick\tfox\n jumps").toSeq ==
      Seq("THE", "QUICK", "FOX", "JUMPS"))
  }

  test("no zero-length tokens (SynonymMap.java:368-370 contract)") {
    assert(tokenize("  a   b  ").toSeq == Seq("A", "B"))
    assert(tokenize("   ").isEmpty)
    assert(tokenize("").isEmpty)
    assert(tokenize(null).isEmpty)
  }

  test("codepoint-wise Character.toUpperCase: ß stays ß, locale-independent i→I") {
    assert(tokenize("straße").toSeq == Seq("STRAßE"))
    assert(tokenize("istanbul").toSeq == Seq("ISTANBUL"))
  }

  test("unicode whitespace (U+3000 ideographic space) splits") {
    assert(tokenize("나이키　신발").toSeq == Seq("나이키", "신발"))
  }

  test("supplementary codepoints survive") {
    val t = tokenize("a𝐞b") // 𝐞 mathematical bold e
    assert(t.length == 1 && t(0).codePointCount(0, t(0).length) == 3)
  }

  test("normalizeSortKey: trim + fullwidth fold + upper") {
    assert(StringAnalysis.normalizeSortKey("  ｆｕｌｌ　width ") == "FULL WIDTH")
    assert(StringAnalysis.normalizeSortKey("ＡＢＣ！") == "ABC!")
    assert(StringAnalysis.normalizeSortKey(null) == null)
  }
}
