package graft.analysis

import graft.golden.StringAnalysis
import org.scalatest.funsuite.AnyFunSuite

class SynonymSpec extends AnyFunSuite {

  private def dict(lines: String*): SynonymDict = SynonymDict.parse(lines)
  private def run(d: SynonymDict, s: String): Seq[String] =
    StringAnalysis.terms(s, Tokenizer.Text, d)

  test("greedy earliest-longest match, scan resumes after matched span " +
    "(SynonymFilter.java parse(): inputSkipCount = matchInputLength)") {
    val d = dict("a => x", "a b => y", "b c d => z")
    assert(run(d, "a b c d e") == Seq("Y", "C", "D", "E"))
    assert(run(d, "a c d e") == Seq("X", "C", "D", "E"))
    assert(run(d, "e b c d") == Seq("E", "Z"))
  }

  test("unmatched tokens pass through") {
    val d = dict("a => x")
    assert(run(d, "p q r") == Seq("P", "Q", "R"))
  }

  test("identity rules elided at build (SynonymMap.java:211-213)") {
    val d = dict("foo => foo")
    assert(d.isEmpty)
    assert(run(d, "foo bar") == Seq("FOO", "BAR"))
  }

  test("duplicate rules deduped (SynonymMap.java:92-98)") {
    val d = dict("a => x", "a => x")
    assert(d.entries(Vector("A")).outputs.size == 1)
  }

  test("multiple outputs stack in rule order") {
    val d = dict("a => x", "a => w")
    assert(run(d, "a") == Seq("X", "W"))
  }

  test("equivalence class keeps original and stacks all other members") {
    val d = dict("nike:EN,나이키:KO")
    assert(run(d, "nike shoes") == Seq("NIKE", "나이키", "SHOES"))
    assert(run(d, "나이키 신발") == Seq("나이키", "NIKE", "신발"))
  }

  test("language tag split on LAST ':' and stripped from emitted term " +
    "(SynonymMap.java:54-59, SynonymFilter.java:534-545)") {
    val (p, l) = SynonymDict.splitLang("a:b:KO")
    assert(p == "a:b" && l.contains("KO"))
    val (p2, l2) = SynonymDict.splitLang("plain")
    assert(p2 == "plain" && l2.isEmpty)
    val d = dict("spark => 스파크:KO")
    assert(run(d, "spark sql") == Seq("스파크", "SQL"))
    assert(d.entries(Vector("SPARK")).outputs.head.lang.contains("KO"))
  }

  test("match is case-folded (dictionary and input both upper)") {
    val d = dict("Nike => Adidas")
    assert(run(d, "nIkE") == Seq("ADIDAS"))
  }

  test("multi-word key folds whitespace correctly") {
    val d = dict("new   york => nyc")
    assert(run(d, "in New York city") == Seq("IN", "NYC", "CITY"))
  }

  test("comments and blank lines ignored") {
    val d = dict("# full-line comment", "", "a => b # trailing comment")
    assert(run(d, "a") == Seq("B"))
  }

  test("empty dict is identity") {
    assert(run(SynonymDict.empty, "a b") == Seq("A", "B"))
  }
}
