package graft

import graft.analysis.{SynonymDict, Tokenizer}
import graft.codec.VarByte
import graft.golden.{GoldenBM25, StringAnalysis}
import graft.index.IndexBuilder
import graft.query.Searcher
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5.2.3):
  * codec round-trip, BM25 monotonicity, and — the heavyweight — engine ≡
  * golden model on RANDOM corpora and queries, not just the fixed set. */
class PropertySpec extends AnyFunSuite with SparkTestBase {

  /** Drive a Gen across 100 deterministic seeds (the scalatestplus
    * bridge is not in the offline cache; raw scalacheck Gens are). */
  private def forAllSeeded[T](gen: Gen[T], n: Int = 100)(body: T => Unit): Unit = {
    val params = Gen.Parameters.default
    (1 to n).foreach { i =>
      gen(params, Seed(i.toLong)).foreach(body)
    }
  }

  // --- codec: ∀ sorted posting lists, encode ∘ decode = id -------------

  private val postingListGen: Gen[(Array[Long], Array[Int], Array[Int])] =
    for {
      n <- Gen.chooseNum(0, 400)
      gaps <- Gen.listOfN(n, Gen.chooseNum(1L, 100000L))
      tfs <- Gen.listOfN(n, Gen.chooseNum(1, 1 << 20))
      dls <- Gen.listOfN(n, Gen.chooseNum(1, 1 << 16))
    } yield (gaps.scanLeft(0L)(_ + _).tail.toArray, tfs.toArray, dls.toArray)

  test("codec: encode∘decode = id; decodeForDocs = exact subset (∀)") {
    forAllSeeded(Gen.zip(postingListGen, Gen.chooseNum(1, 256))) {
      case ((ids, tfs, dls), bs) =>
        val blob = VarByte.encode(ids, tfs, dls, bs)
        val (d, t, l) = VarByte.decode(blob)
        assert(d.toSeq == ids.toSeq && t.toSeq == tfs.toSeq && l.toSeq == dls.toSeq)
        val subset = ids.zipWithIndex.filter(_._2 % 3 == 0).map(_._1)
        val (d2, _, _) = VarByte.decodeForDocs(blob, subset)
        assert(d2.toSeq == subset.toSeq)
    }
  }

  // --- BM25 monotonicity ------------------------------------------------

  test("BM25: contribution increases with tf, decreases with dl (∀)") {
    forAllSeeded(Gen.zip(Gen.chooseNum(1, 1000), Gen.chooseNum(1, 500),
      Gen.chooseNum(1.0, 500.0))) { case (tf, dl, avgdl) =>
      import graft.query.Wand.contrib
      val idf = 1.7
      assert(contrib(idf, tf + 1, dl, 1.2, 0.75, avgdl) >=
        contrib(idf, tf, dl, 1.2, 0.75, avgdl))
      assert(contrib(idf, tf, dl + 1, 1.2, 0.75, avgdl) <=
        contrib(idf, tf, dl, 1.2, 0.75, avgdl))
    }
  }

  // --- synonym expansion: greedy invariants -----------------------------

  test("synonyms: empty dict is identity; identity rules elided (∀)") {
    val tokenGen = Gen.listOf(Gen.oneOf("A", "B", "C", "D", "E")).map(_.toVector)
    forAllSeeded(tokenGen) { toks =>
      assert(StringAnalysis.expand(SynonymDict.empty, toks) == toks)
      val d = SynonymDict.parse(Seq("a => a", "b => b"))
      assert(d.isEmpty && StringAnalysis.expand(d, toks) == toks)
    }
  }

  // --- engine ≡ golden on random corpora (the expensive one) ------------

  test("engine top-k ≡ golden model on random small corpora and queries") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 3) {
      val nDocs = 20 + rnd.nextInt(40)
      val dict =
        if (trial % 2 == 0) SynonymDict.parse(Seq("alpha beta => fused"))
        else SynonymDict.empty
      // random pages through the REAL input shape
      val sp = spark
      import sp.implicits._
      val pages = (0 until nDocs).map { i =>
        val body = Vector.fill(3 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
        (f"https://r/$trial%d/$i%04d",
          new java.sql.Timestamp(1767225600000L + i * 1000),
          null: Array[Byte], body, "en")
      }.toDF("url", "warc_ts", "html", "text", "lang")
      val root = tmpDir(s"graft-prop-$trial-")
      IndexBuilder.buildFull(spark, pages, dict, root,
        IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2, saltDf = 10,
          saltFanout = 2), s"prop-$trial")
      // golden model over the same rows (same id rule: url rank order)
      val rows = pages.collect().sortBy(_.getString(0))
      val docs = rows.zipWithIndex.map { case (r, i) =>
        GoldenBM25.Doc(i.toLong, r.getString(0), r.getString(4),
          StringAnalysis.terms(r.getString(3), Tokenizer.Text, dict))
      }.toVector
      val golden = new GoldenBM25.Model(docs)
      val s = new Searcher(spark, root, dict)
      try {
        val queries = Seq("alpha", "beta gamma", "alpha beta",
          "kappa iota theta", "zeta unknownterm")
        for (q <- queries; conj <- Seq(true, false)) {
          val terms = golden.analyze(q, dict)
          val g = golden.topK(terms, 10, conjunctive = conj)
            .map(h => (h.docId, h.score))
          val e = s.search(q, 10, conjunctive = conj)
            .select("doc_id", "score").collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq
          val w = s.searchWand(q, 10, conjunctive = conj)
            .select("doc_id", "score").collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq
          assert(e == g, s"exact path trial=$trial q=$q conj=$conj")
          assert(w == g, s"wand path trial=$trial q=$q conj=$conj")
        }
      } finally s.close()
    }
  }

  test("phrase and MUST_NOT paths ≡ golden on random corpora (positional " +
    "index, random phrases sampled from documents)") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(99887766L)
    for (trial <- 1 to 2) {
      val nDocs = 25 + rnd.nextInt(30)
      val sp = spark
      import sp.implicits._
      val bodies = (0 until nDocs).map(_ =>
        Vector.fill(4 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))))
      val pages = bodies.zipWithIndex.map { case (b, i) =>
        (f"https://p/$trial%d/$i%04d",
          new java.sql.Timestamp(1767225600000L + i * 1000),
          null: Array[Byte], b.mkString(" "), "en")
      }.toDF("url", "warc_ts", "html", "text", "lang")
      val root = tmpDir(s"graft-phraseprop-$trial-")
      IndexBuilder.buildFull(spark, pages, SynonymDict.empty, root,
        IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2, saltDf = 10,
          saltFanout = 2, indexPositions = true), s"phraseprop-$trial")
      val rows = pages.collect().sortBy(_.getString(0))
      val docs = rows.zipWithIndex.map { case (r, i) =>
        GoldenBM25.Doc(i.toLong, r.getString(0), r.getString(4),
          StringAnalysis.tokenize(r.getString(3)).toVector)
      }.toVector
      val golden = new GoldenBM25.Model(docs)
      val s = new Searcher(spark, root, SynonymDict.empty)
      try {
        // phrases sampled from real docs (guaranteed hits) + misses
        val sampled = (1 to 6).map { _ =>
          val d = docs(rnd.nextInt(docs.size))
          val m = 1 + rnd.nextInt(math.min(3, d.tokens.size))
          val p = rnd.nextInt(d.tokens.size - m + 1)
          d.tokens.slice(p, p + m).mkString(" ")
        }
        for (ph <- sampled ++ Seq("alpha alpha alpha alpha alpha alpha",
          "kappa zzznope")) {
          val g = golden.phraseTopK(golden.analyzePhrase(ph, SynonymDict.empty), 10)
            .map(h => (h.docId, h.score))
          val e = s.searchPhrase(ph, 10).select("doc_id", "score")
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          assert(e == g, s"phrase trial=$trial '$ph'")
        }
        // sloppy phrases: sampled adjacents at slop 1-2 (must stay
        // golden-identical as the match set widens) plus skip-one pairs
        // that REQUIRE slop ≥ 1 to match their source doc
        val gappedPool = docs.filter(_.tokens.size >= 5)
        val gapped = (1 to 4).map { _ =>
          val d = gappedPool(rnd.nextInt(gappedPool.size))
          val p = rnd.nextInt(d.tokens.size - 3)
          Seq(d.tokens(p), d.tokens(p + 2)).mkString(" ")
        }
        for (ph <- sampled.take(3) ++ gapped; slop <- 0 to 2) {
          val g = golden.phraseTopK(
            golden.analyzePhrase(ph, SynonymDict.empty), 10, slop = slop)
            .map(h => (h.docId, h.score))
          val e = s.searchPhrase(ph, 10, slop = slop)
            .select("doc_id", "score")
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          assert(e == g, s"sloppy phrase trial=$trial '$ph' slop=$slop")
        }
        // MUST_NOT: exact and WAND-entry paths vs golden set difference
        for ((q, not) <- Seq(("alpha", "beta"), ("gamma delta", "alpha"),
          ("iota", "zzznope"))) {
          val terms = golden.analyze(q, SynonymDict.empty)
          val notDocs = golden.scoreAll(
            golden.analyze(not, SynonymDict.empty), conjunctive = false)
            .map(_.docId).toSet
          val g = golden.topK(terms, 10, conjunctive = true,
            filter = d => !notDocs.contains(d.docId)).map(h => (h.docId, h.score))
          val e = s.search(q, 10, notQuery = Some(not))
            .select("doc_id", "score").collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq
          val w = s.searchWand(q, 10, notQuery = Some(not))
            .select("doc_id", "score").collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq
          assert(e == g, s"NOT exact trial=$trial q=$q not=$not")
          assert(w == g, s"NOT wand trial=$trial q=$q not=$not")
        }
      } finally s.close()
    }
  }
}
