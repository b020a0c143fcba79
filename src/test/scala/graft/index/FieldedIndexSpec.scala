package graft.index

import graft.SparkTestBase
import graft.analysis.{Analyzer, SynonymDict, Tokenizer}
import graft.golden.{GoldenBM25, StringAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multi-field indexing with per-field analyzers: each field is its own
  * index + analyzer + statistics; cross-field AND composes on doc_id.
  * Verified against per-field golden models. */
class FieldedIndexSpec extends AnyFunSuite with SparkTestBase {

  private val Seed = 42L
  private val N = 400

  test("keyword analyzer: split on non-alphanumerics, uppercase fold") {
    def tokenize(s: String, mode: String) =
      Analyzer.terms(s, mode, SynonymDict.empty)
    assert(tokenize("https://site-3.example/page/123", Tokenizer.Keyword)
      .toSeq == Seq("HTTPS", "SITE", "3", "EXAMPLE", "PAGE", "123"))
    assert(tokenize("a_b c.d", Tokenizer.Keyword).toSeq ==
      Seq("A", "B", "C", "D"))
    assert(tokenize("", Tokenizer.Keyword).isEmpty)
    intercept[IllegalArgumentException](tokenize("x", "bogus"))
  }

  private lazy val reports: Map[String, IndexBuilder.BuildReport] = {
    FieldedIndex.buildFull(spark, WebtextGen.df(spark, Seed, N),
      Seq(
        FieldedIndex.FieldSpec("text", col("text"), html = col("html")),
        FieldedIndex.FieldSpec("url", col("url"),
          analyzer = Tokenizer.Keyword)),
      rootDir, IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2))
  }
  private lazy val rootDir: String = tmpDir("graft-fielded-")
  private def root: String = { reports; rootDir }

  test("single-pass build: the id-assignment shuffle runs once for the " +
    "whole field set, not once per field") {
    val assigns = reports.values.toSeq
      .flatMap(_.phases.map(_._1)).count(_ == "sort_dedup_assign")
    assert(assigns == 1, s"expected ONE shared sort_dedup_assign phase, " +
      s"got $assigns across ${reports.keySet}")
    // both fields saw the same deduped corpus
    assert(reports.values.map(_.docCount).toSet == Set(N.toLong))
  }

  private lazy val fs = new FieldedIndex.FieldedSearcher(spark, root,
    Seq(FieldedIndex.FieldSpec("text", col("text")),
      FieldedIndex.FieldSpec("url", col("url"),
        analyzer = Tokenizer.Keyword)))

  // per-field golden models over the same corpus and analyzers
  private lazy val pages = WebtextGen.pages(Seed, N)
  private def goldenDocs(tokens: WebtextGen.Page => Vector[String]) =
    pages.map(p => (p.url, p.lang, tokens(p)))
      .sortBy(_._1).zipWithIndex
      .map { case ((u, l, t), i) => GoldenBM25.Doc(i.toLong, u, l, t) }
      .toVector
  private lazy val goldenText = new GoldenBM25.Model(goldenDocs { p =>
    val text = if (p.text != null) p.text
      else graft.analysis.TextExtract.extractText(p.html)
    StringAnalysis.tokenize(text).toVector
  })
  private lazy val goldenUrl = new GoldenBM25.Model(goldenDocs(p =>
    StringAnalysis.tokenize(p.url, Tokenizer.Keyword).toVector),
    mode = Tokenizer.Keyword)

  test("single-field search through the url field's keyword analyzer is " +
    "rank- and score-identical to its golden model") {
    // the url analyzer is read back from the field's segment config
    assert(fs.searcher("url").analyzerMode == Tokenizer.Keyword)
    assert(fs.searcher("text").analyzerMode == Tokenizer.Text)
    for (q <- Seq("page 123", "site 7 example", "https")) {
      val e = fs.searchField("url", q, 10).select("doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val g = goldenUrl.topK(goldenUrl.analyze(q, SynonymDict.empty), 10)
        .map(h => (h.docId, h.score))
      assert(e == g, s"url query '$q'")
      assert(q != "page 123" || e.size == 1) // token 123 ⇒ exactly page/123
    }
  }

  test("cross-field AND: per-field scores summed in field order, " +
    "identical to the golden composition") {
    val e = fs.searchMulti(Map("text" -> "spark", "url" -> "7"), 10)
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val tScores = goldenText.scoreAll(
      goldenText.analyze("spark", SynonymDict.empty), conjunctive = true)
      .map(h => h.docId -> h.score).toMap
    val uScores = goldenUrl.scoreAll(
      goldenUrl.analyze("7", SynonymDict.empty), conjunctive = true)
      .map(h => h.docId -> h.score).toMap
    val g = (tScores.keySet intersect uScores.keySet).toSeq
      .map(id => (id, tScores(id) + uScores(id)))
      .sortBy { case (id, s) => (-s, id) }.take(10)
    assert(e == g)
    assert(e.nonEmpty)
  }

  test("query-time field boosts scale each field's exact BM25 inside the " +
    "field-ordered fold, bit-identical to the golden composition") {
    val boosts = Map("text" -> 2.5, "url" -> 1.0)
    val e = fs.searchMulti(Map("text" -> "spark", "url" -> "7"), 10,
        boosts = boosts)
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val tScores = goldenText.scoreAll(
      goldenText.analyze("spark", SynonymDict.empty), conjunctive = true)
      .map(h => h.docId -> h.score).toMap
    val uScores = goldenUrl.scoreAll(
      goldenUrl.analyze("7", SynonymDict.empty), conjunctive = true)
      .map(h => h.docId -> h.score).toMap
    // golden fold: field-name order (text < url), boost applied per field
    val g = (tScores.keySet intersect uScores.keySet).toSeq
      .map(id => (id, tScores(id) * 2.5 + uScores(id)))
      .sortBy { case (id, s) => (-s, id) }.take(10)
    assert(e == g)
    assert(e.nonEmpty)
    // all-1.0 boosts are the identity — same page as the unboosted call
    val e1 = fs.searchMulti(Map("text" -> "spark", "url" -> "7"), 10,
        boosts = Map("text" -> 1.0))
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val e0 = fs.searchMulti(Map("text" -> "spark", "url" -> "7"), 10)
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(e1 == e0)
  }

  test("intersection-driven cross-field pruning: pruned and plain-join " +
    "plans are bit-identical on the golden cases, and the gate routes a " +
    "skewed field pair through the semi-join") {
    // ('text' spark: head term; 'url' 123: rare keyword token) → skewed:
    // the url field's match set drives, text's fold shuffles only it
    for ((qs, label) <- Seq(
        (Map("text" -> "spark", "url" -> "7"), "head×mid"),
        (Map("text" -> "spark", "url" -> "page 123"), "head×rare"),
        (Map("text" -> "spark index", "url" -> "https"), "both-head"),
        (Map("text" -> "zzznotaword", "url" -> "7"), "empty-field"))) {
      def run(prune: Boolean) =
        fs.scoredMulti(qs, pruneIntersect = prune)
          .select("doc_id", "score")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
      assert(run(true) == run(false), label)
    }
    // and the full searchMulti surface agrees with golden under pruning
    // (same case as the cross-field AND test — default pruneIntersect)
    val e = fs.searchMulti(Map("text" -> "spark", "url" -> "123"), 10)
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val tS = goldenText.scoreAll(
      goldenText.analyze("spark", SynonymDict.empty), conjunctive = true)
      .map(h => h.docId -> h.score).toMap
    val uS = goldenUrl.scoreAll(
      goldenUrl.analyze("123", SynonymDict.empty), conjunctive = true)
      .map(h => h.docId -> h.score).toMap
    val g = (tS.keySet intersect uS.keySet).toSeq
      .map(id => (id, tS(id) + uS(id)))
      .sortBy { case (id, s) => (-s, id) }.take(10)
    assert(e == g && e.nonEmpty)
  }

  test("coordinated append + delete + compact: cross-field doc_id " +
    "alignment holds at every step and searchMulti ≡ a from-scratch " +
    "fielded rebuild of the logical corpus") {
    import spark.implicits._
    val cfg = IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2)
    def mkFields = Seq(
      FieldedIndex.FieldSpec("text", col("text"), html = col("html")),
      FieldedIndex.FieldSpec("url", col("url"),
        analyzer = Tokenizer.Keyword))
    val r = tmpDir("graft-fldlc-")
    val base = WebtextGen.df(spark, 11L, 200)
    FieldedIndex.buildFull(spark, base, mkFields, r, cfg)

    def storeOf(f: String): Set[(Long, String)] = {
      val fr = FieldedIndex.fieldRoot(r, f)
      val snap = IndexStore.readLatestSnapshot(spark, fr).get
      snap.segments.map(s =>
          spark.read.parquet(IndexStore.docstorePath(fr, s)))
        .reduce(_ unionByName _).select("doc_id", "url").collect()
        .map(x => (x.getLong(0), x.getString(1))).toSet
    }

    // append = fresh urls + upserts of existing urls with a newer ts
    val upsertUrls = WebtextGen.pages(11L, 200)
      .filter(_.text != null).map(_.url).sorted.take(30)
    val upserts = base.filter(col("url").isin(upsertUrls: _*))
      .withColumn("warc_ts", expr("warc_ts + INTERVAL 1 DAY"))
      .withColumn("text",
        concat(lit("freshly updated spark text. "), col("text")))
    val extra = WebtextGen.df(spark, 12L, 120)
      .withColumn("url", concat(lit("x-"), col("url")))
    val batch = extra.unionByName(upserts)
    FieldedIndex.append(spark, batch, mkFields, r, cfg)
    assert(storeOf("text") == storeOf("url"), "alignment after append")

    // coordinated delete: some base urls (incl. an upserted one), some
    // appended urls — tombstones must fan to every field root
    val delUrls = (WebtextGen.pages(11L, 200).map(_.url).sorted
      .slice(30, 45) :+ upsertUrls.head) ++
      WebtextGen.pages(12L, 120).map("x-" + _.url).sorted.take(10)
    FieldedIndex.deleteByPk(spark, r, mkFields, delUrls.toDF("url"))
    for (f <- Seq("text", "url")) {
      val fr = FieldedIndex.fieldRoot(r, f)
      val snap = IndexStore.readLatestSnapshot(spark, fr).get
      assert(snap.tombstones.size == 1, s"$f tombstone batch")
      assert(IndexStore.tombstoneCount(spark, fr, snap.tombstones)
        .contains(delUrls.distinct.size.toLong), s"$f tombstone count sidecar")
    }

    FieldedIndex.mergeCompact(spark, r, mkFields, cfg)
    val compacted = storeOf("text")
    assert(compacted == storeOf("url"), "alignment after compact")
    assert(compacted.map(_._1).size == compacted.size, "unique ids")

    // from-scratch fielded rebuild over the logical corpus
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("url").orderBy(col("warc_ts").desc)
    val live = base.unionByName(batch)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .filter(!col("url").isin(delUrls: _*))
    val r2 = tmpDir("graft-fldlc2-")
    FieldedIndex.buildFull(spark, live, mkFields, r2, cfg)

    // url-keyed compare (doc_ids differ by design: compact keeps gappy
    // originals, the rebuild is dense — scores must still be identical)
    def multi(rt: String): Seq[(String, Double)] = {
      val fsr = new FieldedIndex.FieldedSearcher(spark, rt, mkFields)
      try fsr.searchMulti(Map("text" -> "spark", "url" -> "example"), 100000)
        .join(fsr.searcher("text").docstore.select("doc_id", "url"),
          Seq("doc_id"))
        .select("url", "score").collect()
        .map(x => (x.getString(0), x.getDouble(1)))
        .sortBy { case (u, s) => (-s, u) }.toSeq
      finally fsr.close()
    }
    val got = multi(r)
    val want = multi(r2)
    assert(got.nonEmpty, "lifecycle query must match something")
    assert(got == want, s"compacted lifecycle ≠ rebuild: " +
      s"got=${got.take(3)} want=${want.take(3)} sizes ${got.size}/${want.size}")
    // an upserted surviving doc serves the UPDATED text
    val fr = FieldedIndex.fieldRoot(r, "text")
    val snap = IndexStore.readLatestSnapshot(spark, fr).get
    val fresh = snap.segments.map(s =>
        spark.read.parquet(IndexStore.docstorePath(fr, s)))
      .reduce(_ unionByName _)
      .filter(col("text").startsWith("freshly updated spark text. ")).count()
    assert(fresh == upsertUrls.count(!delUrls.contains(_)).toLong)

    // append AFTER compact: ids above the ceiling, alignment holds
    val extra2 = WebtextGen.df(spark, 13L, 40)
      .withColumn("url", concat(lit("y-"), col("url")))
    FieldedIndex.append(spark, extra2, mkFields, r, cfg)
    val after = storeOf("text")
    assert(after == storeOf("url"), "alignment after append-after-compact")
    assert(after.map(_._1).size == after.size,
      "doc_id collision after append-after-compact")
  }

  test("fielded reopen: per-field searchers refresh with segment reuse " +
    "and serve the appended view identically to a cold open") {
    val r = tmpDir("graft-fldreopen-")
    val cfg = IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2)
    def mkFields = Seq(
      FieldedIndex.FieldSpec("text", col("text")),
      FieldedIndex.FieldSpec("url", col("url"),
        analyzer = Tokenizer.Keyword))
    FieldedIndex.buildFull(spark, WebtextGen.df(spark, 21L, 150),
      mkFields, r, cfg)
    val old = new FieldedIndex.FieldedSearcher(spark, r, mkFields)
    val q = Map("text" -> "spark", "url" -> "example")
    assert(old.searchMulti(q, 10).collect().nonEmpty)
    FieldedIndex.append(spark, WebtextGen.df(spark, 22L, 60)
      .withColumn("url", concat(lit("z-"), col("url"))), mkFields, r, cfg)
    val fresh = old.reopen()
    val cold = new FieldedIndex.FieldedSearcher(spark, r, mkFields)
    try {
      fresh.searchers.values.foreach { s =>
        assert(s.snapshot.segments.size == 2 && s.reusedSegmentCount == 1)
      }
      assert(fresh.searchMulti(q, 10).collect().toSeq ==
        cold.searchMulti(q, 10).collect().toSeq)
      assert(fresh.searcher("text").docCount == 210)
    } finally { fresh.close(); cold.close(); old.close() }
  }

  test("randomized fielded lifecycle fuzz: interleaved append / delete / " +
    "compact keep cross-field alignment and the searchMulti view equal " +
    "to a driver-side model at every checkpoint") {
    import spark.implicits._
    val rnd = new scala.util.Random(777L)
    val cfg = IndexBuilder.IndexConfig(numParts = 2, rangeParts = 2)
    def mkFields = Seq(
      FieldedIndex.FieldSpec("body", col("text")),
      FieldedIndex.FieldSpec("path", col("url"),
        analyzer = Tokenizer.Keyword))
    val r = tmpDir("graft-fldfuzz-")
    val live = scala.collection.mutable.Map.empty[String, (Long, String)]
    val deleted = scala.collection.mutable.Set.empty[String]
    var nextId = 0
    var clock = 0L
    val t0 = 1767225600000L

    def batch(n: Int, ups: Seq[String]): Seq[(String, Long, String)] = {
      val fresh = (0 until n).map { _ =>
        nextId += 1; clock += 1
        (f"https://z/$nextId%04d", clock, s"spark body u$nextId")
      }
      fresh ++ ups.map { u =>
        clock += 1; (u, clock, s"spark body updated v$clock")
      }
    }
    def toDf(rows: Seq[(String, Long, String)]) =
      rows.map { case (u, t, x) =>
        (u, new java.sql.Timestamp(t0 + t * 1000), null: Array[Byte], x, "en")
      }.toDF("url", "warc_ts", "html", "text", "lang")
    def model(rows: Seq[(String, Long, String)]): Unit = {
      rows.foreach { case (u, t, x) =>
        if (!deleted.contains(u) && live.get(u).forall(_._1 < t))
          live(u) = (t, x)
      }
      live --= deleted
    }

    val first = batch(15, Seq.empty)
    FieldedIndex.buildFull(spark, toDf(first), mkFields, r, cfg)
    model(first)
    for (step <- 1 to 6) {
      rnd.nextInt(3) match {
        case 0 =>
          val b = batch(3 + rnd.nextInt(5),
            rnd.shuffle(live.keys.toSeq).take(rnd.nextInt(3)))
          FieldedIndex.append(spark, toDf(b), mkFields, r, cfg)
          model(b)
        case 1 =>
          val vs = rnd.shuffle(live.keys.toSeq).take(1 + rnd.nextInt(3))
          FieldedIndex.deleteByPk(spark, r, mkFields, vs.toDF("url"))
          deleted ++= vs
          live --= vs
        case _ =>
          FieldedIndex.mergeCompact(spark, r, mkFields, cfg)
      }
      if (step % 2 == 0 || step == 6) {
        // alignment: identical (doc_id, url) sets across field roots
        def store(f: String): Set[(Long, String)] = {
          val fr = FieldedIndex.fieldRoot(r, f)
          val snap = IndexStore.readLatestSnapshot(spark, fr).get
          snap.segments.map(s =>
              spark.read.parquet(IndexStore.docstorePath(fr, s)))
            .reduce(_ unionByName _).select("doc_id", "url").collect()
            .map(x => (x.getLong(0), x.getString(1))).toSet
        }
        assert(store("body") == store("path"), s"step $step alignment")
        // view: every live doc has SPARK in body and Z in the url path
        val fsr = new FieldedIndex.FieldedSearcher(spark, r, mkFields)
        try {
          val got = fsr.searchMulti(Map("body" -> "spark", "path" -> "z"),
              100000)
            .join(fsr.searcher("body").docstore.select("doc_id", "url"),
              Seq("doc_id"))
            .select("url").collect().map(_.getString(0)).toSet
          assert(got == live.keySet.toSet,
            s"step $step: got ${got.size}, want ${live.size}; " +
              s"missing=${(live.keySet -- got).take(3)} " +
              s"extra=${(got -- live.keySet).take(3)}")
        } finally fsr.close()
      }
    }
  }

  test("lockstep guard: a field root advanced on its own fails loudly") {
    import spark.implicits._
    val cfg = IndexBuilder.IndexConfig(numParts = 2, rangeParts = 2)
    val mkFields = Seq(
      FieldedIndex.FieldSpec("a", col("text")),
      FieldedIndex.FieldSpec("b", col("url"), analyzer = Tokenizer.Keyword))
    val r = tmpDir("graft-fldlock-")
    FieldedIndex.buildFull(spark, WebtextGen.df(spark, 21L, 50), mkFields,
      r, cfg)
    // advance ONE field root by hand (uncoordinated delete)
    IndexBuilder.deleteByPk(spark, FieldedIndex.fieldRoot(r, "a"),
      Seq("https://nosuch.example/x"))
    val e = intercept[IllegalArgumentException](
      FieldedIndex.append(spark, WebtextGen.df(spark, 22L, 10), mkFields,
        r, cfg))
    assert(e.getMessage.contains("lockstep"))
  }

  test("dedup tie with complementary null fields is deterministic: " +
    "(null, x) and (x, null) get distinct tie keys, same winner either " +
    "input order") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1767225600000L)
    // two exact (url, warc_ts) duplicates differing only in WHICH field
    // is null — a null-skipping tie key would make the winner
    // partition-order-dependent
    val rows = Seq(
      ("https://dup.example/p/1", ts, "en", null.asInstanceOf[String], "alpha"),
      ("https://dup.example/p/1", ts, "en", "alpha", null.asInstanceOf[String]),
      ("https://other.example/p/2", ts, "en", "beta", "gamma"))
    def build(ordered: Seq[(String, java.sql.Timestamp, String, String, String)],
              parts: Int): (Seq[(String, String)], Seq[(String, String)]) = {
      val df = ordered.toDF("url", "warc_ts", "lang", "a", "b")
        .repartition(parts)
      val r = tmpDir("graft-nulltie-")
      FieldedIndex.buildFull(spark, df,
        Seq(FieldedIndex.FieldSpec("a", col("a")),
          FieldedIndex.FieldSpec("b", col("b"))),
        r, IndexBuilder.IndexConfig(numParts = 2, rangeParts = 2))
      def docs(f: String) = spark.read.parquet(
          IndexStore.docstorePath(FieldedIndex.fieldRoot(r, f), "seg-000000"))
        .select("url", "text").collect()
        .map(x => (x.getString(0), x.getString(1))).sortBy(_._1).toSeq
      (docs("a"), docs("b"))
    }
    val (a1, b1) = build(rows, 1)
    val (a2, b2) = build(rows.reverse, 3)
    assert(a1 == a2, "field a winner depends on input order")
    assert(b1 == b2, "field b winner depends on input order")
    // and the two duplicate rows were actually collapsed to one winner
    assert(a1.count(_._1 == "https://dup.example/p/1") == 1)
  }

  test("fielded query strings (field: prefixes): cross-field parsed " +
    "scoring is bit-identical to the golden multi-model composition") {
    import graft.query.QueryParser
    val models = Map("text" -> goldenText, "url" -> goldenUrl)
    def g(q: String): Seq[(Long, Double)] = {
      val byField = QueryParser.parseFielded(q).zipWithIndex.groupBy {
        case (QueryParser.FieldQ(f, _), _) => f
        case _ => "text"
      }
      GoldenBM25.scoreParsedMulti(byField.toSeq.sortBy(_._1).map {
        case (f, cs) =>
          (models(f), cs.sortBy(_._2).map {
            case (QueryParser.FieldQ(_, c), _) => c
            case (c, _) => c
          }, SynonymDict.empty)
      }).sortBy(h => (-h.score, h.docId)).take(10)
        .map(h => (h.docId, h.score))
    }
    def e(q: String): Seq[(Long, Double)] =
      fs.searchQuery(q, defaultField = "text", 10)
        .select("doc_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val queries = Seq(
      "+spark url:7^2",             // MUST text + boosted url SHOULD
      "+spark +url:7",              // cross-field AND
      "+url:example spark^3 -fast", // default-field NOT + boost
      "+spark url:(7 123)^2",       // field-scoped group
      "spark url:zzznothing",       // absent fielded SHOULD term
      "+text:spark -url:7",         // NOT in another field
      "+spark inde* url:page",      // expansion + fielded term
      // a MUST group whose members ALL analyze to nothing (keyword
      // analyzer drops punctuation) is DROPPED, not MatchNoDocs —
      // engine lazyReq and golden anyRegistered must agree
      "+url:(\\, \\.) spark")
    val failures = queries.flatMap { q =>
      val (ee, gg) = (e(q), g(q))
      if (ee == gg) None else Some(s"<$q>: engine=$ee golden=$gg")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(e("+spark +url:7").nonEmpty, "cross-field AND must match")
    // a MUST unsatisfiable in ANY field kills the whole query
    assert(e("+url:zzznothing spark").isEmpty)
    // unknown field fails loudly
    intercept[IllegalArgumentException](
      fs.searchQuery("+bogus:x", "text", 10))
    // degenerate (no field prefixes) ≡ the single-index parsed path
    val single = fs.searcher("text")
      .scoreParsed(QueryParser.parse("+spark inde*"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(10)
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(e("+spark inde*") == single)
    // explainQuery: the cross-field breakdown re-sums bit-identically to
    // the served score, and both fields actually contribute rows
    val (topId, topScore) = e("+spark url:7^2").head
    val rows = fs.explainQuery("+spark url:7^2", topId, "text")
      .select("field", "contrib").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rows.map(_._1).distinct.sorted == Seq("text", "url"))
    assert(rows.foldLeft(0.0)(_ + _._2) == topScore)
  }
}
