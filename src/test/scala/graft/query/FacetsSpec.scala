package graft.query

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Facet semantics beyond the DuckDB battery (SURVEY.md §2.5): paging
  * contract, multi-query batching (F7), facet-result cache (F6). */
class FacetsSpec extends AnyFunSuite with SparkTestBase {

  private def facets = {
    val sp = spark
    import sp.implicits._
    Seq(
      (1L, "color", "red"), (2L, "color", "red"), (3L, "color", "red"),
      (4L, "color", "blue"), (5L, "color", "blue"), (6L, "color", "green"),
      (1L, "size", "s"), (2L, "size", "m"), (3L, "size", "m")
    ).toDF("doc_id", "dim", "label")
  }

  private def matchesOf(ids: Long*) = {
    val sp = spark
    import sp.implicits._
    ids.toDF("doc_id")
  }

  test("index-integrated facets: flat counts + hierarchy served by the " +
    "Searcher from the build-time facets sidecar (Indexer.java:277-364, " +
    "Searcher.java:1086-1283)") {
    import graft.analysis.SynonymDict
    import graft.index.{IndexBuilder, WebtextGen}
    val root = tmpDir("graft-facetidx-")
    val dict = SynonymDict.empty
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 11L, 300), dict, root,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2,
        buildFacets = true))
    val s = new Searcher(spark, root, dict)
    try {
      // direct computation from the raw pages: same match set, same dims
      val pages = WebtextGen.pages(11L, 300).map { p =>
        val text = if (p.text != null) p.text
          else graft.analysis.TextExtract.extractText(p.html)
        (p.url, p.lang, graft.golden.StringAnalysis.tokenize(text).toSet)
      }
      val matched = pages.filter(_._3.contains("SPARK"))
      val host = (u: String) => u.replaceFirst("^[a-zA-Z]+://", "").takeWhile(_ != '/')
      val expectLang = matched.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val expectSite = matched.groupBy(p => host(p._1)).view.mapValues(_.size.toLong).toMap
      val flat = s.facetSearch("spark", limit = 1000)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val gotLang = flat.filter(_._1 == "lang").map(x => x._2 -> x._3).toMap
      val gotSite = flat.filter(_._1 == "site").map(x => x._2 -> x._3).toMap
      assert(gotLang == expectLang)
      assert(gotSite == expectSite)
      // hierarchy: depth-1 'site' prefixes are tlds — counts roll up
      val hier = s.facetSearchHier("spark", topN = 1000)
        .where(col("dim") === "site" && col("depth") === 1)
        .collect().map(r => (r.getSeq[String](1).head, r.getLong(3))).toMap
      val expectTld = matched.groupBy(p => host(p._1).split('.').last)
        .view.mapValues(_.size.toLong).toMap
      assert(hier == expectTld)
      // facet MATH through the index: per-lang stats over the docstore's
      // dl column (count/sum/min/max/avg + *_total)
      def num(r: org.apache.spark.sql.Row, i: Int): Double =
        r.get(i).asInstanceOf[Number].doubleValue
      val math = s.facetMathSearch("spark", "lang", "dl")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), num(r, 2), num(r, 3), num(r, 4), num(r, 5))).toMap
      val matchedCounts = WebtextGen.pages(11L, 300).flatMap { pg =>
        val text = if (pg.text != null) pg.text
          else graft.analysis.TextExtract.extractText(pg.html)
        val toks = graft.golden.StringAnalysis.tokenize(text)
        if (toks.contains("SPARK")) Some(pg.lang -> toks.length.toDouble)
        else None
      }
      val perLang = matchedCounts.groupBy(_._1).map { case (l, xs) =>
        val v = xs.map(_._2)
        l -> (v.size.toLong, v.sum, v.min, v.max,
          BigDecimal(v.sum / v.size).setScale(2,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      perLang.foreach { case (l, (cnt, sum, mn, mx, _)) =>
        val got = math(l)
        assert(got._1 == cnt && got._2 == sum && got._3 == mn && got._4 == mx,
          s"lang=$l got=$got")
      }
      val tot = math("*_total")
      assert(tot._1 == matchedCounts.size.toLong)
    } finally s.close()
    // an index built WITHOUT facets refuses facetSearch loudly
    val root2 = tmpDir("graft-nofacet-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 12L, 50), dict, root2,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2))
    val s2 = new Searcher(spark, root2, dict)
    try {
      val e = intercept[RuntimeException](s2.facetSearch("spark"))
      assert(e.getMessage.contains("buildFacets"))
    } finally s2.close()
  }

  test("fielded deployment keeps the full serving surface: facets, facet " +
    "math and JSON-filtered search over a cross-field match set") {
    import graft.analysis.Tokenizer
    import graft.index.{FieldedIndex, IndexBuilder, WebtextGen}
    val root = tmpDir("graft-fldfacet-")
    val fields = Seq(
      FieldedIndex.FieldSpec("body", col("text"), html = col("html")),
      FieldedIndex.FieldSpec("path", col("url"),
        analyzer = Tokenizer.Keyword))
    FieldedIndex.buildFull(spark, WebtextGen.df(spark, 31L, 300), fields,
      root, IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2,
        buildFacets = true))
    // dynamic JSON sidecar on ONE root (body's): doc_id alignment makes
    // it serve the whole fielded deployment
    graft.index.IndexBuilder.buildJsonSidecar(spark,
      FieldedIndex.fieldRoot(root, "body"),
      WebtextGen.df(spark, 31L, 300).select(col("url"),
        format_string("""{"meta": {"len": %d}}""",
          length(coalesce(col("text"), lit("")))).as("json")))
    val fsr = new FieldedIndex.FieldedSearcher(spark, root, fields)
    try {
      val qs = Map("body" -> "spark", "path" -> "example")
      // expectation from the raw pages: body tokens ∋ SPARK AND url
      // keyword tokens ∋ EXAMPLE
      val pages = WebtextGen.pages(31L, 300).map { p =>
        val text = if (p.text != null) p.text
          else graft.analysis.TextExtract.extractText(p.html)
        (p, graft.golden.StringAnalysis.tokenize(text).toSet,
          graft.golden.StringAnalysis.tokenize(p.url, Tokenizer.Keyword).toSet)
      }
      val matched = pages.filter(x =>
        x._2.contains("SPARK") && x._3.contains("EXAMPLE"))
      val expectLang = matched.groupBy(_._1.lang)
        .view.mapValues(_.size.toLong).toMap
      def langCounts(facetField: Option[String]) =
        fsr.facetSearch(qs, limit = 1000, facetField = facetField)
          .where(col("dim") === "lang")
          .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(langCounts(None) == expectLang)
      // either root's sidecar serves (doc_id alignment)
      assert(langCounts(Some("path")) == expectLang)
      // facet math: per-lang doc counts agree (values from body's dl)
      val math = fsr.facetMathSearch(qs, "lang", "dl")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      expectLang.foreach { case (l, n) => assert(math(l) == n, s"lang=$l") }
      assert(math("*_total") == matched.size.toLong)
      // hierarchy: site tld rollup over the cross-field match set
      val hier = fsr.facetSearchHier(qs, topN = 1000)
        .where(col("dim") === "site" && col("depth") === 1)
        .collect().map(r => (r.getSeq[String](1).head, r.getLong(3))).toMap
      val host = (u: String) =>
        u.replaceFirst("^[a-zA-Z]+://", "").takeWhile(_ != '/')
      val expectTld = matched.groupBy(x => host(x._1.url).split('.').last)
        .view.mapValues(_.size.toLong).toMap
      assert(hier == expectTld)
      // range facets over body's dl (fielded twin of facetRangeSearch)
      val dls = matched.map { x =>
        val text = if (x._1.text != null) x._1.text
          else graft.analysis.TextExtract.extractText(x._1.html)
        graft.golden.StringAnalysis.tokenize(text).length.toDouble
      }
      val gotR = fsr.facetRangeSearch(qs, "dl", Seq(
          Facets.RangeSpec("lo", 0, 60),
          Facets.RangeSpec("hi", 60, 100000, includeUpper = true)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(gotR == Map("lo" -> dls.count(_ < 60).toLong,
        "hi" -> dls.count(_ >= 60).toLong))
      // drill-sideways: lang drilled (own counts unconstrained = plain
      // counts), site undrilled (counted under lang=langX)
      val langX = expectLang.maxBy(_._2)._1
      val swc = fsr.facetSearchDrillSideways(qs, Map("lang" -> langX),
          limit = 1000)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(swc.filter(_._1 == "lang").map(x => x._2 -> x._3).toMap ==
        expectLang)
      val expSiteDrilled = matched.filter(_._1.lang == langX)
        .groupBy(x => host(x._1.url)).view.mapValues(_.size.toLong).toMap
      assert(swc.filter(_._1 == "site").map(x => x._2 -> x._3).toMap ==
        expSiteDrilled)
      // grouped cross-field top-k: windows vs a driver model over the
      // SAME scoredMulti frame (score correctness is golden-pinned
      // elsewhere; this pins the grouping semantics)
      val scoredRows = fsr.scoredMulti(qs, roundScoresTo = Some(4))
        .select("doc_id", "score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
      val langOf = fsr.searcher("body").docstore.select("doc_id", "lang")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val model = scoredRows.groupBy(x => langOf(x._1)).map {
        case (label, xs) =>
          val docs = xs.sortBy(x => (-x._2, x._1)).take(2)
          (label, docs.head._2, docs)
      }.toSeq.sortBy(g => (-g._2, g._1)).take(3).zipWithIndex.flatMap {
        case ((label, _, docs), gi) => docs.zipWithIndex.map {
          case ((id, sc), di) => (label, gi + 1, id, sc, di + 1)
        }
      }
      val gotG = fsr.searchGrouped(qs, "lang", topGroups = 3,
          docsPerGroup = 2, roundScoresTo = Some(4))
        .orderBy("group_rank", "doc_rank").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getDouble(3), r.getInt(4)))
      assert(gotG.toSeq == model)
      // JSON-filtered cross-field search: raw text length > 200 via the
      // META.LEN dynamic field (html-only pages have len 0)
      val got = fsr.searchJsonFiltered(qs, 100000, "META.LEN",
          col("num_val") > 200.0)
        .join(fsr.searcher("body").docstore.select("doc_id", "url"),
          Seq("doc_id"))
        .select("url").collect().map(_.getString(0)).toSet
      val expectJson = matched.filter(x =>
        x._1.text != null && x._1.text.length > 200).map(_._1.url).toSet
      assert(got == expectJson)
      assert(got.nonEmpty && got.size < matched.size,
        "JSON filter should restrict the match set non-trivially")
    } finally fsr.close()
  }

  test("config-driven facet dims: custom FacetSpec set with multi-value " +
    "and custom-hierarchy dims, plus the sentinel rule (Indexer.java:" +
    "157-172,319-325)") {
    import graft.analysis.SynonymDict
    import graft.index.{IndexBuilder, IndexStore, WebtextGen}
    val root = tmpDir("graft-facetspec-")
    val dict = SynonymDict.empty
    val specs = Seq(
      // multi-value: every doc carries two tags
      IndexBuilder.FacetSpec("tags",
        array(col("lang"), concat(lit("len"),
          (length(col("text")) % 2).cast("string"))), multiValue = true),
      // custom hierarchy: all → lang
      IndexBuilder.FacetSpec("langtree", col("lang"),
        path = Seq(lit("all"), col("lang"))),
      // always-empty label ⇒ the sentinel
      IndexBuilder.FacetSpec("empty", regexp_extract(col("url"), "zzz(x)", 1)))
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 13L, 200), dict, root,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2,
        facetSpecs = specs))
    val s = new Searcher(spark, root, dict)
    try {
      // expected straight from the written docstore (plumbing check)
      val ds = spark.read.parquet(
        IndexStore.docstorePath(root, "seg-000000"))
      val m = s.matchSet("spark")
      val expTags = ds.join(m, Seq("doc_id"), "left_semi")
        .select(explode(array(col("lang"), concat(lit("len"),
          (length(col("text")) % 2).cast("string")))).as("label"))
        .groupBy("label").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val flat = s.facetSearch("spark", limit = 1000)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val gotTags = flat.filter(_._1 == "tags").map(x => x._2 -> x._3).toMap
      assert(gotTags == expTags)
      // every 'empty'-dim label collapsed to the sentinel
      val gotEmpty = flat.filter(_._1 == "empty")
      assert(gotEmpty.map(_._2).toSeq == Seq(IndexBuilder.FacetSentinel))
      assert(gotEmpty.head._3 == m.count())
      // custom hierarchy: depth-1 is the single 'all' root with the full
      // match count; depth-2 children are the langs
      val hier = s.facetSearchHier("spark", topN = 1000)
        .where(col("dim") === "langtree").collect()
        .map(r => (r.getSeq[String](1), r.getLong(3)))
      assert(hier.filter(_._1.size == 1).toSeq == Seq(Seq("all") -> m.count()))
      val expLang = ds.join(m, Seq("doc_id"), "left_semi")
        .groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(hier.filter(_._1.size == 2)
        .map(x => x._1.last -> x._2).toMap == expLang)
      // a multiValue spec with a hierarchy path must refuse loudly
      intercept[IllegalArgumentException](
        IndexBuilder.FacetSpec("bad", col("lang"),
          path = Seq(col("lang")), multiValue = true))
    } finally s.close()
  }

  test("flat counts: rank by (cnt desc, label asc), minCount, offset/limit " +
    "paging (F2, Searcher.java:1365-1429)") {
    val all = Facets.flatCounts(matchesOf(1L to 6L: _*), facets,
      offset = 0, limit = 10, minCount = 1)
      .orderBy("dim", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(all.toSeq == Seq(
      ("color", "red", 3L, 1), ("color", "blue", 2L, 2), ("color", "green", 1L, 3),
      ("size", "m", 2L, 1), ("size", "s", 1L, 2)))
    // minCount prunes BEFORE ranking (size keeps only m@rank1), then
    // offset=1/limit=1 slices rank 2 → only color/blue survives
    val page = Facets.flatCounts(matchesOf(1L to 6L: _*), facets,
      offset = 1, limit = 1, minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(page.toSeq == Seq(("color", "blue")))
    // match set restricts counts
    val restricted = Facets.flatCounts(matchesOf(4L, 5L, 6L), facets)
      .where(col("dim") === "color").orderBy("rank")
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(restricted.toSeq == Seq(("blue", 2L), ("green", 1L)))
  }

  test("multi-query facet batch: one job counts per query_id (F7, " +
    "Searcher.java:1136-1278)") {
    val sp = spark
    import sp.implicits._
    val tagged = Seq((1L, "qa"), (2L, "qa"), (4L, "qb"), (6L, "qb"))
      .toDF("doc_id", "query_id")
    val out = Facets.flatCountsMultiQuery(tagged, facets)
      .where(col("dim") === "color")
      .orderBy("query_id", "label")
      .collect().map(r => (r.getString(0), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(("qa", "red", 2L), ("qb", "blue", 1L),
      ("qb", "green", 1L)))
  }

  test("facet-result LRU memoizes collated pages (F6, Searcher.java:1589-1612)") {
    val cache = new LruCache[(String, Int, Int, Long), Array[(String, Long)]](32)
    def counts(key: (String, Int, Int, Long)) =
      cache.getOrElseUpdate(key) {
        Facets.flatCounts(matchesOf(1L to 6L: _*), facets,
            offset = key._2, limit = key._3, minCount = key._4)
          .where(col("dim") === key._1)
          .collect().map(r => (r.getString(1), r.getLong(2)))
      }
    val k = ("color", 0, 10, 1L)
    val first = counts(k)
    val misses = cache.misses
    assert(counts(k).toSeq == first.toSeq && cache.misses == misses &&
      cache.hits >= 1)
  }
}
