package graft.index

import graft.analysis.{SynonymDict, Tokenizer}
import graft.query.Searcher
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-field indexing with per-field analyzers — the reference's
  * schema-driven fields, each with its own analyzer and statistics
  * (`/root/reference/LuceneSearchEngine/src/Indexer.java:420` analyzer
  * dispatch; per-field `collectionStatistics`, `src/Searcher.java:
  * 722-725`).
  *
  * The Spark-native shape: one term-partitioned index PER FIELD under
  * `root/fields/<name>/`, each with its own analyzer mode, synonym
  * dictionary, and (df, avgdl) statistics — indexes are cheap partitioned
  * tables here, so fields compose as parallel builds instead of being
  * crammed into one segment file format. Doc ids are IDENTICAL across
  * fields because assignment depends only on the url total order
  * ([[IndexBuilder.assignDocIds]]), which is what makes cross-field
  * boolean composition a plain doc_id equi-join.
  *
  * The incremental lifecycle ([[append]] / [[deleteByPk]] /
  * [[mergeCompact]]) is COORDINATED: the reference updates/deletes every
  * field of a document atomically (PK upsert `src/Indexer.java:375-384`,
  * delete :891-964), so these ops advance all field roots in lockstep
  * and preserve cross-field doc_id alignment.
  */
object FieldedIndex {

  /** One searchable field: `text` = the field's source expression over
    * the pages frame (cast to string); `html` optionally feeds the
    * extract-on-null path (the body-text field's shape). */
  final case class FieldSpec(name: String, text: Column,
                             html: Column = lit(null).cast("binary"),
                             analyzer: String = Tokenizer.Text,
                             dict: SynonymDict = SynonymDict.empty)

  def fieldRoot(root: String, field: String): String = s"$root/fields/$field"

  /** Shared single-pass id assignment over a frame carrying every
    * field's source columns: ONE url range shuffle + dedup sort for N
    * fields, materialized once under `root/_build/idpages` so per-field
    * builds are map-only projections of the read-back parquet. Exact
    * (url, warc_ts) dedup ties break on the field texts concatenated in
    * field-name order, so every field agrees on the same winner row.
    * Returns (read-back frame, assign wall ms). */
  private def assignShared(spark: SparkSession, pages: DataFrame,
                           fields: Seq[FieldSpec], root: String,
                           baseDocId: Long,
                           cfg: IndexBuilder.IndexConfig)
      : (DataFrame, Long) = {
    val t0 = System.nanoTime()
    val perField = fields.flatMap(f => Seq(
      f.html.as(s"__html_${f.name}"),
      f.text.cast("string").as(s"__text_${f.name}")))
    // coalesce each field to a sentinel BEFORE joining: concat_ws
    // silently skips null elements, so (null, "x") and ("x", null) would
    // collide and the dedup winner would become partition-order-dependent
    val tie = concat_ws(" ",
      fields.sortBy(_.name)
        .map(f => coalesce(col(s"__text_${f.name}"), lit(""))): _*)
    val base = pages
      .select(col("url") +: col("warc_ts") +: col("lang") +: perField: _*)
      .withColumn("__tie", tie)
    val idPages = IndexBuilder
      .assignDocIdsDf(spark, base, baseDocId, cfg.rangeParts, "__tie")
      .drop("__tie")
    val sharedPath = s"$root/_build/idpages"
    idPages.write.mode("overwrite").parquet(sharedPath)
    // read back with the frame's own schema: no footer-inference job
    (spark.read.schema(idPages.schema).parquet(sharedPath),
      (System.nanoTime() - t0) / 1000000)
  }

  /** One field's pages shape out of the shared id-assigned frame. */
  private def fieldPages(shared: DataFrame, f: FieldSpec): DataFrame =
    shared.select(col("doc_id"), col("url"), col("warc_ts"),
      col(s"__html_${f.name}").as("html"),
      col(s"__text_${f.name}").as("text"), col("lang"))

  private def dropBuildDir(spark: SparkSession, root: String): Unit =
    IndexStore.fs(spark, root)
      .delete(new org.apache.hadoop.fs.Path(s"$root/_build"), true)

  /** Run one task per field on a small thread pool so later fields'
    * Spark jobs back-fill the stragglers (and the driver-side planning
    * gaps) of earlier ones — the guide's "overlap independent jobs"
    * shape. Per-field work here is independent by construction: each
    * task reads the shared persisted id-pages frame and writes only
    * under its own field root, and the build path mutates no session
    * state, so overlap changes scheduling only, never bytes. 2-3 jobs
    * in flight is plenty (more just contend for executors), hence the
    * pool cap. `invokeAll` blocks until EVERY task has finished, so a
    * failing field never leaves a sibling's write racing the caller's
    * cleanup; the first failure rethrows its original cause. */
  private def perFieldParallel[A](fields: Seq[FieldSpec])
                                 (work: (FieldSpec, Int) => A)
      : Map[String, A] = {
    if (fields.size <= 1)
      fields.map(f => f.name -> work(f, 0)).toMap
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(fields.size, 3))
      try {
        val tasks = new java.util.ArrayList[
          java.util.concurrent.Callable[(String, A)]]()
        fields.zipWithIndex.foreach { case (f, i) =>
          tasks.add(() => f.name -> work(f, i))
        }
        val done = pool.invokeAll(tasks) // waits for ALL, even on failure
        val out = Map.newBuilder[String, A]
        done.forEach { fut =>
          out += (try fut.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          })
        }
        out.result()
      } finally pool.shutdown()
    }
  }

  private def snapshotOf(spark: SparkSession, root: String,
                         field: String): IndexStore.Snapshot = {
    val fr = fieldRoot(root, field)
    IndexStore.readLatestSnapshot(spark, fr)
      .getOrElse(sys.error(s"no snapshot at $fr — run buildFull first"))
  }

  /** All field snapshots, required in lockstep (same snapshot id): the
    * coordinated lifecycle ops advance every field root together, so
    * divergence means a partial/by-hand mutation — fail loudly before
    * doc_id alignment can silently break. */
  private def snapshotsInLockstep(spark: SparkSession, root: String,
                                  fields: Seq[FieldSpec])
      : Map[String, IndexStore.Snapshot] = {
    val snaps = fields.map(f => f.name -> snapshotOf(spark, root, f.name)).toMap
    val ids = snaps.values.map(_.id).toSet
    require(ids.size == 1,
      s"field roots out of lockstep (snapshot ids $ids) — the coordinated " +
        "FieldedIndex ops advance all fields together; rebuild with buildFull")
    snaps
  }

  /** FULL build of every field's index over the same pages frame.
    *
    * Single-pass id assignment ([[assignShared]]): at N fields this is 1
    * corpus sort instead of N; doc ids are identical across fields. The
    * shared `sort_dedup_assign` phase is reported on the FIRST field's
    * BuildReport. */
  def buildFull(spark: SparkSession, pages: DataFrame, fields: Seq[FieldSpec],
                root: String,
                cfg: IndexBuilder.IndexConfig = IndexBuilder.IndexConfig(),
                inputSnapshot: String = "")
      : Map[String, IndexBuilder.BuildReport] = {
    require(fields.nonEmpty, "fielded build needs at least one field")
    val (shared, assignMs) = assignShared(spark, pages, fields, root, 0L, cfg)
    val reports = perFieldParallel(fields) { (f, i) =>
      val fr = fieldRoot(root, f.name)
      val seg = "seg-000000"
      val rep = IndexBuilder.buildSegmentFromIdPages(spark,
        fieldPages(shared, f), f.dict, fr, seg,
        cfg.copy(analyzer = f.analyzer),
        s"$inputSnapshot field=${f.name}",
        prePhases =
          if (i == 0) Seq("sort_dedup_assign" -> assignMs) else Nil)
      IndexStore.writeSnapshot(spark, fr,
        IndexStore.Snapshot(0L, Seq(seg), Seq.empty, dead = Some(Seq.empty)))
      rep
    }
    dropBuildDir(spark, root)
    reports
  }

  /** Coordinated APPEND across every field root: ONE shared id
    * assignment for the batch (same seam as [[buildFull]]) from ONE base
    * — the max `id_ceiling` across all field roots — so the new doc_ids
    * are identical in every field and collision-free against every
    * existing segment. Per-field delta segments + snapshot advance;
    * cross-field composition stays a doc_id equi-join. Latest-wins vs
    * older segments stays the query-time rule (and is made physical by
    * [[mergeCompact]]). */
  def append(spark: SparkSession, pages: DataFrame, fields: Seq[FieldSpec],
             root: String,
             cfg: IndexBuilder.IndexConfig = IndexBuilder.IndexConfig(),
             inputSnapshot: String = "")
      : Map[String, IndexBuilder.BuildReport] = {
    require(fields.nonEmpty, "fielded append needs at least one field")
    val snaps = snapshotsInLockstep(spark, root, fields)
    val nextBase = fields.map(f =>
      IndexBuilder.nextAppendBase(spark, fieldRoot(root, f.name),
        snaps(f.name))).max
    val (shared, assignMs) =
      assignShared(spark, pages, fields, root, nextBase, cfg)
    // the delta-segment builds are independent per field root — overlap
    // them; the snapshot advancement below stays SEQUENTIAL because the
    // superseded-id fan-out is write-once-copy-N in field order
    val reports = perFieldParallel(fields) { (f, i) =>
      val snap = snaps(f.name)
      IndexBuilder.buildSegmentFromIdPages(spark,
        fieldPages(shared, f), f.dict, fieldRoot(root, f.name),
        f"seg-${snap.id + 1}%06d", cfg.copy(analyzer = f.analyzer),
        s"$inputSnapshot field=${f.name}",
        prePhases =
          if (i == 0) Seq("sort_dedup_assign" -> assignMs) else Nil)
    }
    // the superseded-id batch is a pure function of (url, warc_ts,
    // doc_id) triples, which are IDENTICAL across field roots — compute
    // it once on the first field and fan it as a byte copy (the same
    // write-once-copy-N shape as the coordinated tombstones)
    var fannedDead: Option[Option[String]] = None
    fields.foreach { f =>
      val fr = fieldRoot(root, f.name)
      val snap = snaps(f.name)
      val seg = f"seg-${snap.id + 1}%06d"
      val advanced = (snap.dead, fannedDead) match {
        case (None, _) => // legacy root: no sidecar to maintain
          IndexStore.Snapshot(snap.id + 1, snap.segments :+ seg,
            snap.tombstones, None)
        case (Some(batches), None) => // first maintained field: compute
          val adv = IndexBuilder.advanceForAppend(spark, fr, snap,
            reports(f.name))
          fannedDead = Some(adv.dead.get.diff(batches).headOption)
          adv
        case (Some(batches), Some(batchName)) => // fan the byte copy
          batchName.foreach { name =>
            val conf = spark.sparkContext.hadoopConfiguration
            val fsys = IndexStore.fs(spark, root)
            val src = fieldRoot(root,
              fields.find(x => snaps(x.name).dead.isDefined).get.name)
            Seq(s"dead/$name", s"dead/$name.count").foreach { rel =>
              org.apache.hadoop.fs.FileUtil.copy(
                fsys, new org.apache.hadoop.fs.Path(s"$src/$rel"),
                fsys, new org.apache.hadoop.fs.Path(s"$fr/$rel"),
                false, true, conf)
            }
          }
          IndexStore.Snapshot(snap.id + 1, snap.segments :+ seg,
            snap.tombstones, Some(batches ++ batchName.toSeq))
      }
      IndexStore.writeSnapshot(spark, fr, advanced)
    }
    dropBuildDir(spark, root)
    reports
  }

  /** Coordinated delete-by-PK: the tombstone batch is WRITTEN once (one
    * distributed write — the urls frame may be an expensive query and
    * must not be recomputed per field) and fanned to the other field
    * roots as a filesystem copy (bytes, no Spark job), then every
    * field's snapshot advances together — the reference deletes a
    * document from all its fields at once
    * (`src/Indexer.java:891-964`). */
  def deleteByPk(spark: SparkSession, root: String, fields: Seq[FieldSpec],
                 urls: DataFrame): Unit = {
    require(fields.nonEmpty, "fielded delete needs at least one field")
    val snaps = snapshotsInLockstep(spark, root, fields)
    val name = f"tomb-${snaps(fields.head.name).id + 1}%06d"
    val firstRoot = fieldRoot(root, fields.head.name)
    IndexStore.writeTombstonesDf(spark, firstRoot, name, urls)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = IndexStore.fs(spark, root)
    fields.tail.foreach { f =>
      val dst = fieldRoot(root, f.name)
      Seq(s"tombstones/$name", s"tombstones/$name.count").foreach { rel =>
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(s"$firstRoot/$rel"),
          fs, new org.apache.hadoop.fs.Path(s"$dst/$rel"),
          false, true, conf)
      }
    }
    fields.foreach { f =>
      val snap = snaps(f.name)
      IndexStore.writeSnapshot(spark, fieldRoot(root, f.name),
        IndexStore.Snapshot(snap.id + 1, snap.segments,
          snap.tombstones :+ name, snap.dead))
    }
  }

  /** Coordinated compaction across field roots. ONE path decision for
    * ALL fields: a mixed outcome — field A keeping original doc_ids via
    * the posting-level [[IndexBuilder.mergeCompact]] while field B
    * re-assigns dense ids via the rebuild [[IndexBuilder.merge]] — would
    * break cross-field doc_id alignment, so the layout-uniformity
    * pre-check runs here over every root and routes ALL fields down the
    * same path. Either path preserves alignment on its own: compact
    * keeps original ids; rebuild re-derives ids from the url total order
    * over live winners, which is identical across fields (same
    * (doc_id, url, warc_ts) triples, same tombstones ⇒ same winners).
    * The dead-id broadcast gate inside mergeCompact also decides
    * identically per field for the same reason. */
  def mergeCompact(spark: SparkSession, root: String, fields: Seq[FieldSpec],
                   cfg: IndexBuilder.IndexConfig = IndexBuilder.IndexConfig(),
                   maxBroadcastDeadIds: Long = 4000000L)
      : Map[String, IndexBuilder.BuildReport] = {
    require(fields.nonEmpty, "fielded compact needs at least one field")
    val snaps = snapshotsInLockstep(spark, root, fields)
    // the SAME gate mergeCompactImpl applies per root — shared helper so
    // the all-fields decision can never diverge from the per-root one
    val uniformAll = fields.forall { f =>
      val fr = fieldRoot(root, f.name)
      val stored = snaps(f.name).segments.flatMap(s =>
        IndexStore.readSegmentConfig(spark, fr, s))
      IndexBuilder.layoutUniform(stored, snaps(f.name).segments.size)
    }
    perFieldParallel(fields) { (f, _) =>
      val fr = fieldRoot(root, f.name)
      val fcfg = cfg.copy(analyzer = f.analyzer)
      if (uniformAll)
        IndexBuilder.mergeCompact(spark, fr, f.dict, fcfg, maxBroadcastDeadIds)
      else IndexBuilder.merge(spark, fr, f.dict, fcfg)
    }
  }

  /** Searcher over a fielded index: per-field search plus cross-field
    * conjunctive composition (the reference's BooleanQuery of per-field
    * clauses, `src/Searcher.java:734-736`). */
  final class FieldedSearcher(spark: SparkSession, root: String,
                              fields: Seq[FieldSpec],
                              reuseFrom: Option[FieldedSearcher] = None)
      extends AutoCloseable {
    val searchers: Map[String, Searcher] =
      fields.map { f =>
        val prior = reuseFrom.flatMap(_.searchers.get(f.name))
          .filter(!_.isClosed)
        f.name -> prior.map(_.reopen())
          .getOrElse(new Searcher(spark, fieldRoot(root, f.name), f.dict))
      }.toMap

    def searcher(field: String): Searcher = searchers(field)

    /** Refresh every field's searcher at its current latest snapshot
      * (the fielded twin of [[graft.query.Searcher.reopen]]): the
      * coordinated lifecycle advances all field roots in lockstep, so a
      * fielded refresh is N per-field reopens — each reusing its
      * unchanged segments' relations. Close `this` once in-flight
      * queries drain. */
    def reopen(): FieldedSearcher =
      new FieldedSearcher(spark, root, fields, reuseFrom = Some(this))

    /** Single-field BM25 top-k through that field's index + analyzer. */
    def searchField(field: String, query: String, k: Int, start: Int = 0,
                    conjunctive: Boolean = true): DataFrame =
      searchers(field).searchWand(query, k, start, conjunctive)

    /** The full cross-field scored match set (no limit): doc_id,
      * per-field scores, and `score` = Σ per-field BM25 summed in
      * field-name order (the fixed fold that keeps doubles
      * deterministic). `roundScoresTo` rounds the total BEFORE any
      * downstream ranking.
      *
      * Cross-field AND pruning (SURVEY §8.3): no θ can prune an AND of
      * fields (a single field's kth score does not bound the joint kth
      * — the same reason single-field AND WAND uses rarest-term
      * intersection, invariant 4), so the sound analog is
      * intersection-driven: when one field is much more selective than
      * the rest (min-df skew > 8×, the phrase-path gate), its scored
      * match set is computed first and the OTHER fields' per-term rows
      * semi-join it BEFORE their fold — their groupBy shuffles
      * O(intersection) instead of O(field match set). Sums are
      * bit-identical: restriction drops whole docs, never per-term
      * contributions, and the inner join would have dropped them
      * anyway. `pruneIntersect = false` forces the plain N-way join. */
    def scoredMulti(queries: Map[String, String],
                    roundScoresTo: Option[Int] = None,
                    pruneIntersect: Boolean = true,
                    boosts: Map[String, Double] = Map.empty): DataFrame = {
      require(queries.nonEmpty, "scoredMulti needs at least one field query")
      val ordered = queries.toSeq.sortBy(_._1)
      // the selectivity probe and the pruning decision run ONLY when the
      // gate can possibly fire (invariant 7: driver lookups are the
      // local-mode latency — a disabled or single-field call must not
      // pay extra term_stats jobs whose result it discards)
      val (best, skewed) =
        if (!pruneIntersect || ordered.size < 2) ("", false)
        else {
          // selectivity = min df over the field's analyzed terms (an
          // upper bound on its conjunctive match set); one cached
          // term_stats probe per field, same cache score() reads
          val minDf: Map[String, Long] = ordered.map { case (f, q) =>
            val s = searchers(f)
            val terms = s.analyzeQuery(q)
            val dfs =
              if (terms.isEmpty) Seq(0L)
              else {
                val sp = s.spark
                import sp.implicits._
                val present = s.termStats
                  .filter(col("term").isin(terms: _*))
                  .select("df").as[Long].collect().toSeq
                // a missing conjunctive term ⇒ empty match set ⇒ df 0
                if (present.size < terms.size) Seq(0L) else present
              }
            f -> dfs.min
          }.toMap
          val b = ordered.minBy { case (f, _) => minDf(f) }._1
          (b, ordered.map { case (f, _) => minDf(f) }.max > 8 * minDf(b))
        }
      // the selective field's scores are materialized ONCE (eager
      // localCheckpoint) and serve both as its own score column and as
      // the candidate set fed to every other field
      val bestScored: Option[DataFrame] =
        if (skewed)
          Some(searchers(best).score(queries(best))
            .select("doc_id", "score").localCheckpoint(true))
        else None
      val perField = ordered.map { case (f, q) =>
        (if (f == best && bestScored.isDefined) bestScored.get
         else searchers(f).score(q,
           among = bestScored.map(_.select("doc_id"))))
          .select(col("doc_id"), col("score").as(s"score_$f"))
      }
      val joined = perField.reduce((a, b) => a.join(b, Seq("doc_id")))
      // query-time field boosts (the `field^boost` analog): each field's
      // exact BM25 scales by its boost INSIDE the field-name-ordered fold
      // (invariant 11); boost 1.0 leaves the expression untouched so the
      // default path's arithmetic shape is literally unchanged
      val total0 = ordered.map { case (f, _) =>
        boosts.getOrElse(f, 1.0) match {
          case 1.0 => col(s"score_$f")
          case b => col(s"score_$f") * lit(b)
        }
      }.reduce(_ + _)
      val total = roundScoresTo.fold(total0)(d => round(total0, d))
      joined.withColumn("score", total)
    }

    /** Cross-field AND top-k: docs matching EVERY per-field query,
      * ranked by the summed score ([[scoredMulti]]); `roundScoresTo` is
      * the oracle-parity knob for callers whose reference ranking is
      * over rounded scores (a raw-double rank with a rounding-boundary
      * tie at the k-th cutoff would otherwise pick a different page
      * than the rounded rank). */
    def searchMulti(queries: Map[String, String], k: Int,
                    start: Int = 0,
                    roundScoresTo: Option[Int] = None,
                    boosts: Map[String, Double] = Map.empty): DataFrame =
      scoredMulti(queries, roundScoresTo, boosts = boosts)
        .orderBy(col("score").desc, col("doc_id").asc)
        .offset(start).limit(k)

    /** Cross-field AND match docset (Q8 analog for fielded queries). */
    def matchSetMulti(queries: Map[String, String]): DataFrame =
      scoredMulti(queries).select("doc_id")

    /** Sidecars (facets / dynamic JSON fields) are keyed by doc_id, and
      * doc_ids are ALIGNED across field roots — so any root's sidecar
      * serves the whole fielded deployment. Default: the first field by
      * name (deterministic); override when only one root carries the
      * sidecar. */
    private def sidecarSearcher(pick: Option[String]): Searcher =
      searchers(pick.getOrElse(searchers.keySet.min))

    /** Flat facet counts over a cross-field match set — the fielded
      * deployment keeps the single-index facet surface (reference
      * facetSearch over BooleanQuery matches, Searcher.java:1086-1283,
      * :734-736). */
    def facetSearch(queries: Map[String, String], offset: Int = 0,
                    limit: Int = 10, minCount: Long = 1,
                    facetField: Option[String] = None): DataFrame = {
      val sr = sidecarSearcher(facetField)
      graft.query.Facets.flatCounts(matchSetMulti(queries),
        sr.facetsTable.getOrElse(sys.error(
          s"field root '${facetField.getOrElse(searchers.keySet.min)}' has " +
            "no facets sidecar — rebuild with buildFacets = true")),
        offset, limit, minCount)
    }

    /** Hierarchical facet tree over a cross-field match set. */
    def facetSearchHier(queries: Map[String, String], topN: Int = 10,
                        facetField: Option[String] = None): DataFrame = {
      val sr = sidecarSearcher(facetField)
      graft.query.Facets.hierarchicalCounts(matchSetMulti(queries),
        sr.facetsTable.getOrElse(sys.error("no facets sidecar")), topN)
    }

    /** Facet math (per-label count/sum/min/max/avg + `*_total`) over a
      * cross-field match set; label dim from the sidecar, numeric values
      * from the picked field root's docstore column. */
    def facetMathSearch(queries: Map[String, String], dim: String,
                        valueCol: String,
                        facetField: Option[String] = None): DataFrame = {
      val sr = sidecarSearcher(facetField)
      val f = sr.facetsTable.getOrElse(sys.error("no facets sidecar"))
        .where(col("dim") === dim).select("doc_id", "label")
      graft.query.Facets.facetMath(matchSetMulti(queries),
        f.join(sr.valueSource(valueCol).select(col("doc_id"), col(valueCol)),
          Seq("doc_id")), valueCol)
    }

    /** Range facet counts over a cross-field match set (the Lucene
      * Long/DoubleRangeFacetCounts analog, fielded twin of
      * [[graft.query.Searcher.facetRangeSearch]]): numeric values from
      * the picked field root's docstore column. */
    def facetRangeSearch(queries: Map[String, String], valueCol: String,
                         ranges: Seq[graft.query.Facets.RangeSpec],
                         valueField: Option[String] = None): DataFrame = {
      val sr = sidecarSearcher(valueField)
      graft.query.Facets.rangeCounts(matchSetMulti(queries),
        sr.valueSource(valueCol).select(col("doc_id"), col(valueCol)),
        valueCol, ranges)
    }

    /** Drill-sideways facet counts over a cross-field match set (the
      * DrillSideways analog, fielded twin of
      * [[graft.query.Searcher.facetSearchDrillSideways]]). */
    def facetSearchDrillSideways(queries: Map[String, String],
                                 drillDowns: Map[String, String],
                                 limit: Int = 10, minCount: Long = 1,
                                 facetField: Option[String] = None): DataFrame = {
      val sr = sidecarSearcher(facetField)
      graft.query.Facets.drillSideways(matchSetMulti(queries),
        sr.facetsTable.getOrElse(sys.error("no facets sidecar")),
        drillDowns, limit, minCount)
    }

    /** Grouped cross-field top-k (the grouping-module analog over
      * [[scoredMulti]]'s summed scores; ONE window definition shared
      * with the single-index path via
      * [[graft.query.Facets.groupTopK]]). */
    def searchGrouped(queries: Map[String, String], dim: String,
                      topGroups: Int, docsPerGroup: Int,
                      roundScoresTo: Option[Int] = None,
                      boosts: Map[String, Double] = Map.empty,
                      facetField: Option[String] = None): DataFrame = {
      val sr = sidecarSearcher(facetField)
      graft.query.Facets.groupTopK(
        scoredMulti(queries, roundScoresTo, boosts = boosts),
        sr.facetsTable.getOrElse(sys.error("no facets sidecar"))
          .where(col("dim") === dim),
        topGroups, docsPerGroup)
    }

    /** Classic query-string scoring over the fielded deployment — the
      * QueryParser front door WITH `field:` support
      * ([[graft.query.QueryParser.parseFielded]]): clauses group by
      * field (un-prefixed clauses belong to `defaultField`) and each
      * field's subset resolves through ITS searcher — its analyzer, its
      * collection statistics (Lucene's per-field stats: a term's idf and
      * a doc's dl/avgdl are field-local). The per-field contribution
      * frames union (doc_ids are aligned across roots) into ONE fold
      * (invariant 11's single definition, [[graft.query.Searcher
      * .foldPrepared]] — contributions were computed per field BEFORE
      * the union so no field borrows another's avgdl), MUST requirements
      * gate globally (field-prefixed req keys can't collide), and
      * MUST_NOT doc sets exclude regardless of which field they came
      * from. A MUST unsatisfiable in ANY field ⇒ MatchNoDocs. */
    /** `field:` query string → per-field clause subsets in clause order,
      * validated against the deployment's fields (the ONE grouping
      * definition [[scoreQuery]] and [[explainQuery]] share). */
    private def clausesByField(q: String, defaultField: String)
        : Seq[(String, Seq[graft.query.QueryParser.Clause])] = {
      import graft.query.QueryParser
      val byField = QueryParser.parseFielded(q).zipWithIndex.groupBy {
        case (QueryParser.FieldQ(f, _), _) => f
        case _ => defaultField
      }
      (byField.keySet + defaultField).foreach(f =>
        require(searchers.contains(f), s"unknown field '$f' — fields: " +
          searchers.keySet.toSeq.sorted.mkString(", ")))
      byField.toSeq.sortBy(_._1).map { case (f, cs) =>
        f -> cs.sortBy(_._2).map {
          case (QueryParser.FieldQ(_, c), _) => c
          case (c, _) => c
        }
      }
    }

    def scoreQuery(q: String, defaultField: String,
                   maxExpansions: Int = 1024): DataFrame = {
      def emptyMatches: DataFrame = {
        val sp = spark
        import sp.implicits._
        Seq.empty[(Long, Int, Double)].toDF("doc_id", "matched", "score")
      }
      val parts = clausesByField(q, defaultField).map { case (f, inner) =>
        searchers(f).parsedFrames(inner, maxExpansions, keyPrefix = f + ":")
      }
      if (parts.exists(_.matchNone)) return emptyMatches
      val rowFrames = parts.flatMap(_.rows)
      if (rowFrames.isEmpty) return emptyMatches // pure NOT / nothing resolved
      val perTerm = rowFrames.reduce(_ unionByName _)
      val reqCount = parts.map(_.reqCount).sum
      val folded = graft.query.Searcher.foldPrepared(perTerm,
        withReq = reqCount > 0)
      val gated =
        if (reqCount == 0) folded
        else folded.filter(col("matched_req") === reqCount)
      val out = parts.flatMap(_.notFrames).reduceOption(_ union _) match {
        case Some(nd) => gated.join(nd, Seq("doc_id"), "left_anti")
        case None => gated
      }
      out.select("doc_id", "matched", "score")
    }

    /** Ranked page over [[scoreQuery]] — `field:` query strings through
      * the fielded deployment (`+body:spark path:seven^2 -body:fast`). */
    def searchQuery(q: String, defaultField: String, k: Int,
                    start: Int = 0, roundScoresTo: Option[Int] = None,
                    maxExpansions: Int = 1024): DataFrame = {
      val scored0 = scoreQuery(q, defaultField, maxExpansions)
      val scored = roundScoresTo.fold(scored0)(d =>
        scored0.withColumn("score", round(col("score"), d)))
      scored.orderBy(col("score").desc, col("doc_id").asc)
        .offset(start).limit(k)
    }

    /** Cross-field score explanation (the Explanation analog over
      * [[scoreQuery]]): `docId`'s per-clause-term breakdown across every
      * field — (field, term, weight, tf, dl, idf, contrib) in the exact
      * (term, contrib) fold order; when the doc IS a match, sum(contrib)
      * equals its [[searchQuery]] score bit-identically. Debugging
      * surface: MUST gating / NOT exclusion are not applied. */
    def explainQuery(q: String, docId: Long, defaultField: String,
                     maxExpansions: Int = 1024): DataFrame = {
      val frames = clausesByField(q, defaultField).flatMap {
        case (f, inner) =>
          searchers(f).parsedFrames(inner, maxExpansions, keyPrefix = f + ":")
            .rows.map(_.withColumn("field", lit(f)))
      }
      val sp = spark
      import sp.implicits._
      if (frames.isEmpty)
        Seq.empty[(String, String, Double, Int, Int, Double, Double)]
          .toDF("field", "term", "weight", "tf", "dl", "idf", "contrib")
      else frames.reduce(_ unionByName _)
        .where(col("doc_id") === docId)
        .select("field", "term", "weight", "tf", "dl", "idf", "contrib")
        .orderBy(col("term"), col("contrib"))
    }

    /** Cross-field top-k restricted to docs whose dynamic JSON field
      * matches (the sidecar written by IndexBuilder.buildJsonSidecar on
      * any one field root — doc_id alignment makes it serve all). */
    def searchJsonFiltered(queries: Map[String, String], k: Int,
                           key: String, pred: Column, start: Int = 0,
                           roundScoresTo: Option[Int] = None,
                           jsonField: Option[String] = None): DataFrame =
      scoredMulti(queries, roundScoresTo)
        .join(sidecarSearcher(jsonField).docsWithJsonField(key, pred),
          Seq("doc_id"), "left_semi")
        .orderBy(col("score").desc, col("doc_id").asc)
        .offset(start).limit(k)

    override def close(): Unit = searchers.values.foreach(_.close())
  }
}
