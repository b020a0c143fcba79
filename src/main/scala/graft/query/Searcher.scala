package graft.query

import graft.analysis.{Analyzer, SynonymDict, Tokenizer}
import graft.functions.graftFunctions._
import graft.index.IndexStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** BM25 top-k query engine over the term-partitioned compressed index
  * (SURVEY.md §2.4, §3.2).
  *
  * Reference semantics reproduced (cites into
  * `/root/reference/LuceneSearchEngine/src/Searcher.java`):
  *  - Lucene 6.3 default BM25 (k1=1.2, b=0.75), version pin :106;
  *    `idf = ln(1 + (N − df + 0.5)/(df + 0.5))`,
  *    `w = idf · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))`
  *  - filter clause matches but does not score (Q1, :727-744) — the
  *    filter is applied to the docstore side, never enters the score
  *  - null/empty query → MatchNoDocs (Q2, :742)
  *  - top-k by (score desc, docId asc) (Q3, :779-787) —
  *    `orderBy(...).limit(k)` plans TakeOrderedAndProject = per-partition
  *    bounded heap + driver merge, the collector architecture itself
  *  - sort-by-field / docid-order / set-only modes (Q6/Q7/Q8, :788-820)
  *  - pagination via start+rows clamp then slice (Q11, :760-766,852-854)
  *  - hit metadata: totalHits, maxScore (Q12, :836-882)
  *
  * Rank-identical floats: per-doc score is the fold of per-term
  * contributions sorted by term (sort_array before aggregate), so the
  * double summation order is fixed — identical to the golden model's —
  * regardless of partitioning (SURVEY.md §7 hard-part 2).
  *
  * Deletes/upserts: older doc versions and tombstoned urls form the
  * "dead docs" set (Lucene liveDocs analog), anti-joined before scoring.
  * Collection statistics deliberately include dead docs until [[
  * graft.index.IndexBuilder.merge]] — exactly Lucene's behavior for
  * deleted-but-unmerged docs.
  */
final class Searcher(
    val spark: SparkSession,
    val root: String,
    dict: SynonymDict = SynonymDict.empty,
    k1: Double = 1.2,
    b: Double = 0.75,
    /** Above this many dead docs the liveDocs anti-join falls back to a
      * shuffle: after heavy pre-merge upsert churn the dead set is
      * O(corpus), and a forced broadcast of it would OOM the driver. */
    maxBroadcastDeadDocs: Long = 2000000L,
    /** TIME TRAVEL (Iceberg snapshot-read analog): open the index at a
      * specific snapshot id instead of LATEST — the searcher then serves
      * exactly that snapshot's segment + tombstone view (the reference
      * keeps superseded readers open across hot-swaps the same way,
      * Searcher.java:527-583). Fails loudly on an expired/unknown id. */
    snapshotId: Option[Long] = None,
    /** Set by [[reopen]] only: the predecessor searcher whose per-segment
      * relations (and, when safe, document LRU) are carried over. */
    reuseFrom: Option[Searcher] = None,
    /** Summed-df gate between the two phrase-alignment shapes (see
      * [[Searcher.PhraseJoinMinDf]]); a parameter so specs can force
      * the chain-join path on small corpora. */
    phraseJoinMinDf: Long = Searcher.PhraseJoinMinDf)
    extends AutoCloseable {

  import spark.implicits._

  val snapshot: IndexStore.Snapshot = snapshotId match {
    case Some(id) => IndexStore.readSnapshotAt(spark, root, id)
      .getOrElse(sys.error(s"no snapshot $id at $root — expired or never " +
        s"written (retained: ${IndexStore.listSnapshots(spark, root)})"))
    case None => IndexStore.readLatestSnapshot(spark, root)
      .getOrElse(sys.error(s"no snapshot at $root"))
  }

  /** Relations carried over from the predecessor (reopen path): a
    * segment directory is immutable once its snapshot commits, so a
    * segment present in BOTH snapshots can reuse the old searcher's
    * relations — including their driver-side file indexes — making a
    * refresh O(new segments) instead of O(all segments). */
  private val reusedTables: Map[String, Searcher.SegTables] =
    reuseFrom match {
      case Some(old) if !old.isClosed && old.root == root =>
        snapshot.segments.filter(old.segTables.contains)
          .map(s => s -> old.segTables(s)).toMap
      case _ => Map.empty
    }

  /** How many segments [[reopen]] carried over (ops/test visibility). */
  val reusedSegmentCount: Int = reusedTables.size

  /** All per-segment relations, opened IN PARALLEL: each pinned-schema
    * read ([[IndexStore.readDocstore]] and friends — no footer-inference
    * job) still pays a driver-side file listing, and doing the tables ×
    * N segments serially made the cold ctor the dominant open cost on
    * churned roots (~5-7 s at 20 segments — larger than the liveDocs
    * derivation it precedes). A bounded pool overlaps the listings;
    * relation creation is driver-only and thread-safe. The new
    * segments' stats rows come from one Spark job. Reused segments skip
    * the open entirely. */
  private val segTables: Map[String, Searcher.SegTables] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val toOpen = snapshot.segments.filterNot(reusedTables.contains)
    if (toOpen.isEmpty) reusedTables
    else {
      val stats = IndexStore.readSegmentStats(spark, root, toOpen)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(math.max(toOpen.size, 1), 8))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val futs = toOpen.map(s => Future(s -> Searcher.SegTables(
          IndexStore.readDocstore(spark, root, s),
          IndexStore.readPostingsOrEmpty(spark, root, s),
          IndexStore.readTermStats(spark, root, s),
          stats(s),
          IndexStore.readSegmentConfig(spark, root, s))))
        Await.result(Future.sequence(futs), 10.minutes).toMap ++ reusedTables
      } finally pool.shutdown()
    }
  }

  private def unionSegs(tableOf: Searcher.SegTables => DataFrame): DataFrame =
    snapshot.segments.map(s => tableOf(segTables(s))).reduce(_ unionByName _)

  /** Row store (S8): doc_id, url, warc_ts, lang, text, dl — UNCACHED
    * (parquet-backed; column pruning keeps narrow reads cheap). The
    * `text` column is O(corpus bytes) — the same class as posting blobs
    * under the no-blob-persist invariant — so it is never cached: page
    * fetches read it from parquet for ≤ k ids ([[fetchByIds]]). */
  val docstore: DataFrame = unionSegs(_.docstore)

  /** The cached per-query hot set (doc_id, url, warc_ts, lang, dl):
    * liveDocs derivation, filter clauses, and rank-time metadata all
    * come from here — O(rows × ~100B) instead of O(corpus text). */
  private val narrowCols = Seq("doc_id", "url", "warc_ts", "lang", "dl")
  private val narrowSet = narrowCols.toSet
  private val docstoreNarrow: DataFrame =
    docstore.select(narrowCols.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Column names referenced by a caller's filter/sort expression —
    * unresolved attributes by their last name part (qualifiers can only
    * name this single relation). Drives [[resolvesOnNarrow]]: routing is
    * decided by INSPECTION, never by swallowing AnalysisException (a
    * catch-all would silently reroute a typo'd column — or any future
    * non-resolution analysis error — to the full-docstore plan, where it
    * only surfaces later and further from the cause). */
  private def refNames(c: Column): Set[String] =
    org.apache.spark.sql.graft.Bridge.catalystExpression(c).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.last.toLowerCase
      case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
        a.name.toLowerCase
    }.toSet

  /** Do the expressions touch only the narrow cached columns? True ⇒
    * plan on [[docstoreNarrow]]; false ⇒ the parquet-backed docstore
    * (e.g. a predicate over text — pushed into the scan). A genuinely
    * unknown column fails analysis loudly on the docstore plan. */
  private def resolvesOnNarrow(cols: Seq[Column]): Boolean =
    cols.forall(c => refNames(c).subsetOf(narrowSet))

  /** Stored-field rows for an explicit id set: a `doc_id IN (...)`
    * literal against the docstore parquet. doc_ids are assigned in url
    * sort order, so docstore row groups carry tight doc_id ranges and
    * the scan prunes to ~|ids| row groups — the text column is read for
    * the page, never the corpus. */
  private def fetchByIds(ids: Array[Long]): DataFrame =
    if (ids.isEmpty) docstore.limit(0)
    else docstore.filter(col("doc_id").isin(ids: _*))

  /** One postings relation per segment, created ONCE (in [[segTables]]):
    * re-reading per query would re-list the partition directories on
    * every plan (driver-side latency), while a shared relation caches
    * its file index. Read with the pinned [[IndexStore.postingsSchema]],
    * which also covers S7's create-empty-index case (no footers). */
  private val segPostings: Map[String, DataFrame] =
    segTables.view.mapValues(_.postings).toMap

  val postings: DataFrame =
    snapshot.segments.map(segPostings).reduce(_ unionByName _)

  private val segConfigs: Map[String, Option[IndexStore.SegmentConfig]] =
    segTables.view.mapValues(_.config).toMap

  // fail LOUDLY on a posting-format mismatch: a stale segment would
  // otherwise misparse blobs into garbage doc_ids (the blob magic byte is
  // the second line of defense inside VarByte itself). Mixed v2/v3
  // segments are FINE to serve — every blob self-describes — only
  // unsupported (pre-v2) formats are refused.
  segConfigs.foreach { case (seg, c) =>
    c.foreach(cc => require(
      graft.codec.VarByte.SupportedVersions.contains(cc.formatVersion),
      s"segment $seg has posting format v${cc.formatVersion}; this build " +
        s"reads v${graft.codec.VarByte.SupportedVersions.toSeq.sorted
          .mkString("/v")} — rebuild or merge"))
  }

  /** Phrase queries need every segment built with `indexPositions`. */
  val positionsIndexed: Boolean =
    segConfigs.values.forall(_.exists(_.hasPositions))

  /** Per-index analyzer mode (the reference's per-field analyzer
    * dispatch, Indexer.java:420): the query side MUST analyze with the
    * same mode the index was built with, so it is read from the segment
    * configs and required to be uniform across segments. */
  val analyzerMode: String = {
    val modes = segConfigs.values.flatten.map(_.analyzer).toSet
    require(modes.size <= 1,
      s"segments were built with different analyzers: $modes — merge first")
    modes.headOption.getOrElse(Tokenizer.Text)
  }

  /** Posting rows restricted to `terms` with PLAN-TIME partition pruning:
    * each segment's candidate `part=` set is recomputed from its stored
    * build config ({partOf(term, salt) | salt < fanout} per term) — the
    * scan touches ≤ |terms|·fanout partition directories instead of the
    * whole layout. Row-group stats on `term` prune within the survivors.
    * Segments without a config file (none in practice) fall back to the
    * term-filtered full scan. */
  private def postingsForTerms(terms: Seq[String]): DataFrame =
    snapshot.segments.map { seg =>
      val df = segPostings(seg).filter(col("term").isin(terms: _*))
      segConfigs(seg) match {
        case Some(c) =>
          val parts = terms.flatMap(t => (0 until c.saltFanout).map(s =>
            graft.index.IndexBuilder.partOf(t, s, c.numParts))).distinct
          df.filter(col("part").isin(parts: _*))
        case None => df
      }
    }.reduce(_ unionByName _)
      // bound the CONCURRENCY of blob scans, not their volume: each
      // scan task transiently holds a whole row-group batch plus the
      // vb_decode output for a multi-MB blob (~30-60 MB of unmanaged
      // heap) while the fold/join stages above rightfully absorb most
      // of the managed pool. 32 such tasks on one flat-8g JVM was the
      // 20M-dress head-term OOM regime (exact fold over a 2-segment
      // view died allocating 3 WORDS); a quarter of the parallelism
      // caps per-JVM transients and costs little wall — streaming
      // decode is memory-bandwidth-bound past ~16 threads on one box
      // (BENCH.md scaling ladder), and on a cluster the bound scales
      // with total cores. Downstream shuffles restore full parallelism.
      .coalesce(math.max(8, spark.sparkContext.defaultParallelism / 4))

  /** Global per-term stats across segments (term_stats is per segment):
    * df, ttf, and the term-level WAND bound inputs (max tf, min dl). */
  val termStats: DataFrame =
    unionSegs(_.termStats)
      .groupBy("term").agg(sum("df").as("df"), sum("ttf").as("ttf"),
        max("max_tf").as("max_tf"), min("min_dl").as("min_dl"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Collection statistics (S10): N, avgdl over all segments, from the
    * stats rows read at open (no job here). */
  val (docCount: Long, avgdl: Double) = {
    val st = snapshot.segments.map(segTables(_).stats)
    val n = st.map(_.docCount).sum
    val s = st.map(_.sumDl).sum
    (n, if (n == 0) 0.0 else s.toDouble / n)
  }

  /** Lucene-liveDocs analog: doc_ids superseded by a newer version of the
    * same url (upsert) or tombstoned (delete). Usually small; broadcast
    * into an anti-join on the match path.
    *
    * The superseded side comes from the per-append sidecar batches
    * (`snapshot.dead` — maintained incrementally by
    * [[graft.index.IndexBuilder.appendSegment]]), so a cold open on a
    * churned 50-segment root reads O(appends) tiny parquet files
    * instead of paying a full-corpus window shuffle before the first
    * query. Only LEGACY snapshots (no `dead` key, pre-round-5 layouts)
    * fall back to deriving the set with the window. */
  val deadDocs: DataFrame = {
    val w = Window.partitionBy("url")
      .orderBy(col("warc_ts").desc, col("doc_id").desc)
    val superseded = snapshot.dead match {
      case Some(batches) =>
        IndexStore.readDeadIdsDf(spark, root, batches) match {
          case None => spark.emptyDataset[Long].toDF("doc_id")
          case Some(raw) =>
            // restrict to ids whose rows still EXIST: a tiered
            // compaction pass drops its tier's dead rows but carries
            // the batches, so raw ids can be stale — harmless in the
            // anti-joins but they would inflate deadDocCount and make
            // numDocs undercount. The batch count comes from the
            // write-time `.count` sidecars (no job) and gates
            // broadcast-vs-shuffle exactly like the tombstone side.
            val n = IndexStore.deadIdsCount(spark, root, batches)
              .getOrElse(raw.count())
            val side = if (n <= maxBroadcastDeadDocs) broadcast(raw) else raw
            docstoreNarrow.join(side, Seq("doc_id"), "left_semi")
              .select("doc_id")
        }
      case None if snapshot.segments.size == 1 =>
        spark.emptyDataset[Long].toDF("doc_id")
      case None =>
        docstoreNarrow.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") > 1).select("doc_id")
    }
    val deleted =
      IndexStore.readTombstonesDf(spark, root, snapshot.tombstones) match {
        case None => spark.emptyDataset[Long].toDF("doc_id")
        case Some(tombs) =>
          // same size gate as the deadDocs broadcast below: after a mass
          // deletion the tombstone table is O(corpus) and force-
          // broadcasting it would OOM the driver — fall back to a
          // shuffle semi-join. The count comes from the write-time
          // sidecar (zero jobs); only legacy batches pay a count()
          val n = IndexStore
            .tombstoneCount(spark, root, snapshot.tombstones)
            .getOrElse(tombs.count())
          val side =
            if (n <= maxBroadcastDeadDocs) broadcast(tombs)
            else tombs
          docstoreNarrow.join(side, Seq("url"), "left_semi").select("doc_id")
      }
    superseded.union(deleted).distinct().persist(StorageLevel.MEMORY_AND_DISK)
  }
  private lazy val deadDocCount: Long = deadDocs.count()
  private lazy val hasDeadDocs: Boolean = deadDocCount > 0

  val maxDoc: Long = docCount
  def numDocs: Long = docCount - deadDocCount // S9: live doc count
  /** Superseded + tombstoned doc count (reference numDeletedDocs,
    * Searcher.java:698). */
  def numDeletedDocs: Long = deadDocCount

  // serving counters (reference totalSearchCnt / currentSearchCnt /
  // isClosePossible, Searcher.java:162-163,1614-1634 — ops metrics and
  // safe-close coordination); maintained by [[withServingConf]], the
  // choke point every eager serving path passes through
  private val totalSearches = new java.util.concurrent.atomic.AtomicLong(0)
  private val activeSearches = new java.util.concurrent.atomic.AtomicInteger(0)
  private val closedFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
  def totalSearchCount: Long = totalSearches.get
  def activeSearchCount: Int = activeSearches.get

  /** Auto-captured warmup set (the reference records every served query
    * for replay on searcher swap, `addWarmupQuery`
    * Searcher.java:628-644,831): a bounded recency ring of the replayable
    * descriptors of top-level search/searchWand/searchPhrase requests.
    * Queries with a `filter` Column are NOT captured — a Column has no
    * faithful string round-trip to replay from. */
  private val warmupRing = new LruCache[Searcher.WarmupQuery, Unit](128)
  private def captureWarmup(wq: => Searcher.WarmupQuery): Unit =
    if (servingEntryDepth.get == 1) warmupRing.put(wq, ())
  /** The captured warmup queries, least- to most-recently served. */
  def warmupQueries: Seq[Searcher.WarmupQuery] = warmupRing.keys

  /** Replay `queries` through the normal serving paths (the reference's
    * `warmup()`, Searcher.java:585-626): materializes the persisted
    * narrow frames, runs the term_stats probe, and fills the query
    * pipeline's JIT/page-cache working set before the searcher takes
    * traffic. Best-effort BY DEFINITION — a query that fails to replay
    * (e.g. a phrase captured on a positional index replayed on a
    * non-positional one) is skipped, never fails the swap. Returns the
    * number successfully replayed. Replayed queries re-capture into THIS
    * searcher's ring, so the warmup set survives swap chains. */
  def warmup(queries: Seq[Searcher.WarmupQuery]): Int = {
    var ok = 0
    queries.foreach { w =>
      try {
        (w.mode match {
          case "wand" => searchWand(w.query, w.k, w.start, w.conjunctive,
            notQuery = w.notQuery, minShouldMatch = w.minShouldMatch)
          case "exact" => search(w.query, w.k, w.start, w.conjunctive,
            notQuery = w.notQuery, minShouldMatch = w.minShouldMatch)
          case "phrase" => searchPhrase(w.query, w.k, w.start,
            notQuery = w.notQuery, slop = w.slop)
          case other => sys.error(s"unknown warmup mode '$other'")
        }).collect()
        ok += 1
      } catch { case scala.util.control.NonFatal(_) => }
    }
    ok
  }

  /** Replay a file-sourced warmup list (the reference's warmup file,
    * format `query␟mode␟sort␟start␟rows␟needScore`, Searcher.java:658-670
    * — ours is the TAB-separated [[Searcher.WarmupQuery.parse]] form).
    * Blank lines and `#` comments are skipped; malformed lines fail
    * LOUDLY at parse, before any replay runs. */
  def warmupFromFile(path: String): Int = {
    val f = IndexStore.fs(spark, path)
    val in = f.open(new org.apache.hadoop.fs.Path(path))
    val text =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val parsed = text.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(Searcher.WarmupQuery.parse).toVector
    warmup(parsed)
  }
  def isClosePossible: Boolean = activeSearches.get == 0
  def isClosed: Boolean = closedFlag.get

  /** Query analysis = the index-time chain ([[graft.analysis.Analyzer]]:
    * tokenize → uppercase → synonym expand) + dedup; term order fixed by
    * sort for the deterministic score fold. Duplicate query terms
    * collapse (documented simplification; golden model shares this
    * contract). */
  def analyzeQuery(query: String): Seq[String] =
    Analyzer.terms(query, analyzerMode, dict).distinct.sorted.toSeq

  final case class TermInfo(term: String, df: Long, idf: Double,
                            maxTf: Int, minDl: Int)

  /** Per-term idf + WAND bound inputs over terms present in the index:
    * ONE driver-side lookup of the (tiny, cached) term_stats per query —
    * the broadcast of collection stats the reference reads per query
    * (Searcher.java:722-725). */
  private def termIdfs(terms: Seq[String]): Seq[TermInfo] =
    if (terms.isEmpty) Seq.empty
    else termInfosWhere(col("term").isin(terms: _*), cap = None)

  /** The ONE term_stats-row → TermInfo/idf construction every query
    * path shares (invariant 11's single-definition discipline: literal
    * terms and multi-term expansions must never diverge on idf
    * arithmetic). Rows matching `pred` from the cached term_stats probe,
    * term-sorted. `cap` (the Lucene maxClauseCount analog) fails LOUDLY
    * on overflow — silent truncation would silently change results. */
  private def termInfosWhere(pred: Column, cap: Option[Int]): Seq[TermInfo] = {
    val base = termStats.filter(pred).select("term", "df", "max_tf", "min_dl")
    val rows = cap.map(c => base.limit(c + 1)) // +1 only to detect overflow cheaply
      .getOrElse(base).as[(String, Long, Int, Int)].collect()
    cap.foreach(c => require(rows.length <= c,
      s"multi-term query expands to > maxExpansions=$c index terms — " +
        "narrow the pattern or raise the cap"))
    rows.sortBy(_._1).toSeq.map { case (t, df, mt, md) =>
      mkTermInfo(t, df, mt, md)
    }
  }

  /** THE idf arithmetic (invariant 11: one definition — [[termInfosWhere]]
    * and the parsed-query probe must never diverge). */
  private def mkTermInfo(term: String, df: Long, maxTf: Int,
                         minDl: Int): TermInfo =
    TermInfo(term, df,
      math.log(1.0 + (docCount - df + 0.5) / (df + 0.5)), maxTf, minDl)

  private def emptyMatches: DataFrame =
    spark.emptyDataset[(Long, Int, Double)].toDF("doc_id", "matched", "score")

  /** Serving-path actions run with AQE disabled: adaptive execution
    * re-plans at every shuffle-stage boundary, adding a scheduler
    * barrier per stage — at 32-partition serving shuffles that is pure
    * per-query latency (invariant 7; measured on the reference query
    * set: avg −30%, max −39%, one fewer job per multi-term query). The
    * conf flips around the EAGER serving paths only and is restored
    * after (builds/compactions on the same session keep their setting;
    * a concurrent query on another thread of this session during the
    * window would also run non-adaptive — identical results, AQE is an
    * execution strategy). The flip is REFERENCE-COUNTED so concurrent
    * serving threads can't race a mid-query restore: the first query in
    * flips, the last one out restores the captured previous value. */
  private val servingConfLock = new Object
  private var servingDepth = 0
  private var prevAdaptive: Option[String] = None
  /** Per-thread nesting depth: serving paths compose (searchWand's
    * small-df fallback calls [[search]], searchWithMeta wraps a search,
    * …) and only the TOP-LEVEL entry is a request — admission control
    * (closed check) and the serving counters apply there alone. A
    * nested entry inside an already-admitted request must never be
    * rejected: graceful close would otherwise kill the very in-flight
    * query it is draining. */
  private val servingEntryDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  private def withServingConf[T](f: => T): T = {
    val depth: Int = servingEntryDepth.get
    val topLevel = depth == 0
    if (topLevel) {
      require(!closedFlag.get, s"searcher at $root is closed")
      totalSearches.incrementAndGet()
      activeSearches.incrementAndGet()
    }
    servingEntryDepth.set(depth + 1)
    val key = "spark.sql.adaptive.enabled"
    servingConfLock.synchronized {
      servingDepth += 1
      if (servingDepth == 1) {
        prevAdaptive = spark.conf.getOption(key)
        spark.conf.set(key, "false")
      }
    }
    try f
    finally {
      servingConfLock.synchronized {
        servingDepth -= 1
        if (servingDepth == 0) prevAdaptive match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
      servingEntryDepth.set(depth)
      if (topLevel) activeSearches.decrementAndGet()
    }
  }

  /** The shared exact score fold over per-(term, doc) rows
    * `(term, doc_id, tf, dl, idf)`: per-term contributions summed in
    * ascending term order — the bit-identical-determinism contract
    * shared with the golden model and the WAND rescore phase. ONE
    * definition for every exact path (invariant 11): the single-query
    * paths group by doc_id, [[searchBatch]] by (query_id, doc_id). */
  private def contribBase: Column =
    col("idf") * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))

  private def foldScores(perTerm: DataFrame,
                         keys: Seq[String] = Seq("doc_id"),
                         withReq: Boolean = false,
                         pivotTerms: Option[Seq[String]] = None): DataFrame = {
    // query-time clause boosts ([[scoreParsed]]) ride as a `weight`
    // multiplier when the per-term rows carry one; paths without the
    // column keep the invariant-3 arithmetic shape literally untouched.
    // Weighted rows never pivot: a zero/negative weight could break the
    // `+0.0 is exact` argument in [[Searcher.foldPrepared]].
    val weighted = perTerm.columns.contains("weight")
    val contrib = if (weighted) col("weight") * contribBase else contribBase
    Searcher.foldPrepared(perTerm.withColumn("contrib", contrib), keys,
      withReq, if (weighted) None else pivotTerms)
  }

  /** The non-scoring filter clause (Q1): narrow-column predicates
    * (lang/url/ts/dl) hit the cache; a text predicate pushes into the
    * parquet scan instead. */
  private def applyFilterClause(rows: DataFrame,
                                filter: Option[Column]): DataFrame =
    filter match {
      case Some(f) =>
        val src =
          if (resolvesOnNarrow(Seq(f))) docstoreNarrow.where(f)
          else docstore.where(f)
        rows.join(src.select("doc_id"), Seq("doc_id"), "left_semi")
      case None => rows
    }

  /** Drop rows of superseded/tombstoned docs (size-gated broadcast). */
  private def dropDead(rows: DataFrame): DataFrame =
    if (!hasDeadDocs) rows
    else if (deadDocCount <= maxBroadcastDeadDocs)
      rows.join(broadcast(deadDocs), Seq("doc_id"), "left_anti")
    else rows.join(deadDocs, Seq("doc_id"), "left_anti")

  /** Restrict matches to the non-scoring filter clause and drop dead
    * docs (both row-level semi/anti joins — order-independent). */
  private def applyMatchSetRestrictions(rows: DataFrame,
                                        filter: Option[Column]): DataFrame =
    dropDead(applyFilterClause(rows, filter))

  /** Match + score: returns (doc_id, matched, score). The posting scan is
    * a literal `term IN (...)` filter, so Parquet row-group pruning (term
    * is the sort key within each part) skips everything else; blobs
    * decode via the codegen'd vb_decode expression. `dl` rides inside the
    * postings (norms colocation), so scoring needs NO docstore join — the
    * docstore is touched only by an explicit filter clause. */
  private def scoredMatches(terms: Seq[String], idfs: Seq[TermInfo],
                            filter: Option[Column],
                            among: Option[DataFrame] = None,
                            required: Set[String] = Set.empty): DataFrame = {
    if (terms.isEmpty || docCount == 0 || idfs.isEmpty) return emptyMatches

    val idfDf =
      if (required.isEmpty) idfs.map(i => (i.term, i.idf)).toDF("term", "idf")
      else idfs.map(i => (i.term, i.idf,
          if (required(i.term)) i.term else null))
        .toDF("term", "idf", "req_clause")

    val decoded = postingsForTerms(idfs.map(_.term))
      .select(col("term"), explode(vb_decode(col("blob"))).as("p"))
      .select(col("term"), col("p.doc_id").as("doc_id"),
        col("p.tf").as("tf"), col("p.dl").as("dl"))
      .join(broadcast(idfDf), Seq("term"))

    // candidate restriction BEFORE the fold: the groupBy then shuffles
    // only the intersection's per-term rows
    val restricted = applyMatchSetRestrictions(decoded, filter)
    foldScores(among.fold(restricted)(c =>
      restricted.join(c.select("doc_id"), Seq("doc_id"), "left_semi")),
      withReq = required.nonEmpty,
      pivotTerms = Some(idfs.map(_.term)))
  }

  /** Doc set containing ANY of the given index-present NOT terms
    * (unscored): the MUST_NOT side of the reference's BooleanQuery
    * (`Occur` clauses, Searcher.java:734-736). Presence must already be
    * resolved by the caller's single term_stats probe. */
  private def notDocSet(presentNotTerms: Seq[String]): Option[DataFrame] =
    if (presentNotTerms.isEmpty) None
    else Some(postingsForTerms(presentNotTerms)
      .select(explode(vb_decode(col("blob"))).as("p"))
      .select(col("p.doc_id").as("doc_id")).distinct())

  /** Conjunctive (AND, Q5) or disjunctive (OR) match set with scores.
    * AND with any zero-df term ⇒ MatchNoDocs (BooleanQuery MUST).
    * `notQuery` terms are MUST_NOT clauses: matching docs are excluded
    * and never score (left-anti on the NOT-term doc set).
    * `minShouldMatch` (OR mode only) is Lucene's
    * minimumNumberShouldMatch: a doc must match at least that many
    * distinct SHOULD terms.
    * `among` (when set) restricts the match set to a candidate doc_id
    * frame BEFORE the fold — non-scoring, like a filter clause; the
    * cross-field pruning hook ([[graft.index.FieldedIndex
    * .FieldedSearcher.scoredMulti]] semi-joins the less selective
    * fields' per-term rows to the most selective field's matches, so
    * their fold shuffles O(intersection) instead of O(field match
    * set)). Scores of surviving docs are bit-identical: restriction
    * removes whole docs, never per-term contributions. */
  def score(query: String, conjunctive: Boolean = true,
            filter: Option[Column] = None,
            notQuery: Option[String] = None,
            minShouldMatch: Int = 0,
            among: Option[DataFrame] = None): DataFrame = {
    val terms = analyzeQuery(query)
    val notTerms = notQuery.map(analyzeQuery).getOrElse(Seq.empty)
    // ONE driver lookup covers MUST and MUST_NOT terms (per-query
    // latency is job-count-bound: one cached term_stats probe, always)
    val all = termIdfs((terms ++ notTerms).distinct)
    val termSet = terms.toSet
    val idfs = all.filter(i => termSet.contains(i.term))
    val notSet = notTerms.toSet
    val presentNot = all.map(_.term).filter(notSet.contains)
    val scored = scoredMatches(terms, idfs, filter, among)
    val must =
      if (conjunctive) {
        if (idfs.size < terms.size) scored.where(lit(false))
        else scored.filter(col("matched") === terms.size)
      } else if (minShouldMatch > 0)
        scored.filter(col("matched") >= minShouldMatch)
      else scored
    notDocSet(presentNot) match {
      case Some(nd) => must.join(nd, Seq("doc_id"), "left_anti")
      case None => must
    }
  }

  /** Mixed MUST/SHOULD BooleanQuery (the reference's full Occur clause
    * set, Searcher.java:734-736): the match set is docs containing
    * EVERY must term; should terms add their BM25 contributions to
    * matching docs without constraining the set (Lucene BooleanQuery
    * scoring — a SHOULD clause alongside MUSTs is a pure score
    * booster). `must` empty = pure disjunction over `should`;
    * `should` empty = pure conjunction — [[score]]'s two modes are the
    * degenerate cases. A term in both clause sets is MUST (clauses
    * dedup — documented simplification, same as duplicate query
    * terms). ONE term_stats probe covers MUST + SHOULD + MUST_NOT. */
  def scoreBoolean(mustQuery: String, shouldQuery: String,
                   filter: Option[Column] = None,
                   notQuery: Option[String] = None): DataFrame = {
    val must = analyzeQuery(mustQuery)
    val mustSet = must.toSet
    val terms = (must ++ analyzeQuery(shouldQuery)).distinct.sorted
    val notTerms = notQuery.map(analyzeQuery).getOrElse(Seq.empty)
    if (terms.isEmpty) return emptyMatches
    val all = termIdfs((terms ++ notTerms).distinct)
    val present = all.map(_.term).toSet
    // a MUST term absent from the index matches nothing (MatchNoDocs)
    if (!must.forall(present)) return emptyMatches
    val termSet = terms.toSet
    val idfs = all.filter(i => termSet.contains(i.term))
    val presentNot = notTerms.distinct.filter(present)
    val scored0 =
      scoredMatches(terms, idfs, filter, required = mustSet)
    val scored =
      if (must.isEmpty) scored0
      else scored0.filter(col("matched_req") === must.size)
    val out = notDocSet(presentNot) match {
      case Some(nd) => scored.join(nd, Seq("doc_id"), "left_anti")
      case None => scored
    }
    out.select("doc_id", "matched", "score")
  }

  /** BooleanQuery top-k page over [[scoreBoolean]]. */
  def searchBoolean(mustQuery: String, shouldQuery: String, k: Int,
                    start: Int = 0, filter: Option[Column] = None,
                    notQuery: Option[String] = None): DataFrame =
    withServingConf {
      val topk = scoreBoolean(mustQuery, shouldQuery, filter, notQuery)
        .orderBy(col("score").desc, col("doc_id").asc)
        .offset(start).limit(k)
      fetchPage(topk)
    }

  // ---- parsed-query execution (the classic QueryParser analog) -------

  /** Resolves a parsed clause list ([[QueryParser]]) into the weighted
    * per-(term, doc) rows every exact path folds, plus the MUST-clause
    * count and the MUST_NOT doc-set frames. `None` = MatchNoDocs (a
    * MUST term absent from the index, a MUST expansion matching
    * nothing, a MUST phrase with an absent term, or no scoring clause
    * at all — a pure-NOT query matches nothing, like Lucene).
    *
    * Job shape (the 100-TB posture): ONE term_stats probe resolves
    * every literal term AND every expansion predicate together — the
    * clause-membership flags ride the same collect as extra boolean
    * columns — then one `term IN` row-group-pruned posting scan covers
    * all non-phrase clauses and one positional scan serves each phrase
    * clause. Clause weights and MUST markers travel in the broadcast
    * term frame, so the fold stays a single aggregation. */
  private[graft] def parsedFrames(clauses: Seq[QueryParser.Clause],
                                  maxExpansions: Int,
                                  keyPrefix: String = "")
      : Searcher.ParsedFrames = {
    import QueryParser._
    import Searcher.ParsedFrames
    import scala.collection.mutable.ArrayBuffer
    require(!clauses.exists(_.isInstanceOf[FieldQ]),
      "a field-scoped clause reached a single-index executor — run " +
        "fielded queries through FieldedSearcher.searchQuery")
    if (docCount == 0)
      // an empty index: any MUST clause ⇒ MatchNoDocs (Lucene); pure
      // SHOULD/NOT subsets contribute and exclude nothing
      return if (clauses.exists(_.occur == Must)) Searcher.matchNoDocs
      else ParsedFrames(None, 0, Nil, matchNone = false)

    // -- resolution: clauses → analysis-level sub-clauses, each tagged
    // with its requirement group (reqId >= 0 ⇒ the sub belongs to MUST
    // requirement #reqId, counted once per doc however many members
    // match; -1 ⇒ pure SHOULD). An ungrouped MUST term clause fans each
    // analyzed term into its OWN requirement (`+a b` composes exactly
    // like the established conjunctive contract); a parenthesized MUST
    // group is ONE requirement satisfied by ANY member — the same
    // any-of shape a MUST expansion clause already has. Clauses whose
    // analysis is empty are dropped (the classic parser does the same).
    val termSubs = ArrayBuffer.empty[(String, Double, Int)]
    val expSubs = ArrayBuffer.empty[(Column, Double, Int)]
    val phraseSubs = ArrayBuffer.empty[(Seq[String], Int, Double, Int)]
    val notTerms = ArrayBuffer.empty[String]
    val notExpPreds = ArrayBuffer.empty[Column]
    val notPhrases = ArrayBuffer.empty[(Seq[String], Int)]
    var nReq = 0
    def newReq(): Int = { nReq += 1; nReq - 1 }

    def wildcardRegex(pat: String): String =
      pat.map {
        case '*' => ".*"
        case '?' => "."
        case ch => java.util.regex.Pattern.quote(ch.toString)
      }.mkString

    /** A requirement id allocated on FIRST use: a MUST clause (or group)
      * whose entire analysis is empty must be DROPPED like the classic
      * parser drops it — an eagerly-allocated empty requirement would
      * turn it into MatchNoDocs instead. */
    def lazyReq(): () => Int = {
      var id = Int.MinValue
      () => { if (id == Int.MinValue) id = newReq(); id }
    }
    val should: () => Int = () => -1

    /** One clause's subs with explicit weight `w` and requirement
      * provider `req` (ignored when `forNot`). */
    def addClause(c: Clause, w: Double, req: () => Int,
                  forNot: Boolean): Unit = {
      def addExp(pred: Column): Unit =
        if (forNot) notExpPreds += pred else expSubs += ((pred, w, req()))
      c match {
        case TermQ(text, _, _) =>
          val ts = analyzeQuery(text)
          if (forNot) notTerms ++= ts
          else ts.foreach(t => termSubs += ((t, w, req())))
        case PhraseQ(text, slop, _, _) =>
          val ordered = analyzePhrase(text)
          if (ordered.nonEmpty) {
            require(positionsIndexed, "phrase clauses need an index " +
              "built with indexPositions = true")
            require(slop >= 0, s"slop must be >= 0, got $slop")
            if (forNot) notPhrases += ((ordered, slop))
            else phraseSubs += ((ordered, slop, w, req()))
          }
        case PrefixQ(p0, _, _) =>
          val p = Tokenizer.foldCase(p0.trim)
          if (p.nonEmpty) addExp(col("term").startsWith(p))
        case WildcardQ(pat0, _, _) =>
          // Lucene wildcard semantics (* any run, ? one char, all else
          // literal) — rlike with quoted literals, NOT SQL LIKE, so a
          // literal `_`/`%` in the pattern can never act as a wildcard
          val p = Tokenizer.foldCase(pat0.trim)
          if (p.nonEmpty)
            addExp(col("term").rlike("^" + wildcardRegex(p) + "$"))
        case FuzzyQ(t0, maxEdits, _, _) =>
          require(maxEdits >= 0, s"maxEdits must be >= 0, got $maxEdits")
          val t = Tokenizer.foldCase(t0.trim)
          if (t.nonEmpty)
            addExp(levenshtein(col("term"), lit(t)) <= maxEdits)
        case RegexpQ(p0, _, _) =>
          val p = p0.trim // never case-folded (regex syntax)
          if (p.nonEmpty) addExp(col("term").rlike("^(?:" + p + ")$"))
        case RangeQ(lo0, hi0, incLo, incHi, _, _) =>
          val lo = lo0.map(s => Tokenizer.foldCase(s.trim)).filter(_.nonEmpty)
          val hi = hi0.map(s => Tokenizer.foldCase(s.trim)).filter(_.nonEmpty)
          addExp((lo.map(l =>
              if (incLo) col("term") >= l else col("term") > l) ++
            hi.map(h =>
              if (incHi) col("term") <= h else col("term") < h))
            .reduceOption(_ && _).getOrElse(lit(true)))
        case GroupQ(_, _, _) =>
          sys.error("nested group reached the executor — parser bug")
        case FieldQ(_, _) =>
          sys.error("field clause inside a group reached the executor — " +
            "parser bug")
      }
    }

    clauses.foreach {
      case GroupQ(children, occur, gb) => occur match {
        // group boost multiplies each child's own boost; the group's
        // occur applies to the whole any-of disjunction
        case MustNot =>
          children.foreach(ch => addClause(ch, 0.0, should, forNot = true))
        case Must =>
          val id = lazyReq() // ONE requirement shared by every member
          children.foreach(ch => addClause(ch, ch.boost * gb, id,
            forNot = false))
        case Should =>
          children.foreach(ch => addClause(ch, ch.boost * gb, should,
            forNot = false))
      }
      case c if c.occur == MustNot =>
        addClause(c, 0.0, should, forNot = true)
      case TermQ(text, Must, w) =>
        // each analyzed term its own requirement (conjunctive contract)
        analyzeQuery(text).foreach(t => termSubs += ((t, w, newReq())))
      case c if c.occur == Must =>
        addClause(c, c.boost, lazyReq(), forNot = false)
      case c =>
        addClause(c, c.boost, should, forNot = false)
    }
    if (termSubs.isEmpty && expSubs.isEmpty && phraseSubs.isEmpty &&
        notTerms.isEmpty && notExpPreds.isEmpty && notPhrases.isEmpty)
      return ParsedFrames(None, 0, Nil, matchNone = false)

    // -- ONE term_stats probe for literals + every expansion -----------
    val litTerms = (termSubs.map(_._1) ++ notTerms ++
      phraseSubs.flatMap(_._1) ++ notPhrases.flatMap(_._1))
      .distinct.sorted.toSeq
    val expPreds = (expSubs.map(_._1) ++ notExpPreds).toSeq
    val probePred =
      ((if (litTerms.nonEmpty) Seq(col("term").isin(litTerms: _*)) else Nil)
        ++ expPreds).reduce(_ || _)
    val flagCols = expPreds.zipWithIndex.map { case (p, j) => p.as(s"__c$j") }
    val totalCap = litTerms.size + expPreds.size * maxExpansions
    val probeRows = termStats.filter(probePred)
      .select(Seq(col("term"), col("df"), col("max_tf"), col("min_dl")) ++
        flagCols: _*)
      .limit(totalCap + 1).collect()
    require(probeRows.length <= totalCap,
      s"parsed query expands to > $totalCap index terms — narrow the " +
        "expansions or raise maxExpansions")
    val infoOf: Map[String, TermInfo] = probeRows.map { r =>
      val t = r.getString(0)
      t -> mkTermInfo(t, r.getLong(1), r.getInt(2), r.getInt(3))
    }.toMap
    val expMatches: IndexedSeq[Seq[String]] = expPreds.indices.map { j =>
      val ts = probeRows.iterator
        .filter(r => !r.isNullAt(4 + j) && r.getBoolean(4 + j))
        .map(_.getString(0)).toSeq.sorted
      require(ts.size <= maxExpansions, s"expansion clause #$j matches " +
        s"${ts.size} > maxExpansions=$maxExpansions index terms — " +
        "narrow the pattern or raise the cap")
      ts
    }

    // -- MatchNoDocs short-circuit (no job runs): every requirement
    // group needs at least ONE satisfiable member — a present term, a
    // non-empty expansion, or an all-terms-present phrase. An ungrouped
    // MUST clause is a single-member group, so this reduces to the
    // absent-MUST-term / empty-MUST-expansion / absent-phrase-term
    // checks; a parenthesized MUST group dies only when EVERY member is
    // unsatisfiable (Lucene: a disjunction matches if any arm can).
    val reqSatisfiable = Array.fill(nReq)(false)
    termSubs.foreach { case (t, _, r) =>
      if (r >= 0 && infoOf.contains(t)) reqSatisfiable(r) = true
    }
    expSubs.zipWithIndex.foreach { case ((_, _, r), j) =>
      if (r >= 0 && expMatches(j).nonEmpty) reqSatisfiable(r) = true
    }
    phraseSubs.foreach { case (ordered, _, _, r) =>
      if (r >= 0 && ordered.distinct.forall(infoOf.contains))
        reqSatisfiable(r) = true
    }
    if (!reqSatisfiable.forall(identity)) return Searcher.matchNoDocs

    // -- weighted per-term rows (one row per clause-term) ---------------
    val mustCount = nReq
    def keyOf(r: Int): String = if (r >= 0) s"$keyPrefix g$r" else null
    val wRows = ArrayBuffer.empty[(String, Double, Double, String)]
    termSubs.foreach { case (t, w, r) =>
      infoOf.get(t).foreach(inf => wRows += ((t, inf.idf, w, keyOf(r))))
    }
    expSubs.zipWithIndex.foreach { case ((_, w, r), j) =>
      expMatches(j).foreach(t => wRows += ((t, infoOf(t).idf, w, keyOf(r))))
    }
    val nonPhrase =
      if (wRows.isEmpty) Nil
      else {
        val wDf = wRows.toSeq.toDF("term", "idf", "weight", "req_clause")
        Seq(postingsForTerms(wRows.map(_._1).distinct.sorted.toSeq)
          .select(col("term"), explode(vb_decode(col("blob"))).as("p"))
          .select(col("term"), col("p.doc_id").as("doc_id"),
            col("p.tf").as("tf"), col("p.dl").as("dl"))
          .join(broadcast(wDf), Seq("term")))
      }
    val phraseFrames = phraseSubs.flatMap { case (ordered, slop, w, r) =>
      val dts = ordered.distinct.sorted
      if (!dts.forall(infoOf.contains)) None // absent term: no alignments
      else {
        val idfs = dts.map(infoOf)
        val idfDf = idfs.map(i => (i.term, i.idf)).toDF("term", "idf")
        Some(phraseAlignedRows(ordered, dts, idfs, slop, identity)
          .join(broadcast(idfDf), Seq("term"))
          .withColumn("weight", lit(w))
          .withColumn("req_clause", lit(keyOf(r)).cast("string")))
      }
    }
    val cols = Seq("doc_id", "term", "tf", "dl", "idf", "weight",
      "req_clause")
    val frames = (nonPhrase ++ phraseFrames)
      .map(_.select(cols.map(col): _*))

    // -- MUST_NOT doc-set frames ----------------------------------------
    val notSetTerms = (notTerms.distinct.filter(infoOf.contains) ++
      (expSubs.size until expPreds.size).flatMap(expMatches))
      .distinct.toSeq
    val notFrames = notDocSet(notSetTerms).toSeq ++
      notPhrases.flatMap { case (ordered, slop) =>
        val dts = ordered.distinct.sorted
        if (!dts.forall(infoOf.contains)) None // absent term: matches nothing
        else Some(phraseAlignedRows(ordered, dts, dts.map(infoOf), slop,
          identity).select("doc_id").distinct())
      }

    // every positive clause resolved to nothing (SHOULD expansions with
    // empty matches, SHOULD terms absent) ⇒ rows = None — the NOT frames
    // still travel (a cross-field composition may score on other fields)
    val rows =
      if (frames.isEmpty) None
      else Some(dropDead(frames.reduce(_ union _)
        .withColumn("contrib", col("weight") * contribBase)))
    ParsedFrames(rows, mustCount, notFrames, matchNone = false)
  }

  /** Generalized boolean scoring over a parsed clause list
    * ([[QueryParser]]) — Lucene clause semantics on the same primitives
    * every other exact path uses:
    *
    *  - match set: docs satisfying EVERY MUST clause (term clause =
    *    each analyzed term its own MUST; expansion clause = ANY
    *    expanded term; phrase clause = the positional alignment), minus
    *    docs matching ANY MUST_NOT clause. Only MUST_NOT clauses = no
    *    matches (Lucene).
    *  - score: Σ over positive clauses of boost × the clause's BM25
    *    contributions (each expanded term with its own idf — the
    *    scoring-boolean rewrite; a phrase contributes its distinct
    *    terms' BM25 over aligned docs only). The same index term
    *    reached through two clauses contributes once PER CLAUSE
    *    (Lucene sums clause scores); determinism holds because the
    *    fold sorts (term, contrib) pairs before the ascending sum.
    *
    * `matched` counts contributing clause-term rows (not distinct
    * terms — a term reached through two clauses counts twice). */
  def scoreParsed(clauses: Seq[QueryParser.Clause],
                  filter: Option[Column] = None,
                  maxExpansions: Int = 1024): DataFrame = {
    val pf = parsedFrames(clauses, maxExpansions)
    pf.rows match {
      // matchNone, pure-NOT, or nothing resolved ⇒ MatchNoDocs (Lucene)
      case None => emptyMatches
      case Some(rows) =>
        // dead docs were already dropped inside parsedFrames
        val restricted = applyFilterClause(rows, filter)
        val folded = Searcher.foldPrepared(restricted,
          withReq = pf.reqCount > 0)
        val gated =
          if (pf.reqCount == 0) folded
          else folded.filter(col("matched_req") === pf.reqCount)
        val out = pf.notFrames.reduceOption(_ union _) match {
          case Some(nd) => gated.join(nd, Seq("doc_id"), "left_anti")
          case None => gated
        }
        out.select("doc_id", "matched", "score")
    }
  }

  /** Lucene-classic-syntax search — the QueryParser front door:
    * `+must -not "a phrase"~2 term^2.5 pre* wi?ld fuzzy~1 /S[A-Z]+/
    * [A TO F]` all compose in one query string ([[QueryParser]] for
    * the grammar, [[scoreParsed]] for the execution shape). */
  def searchQuery(q: String, k: Int, start: Int = 0,
                  filter: Option[Column] = None,
                  maxExpansions: Int = 1024): DataFrame = withServingConf {
    val topk = scoreParsed(QueryParser.parse(q), filter, maxExpansions)
      .orderBy(col("score").desc, col("doc_id").asc)
      .offset(start).limit(k)
    fetchPage(topk)
  }

  /** Score explanation (the Lucene Explanation analog): the per-term
    * contribution breakdown of `docId` under a parsed query —
    * (term, weight, tf, dl, idf, contrib) ordered by (term, contrib),
    * exactly the rows the fold sums. Contributions are shown for every
    * positive clause the doc matches regardless of the boolean gate
    * (this is a debugging surface; filter clauses and MUST gating are
    * not applied) — when the doc IS a match, sum(contrib) equals its
    * [[searchQuery]] score bit-identically (same arithmetic, same
    * ascending fold order). Empty frame = MatchNoDocs or no
    * contribution. */
  def explainScore(q: String, docId: Long,
                   maxExpansions: Int = 1024): DataFrame = withServingConf {
    val empty = spark
      .emptyDataset[(String, Double, Int, Int, Double, Double)]
      .toDF("term", "weight", "tf", "dl", "idf", "contrib")
    parsedFrames(QueryParser.parse(q), maxExpansions).rows match {
      case None => empty
      case Some(rows) =>
        rows.where(col("doc_id") === docId)
          .select("term", "weight", "tf", "dl", "idf", "contrib")
          .orderBy(col("term"), col("contrib"))
    }
  }

  /** Flagship: BM25 top-k with pagination (Q3 + Q11) — fetch-after-rank
    * joins stored fields only for the returned page (S8). */
  def search(query: String, k: Int, start: Int = 0,
             conjunctive: Boolean = true,
             filter: Option[Column] = None,
             notQuery: Option[String] = None,
             minShouldMatch: Int = 0): DataFrame = withServingConf {
    if (filter.isEmpty) captureWarmup(Searcher.WarmupQuery(query, "exact",
      conjunctive, k, start, 0, notQuery, minShouldMatch))
    val topk = score(query, conjunctive, filter, notQuery, minShouldMatch)
      .orderBy(col("score").desc, col("doc_id").asc)
      .offset(start).limit(k)
    fetchPage(topk)
  }

  // ---- block-max WAND top-k (north-star fast path) -------------------

  /** Fetch-after-rank (S8): the page is ≤ k rows, so run the scoring
    * DAG in ONE collect, then serve the stored fields through the
    * document LRU ([[docCached]] — the reference's doc cache,
    * Searcher.java:703-720): cache misses are fetched in one
    * row-group-pruned [[fetchByIds]] scan, warm pages add ZERO jobs.
    * The text column is therefore read for at most ~k row groups per
    * query, never for the corpus — a cached-docstore page join would
    * stream the whole O(corpus-bytes) text cache through the join.
    *
    * NOTE: search paths built on this ([[search]], [[searchWand]],
    * [[searchPhrase]], ...) are therefore EAGER — the scoring jobs run
    * at call time and the returned DataFrame is a driver-local relation
    * (the caller's own action is free). `warc_ts` is copied as a raw
    * value, never through a typed getter, so pages are agnostic to
    * `spark.sql.datetime.java8API.enabled` (Timestamp vs Instant rows —
    * both convert back under the page schema's TimestampType). */
  private def fetchPage(topk: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = topk.select("doc_id", "score").collect()
    if (rows.isEmpty) return emptyPage
    val scoreOf = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val page = docCached(rows.map(_.getLong(0)).toSeq).map { d =>
      org.apache.spark.sql.Row(d.getLong(0), scoreOf(d.getLong(0)),
        d.getAs[String]("url"), d.get(d.fieldIndex("warc_ts")),
        d.getAs[String]("lang"), d.getAs[String]("text"))
    }.sortBy(r => (-r.getDouble(1), r.getLong(0)))
    spark.createDataFrame(page.asJava, emptyPage.schema)
  }

  private def emptyPage: DataFrame =
    spark.emptyDataset[(Long, Double, String, java.sql.Timestamp, String,
        String)]
      .toDF("doc_id", "score", "url", "warc_ts", "lang", "text")

  private def termBlobs(term: String) =
    postingsForTerms(Seq(term)).select("blob").as[Array[Byte]]

  /** Exact single-term top-n: per-partition bounded heap with block-max
    * skipping ([[Wand.singleTermPartitionTopK]]), global merge via
    * orderBy+limit (TakeOrderedAndProject — per-partition heap + driver
    * merge, the reference's collector architecture itself). */
  private def singleTermTopK(term: String, idf: Double, n: Int): DataFrame = {
    val (k1c, bc, ac) = (k1, b, avgdl)
    termBlobs(term)
      .mapPartitions(it => Wand.singleTermPartitionTopK(it, idf, n, k1c, bc, ac))
      .toDF("doc_id", "score")
      .orderBy(col("score").desc, col("doc_id").asc).limit(n)
  }

  /** Flagship fast path: BM25 top-k with block-max WAND pruning — decodes
    * only posting blocks whose score upper bound can still reach the
    * current kth score. Result is identical to [[search]] (same scores,
    * same order); exactness under pruning holds because:
    *  - single term: per-partition bounded heaps, block skipped only when
    *    `idf·f(maxTf, minDl)` is strictly below the heap's kth score;
    *  - AND: every match contains the rarest term, so the rarest term's
    *    doc set is a complete candidate set (posting-list intersection) —
    *    restrictions (filter / NOT / dead docs) only shrink the true
    *    match set, never grow it, so the superset stays complete;
    *  - OR: θ = exact kth single-term score of the highest-upper-bound
    *    term (a provable lower bound of the final kth score); a doc is a
    *    candidate unless EVERY block it appears in satisfies
    *    `bound(block) + Σ other-term upper bounds < θ`. Under
    *    restrictions, θ is seeded AFTER restricting the single-term
    *    scores to the eligible docset — there are ≥ n eligible docs whose
    *    total score is ≥ that restricted kth contribution, so it still
    *    lower-bounds the final kth score (an unrestricted seed could
    *    over-prune; a restricted one cannot).
    * Candidates are then rescored exactly via docId-skip decode
    * ([[graft.codec.VarByte.decodeForDocs]]) with the SAME restrictions
    * applied before the shared term-ordered fold. Falls back to
    * [[search]] only for `minShouldMatch` (msm removes docs from the
    * universe without a seedable per-doc bound) and when the candidate
    * set exceeds `maxRescore` (the 10^12-scale guard: pruning is an
    * optimization, never a correctness risk). */
  def searchWand(query: String, k: Int, start: Int = 0,
                 conjunctive: Boolean = true,
                 filter: Option[Column] = None,
                 maxRescore: Int = 2000000,
                 wandMinDf: Long = 500000,
                 notQuery: Option[String] = None,
                 minShouldMatch: Int = 0): DataFrame = withServingConf {
    if (filter.isEmpty) captureWarmup(Searcher.WarmupQuery(query, "wand",
      conjunctive, k, start, 0, notQuery, minShouldMatch))
    if (minShouldMatch > 0)
      return search(query, k, start, conjunctive, filter, notQuery,
        minShouldMatch)
    val n = start + k
    val terms = analyzeQuery(query)
    if (terms.isEmpty || docCount == 0) return emptyPage
    val notTerms = notQuery.map(analyzeQuery).getOrElse(Seq.empty)
    // ONE driver lookup covers MUST and MUST_NOT terms
    val all = termIdfs((terms ++ notTerms).distinct)
    val termSet = terms.toSet
    val idfs = all.filter(i => termSet.contains(i.term))
    if (idfs.isEmpty || (conjunctive && idfs.size < terms.size))
      return emptyPage
    val notSet = notTerms.toSet
    val presentNot = all.map(_.term).filter(notSet.contains)
    val isRestricted = hasDeadDocs || filter.nonEmpty || presentNot.nonEmpty
    // filter semi-join + dead-docs anti-join + MUST_NOT anti-join — the
    // exact path's restriction set, applied to per-term rows pre-fold.
    // The restricted OR path evaluates restrictions in BOTH the θ-seed
    // collect and the final page job; for large NOT postings the doc set
    // is materialized once (eager localCheckpoint — one extra job buys
    // halving the NOT decode), while small ones stay inline (the
    // duplicate row-group-pruned decode is cheaper than a job). Lazy so
    // the exact-path fallbacks never trigger it.
    lazy val ndShared: Option[DataFrame] = notDocSet(presentNot).map { nd =>
      val notDfTotal = all.filter(i => notSet.contains(i.term)).map(_.df).sum
      if (!conjunctive && notDfTotal >= wandMinDf) nd.localCheckpoint(true)
      else nd
    }
    def restrict(rows: DataFrame): DataFrame = {
      val r0 = applyMatchSetRestrictions(rows, filter)
      ndShared match {
        case Some(nd) => r0.join(nd, Seq("doc_id"), "left_anti")
        case None => r0
      }
    }
    val (k1c, bc, ac) = (k1, b, avgdl)
    val idfMap = idfs.map(i => i.term -> i.idf).toMap

    if (idfs.size == 1 && !isRestricted) {
      val i = idfs.head
      return fetchPage(singleTermTopK(i.term, i.idf, n).offset(start).limit(k))
    }

    // cost-based path choice: the multi-term WAND pipeline spends 3-4
    // Spark jobs (seed θ, candidates, rescore) to AVOID decode work —
    // worth it only when the posting volume dominates the fixed per-job
    // cost. Below the threshold (and for restricted single-term queries,
    // where block pruning has nothing extra to skip) the exact path is
    // strictly faster.
    if (idfs.size == 1 || idfs.map(_.df).sum < wandMinDf)
      return search(query, k, start, conjunctive, filter, notQuery)

    // head-only pre-gate (pure economics — the exact fallback is
    // always correct): when even the RAREST term's df exceeds the
    // rescore cap, the pipeline is guaranteed to fall back — for AND
    // the candidate list IS the rarest term's postings (length > cap
    // by definition); for OR the θ seeded from one head term's kth
    // score prunes almost nothing of the others, and the candidate
    // job shuffles ~Σdf ids through a distinct only to trip the cap
    // (measured on the 20M dress: a 3-head-term OR emitted ~55M
    // candidate rows, then fell back). Genuinely mixed queries (any
    // term with df ≤ maxRescore) keep the full WAND pipeline — that
    // asymmetry is WAND's actual win.
    if (idfs.map(_.df).min > maxRescore)
      return search(query, k, start, conjunctive, filter, notQuery)

    // per-term upper bounds straight from the cached term_stats lookup —
    // no extra job, no posting-file touch
    val ubs: Map[String, Double] = idfs.map { i =>
      i.term -> Wand.contrib(i.idf, i.maxTf, i.minDl, k1c, bc, ac)
    }.toMap
    val sumUb = ubs.values.sum

    val candidates: Array[Long] =
      if (conjunctive) {
        // posting-list intersection driven by the rarest term
        val rarest = idfs.minBy(_.df).term
        termBlobs(rarest).flatMap(b => graft.codec.VarByte.decode(b)._1)
          .take(maxRescore + 1)
      } else {
        val best = ubs.maxBy(_._2)._1
        val theta =
          if (!isRestricted) {
            val seed = singleTermTopK(best, idfMap(best), n).collect()
            if (seed.length >= n) seed.last.getDouble(1)
            else Double.NegativeInfinity
          } else {
            // restricted θ seed: the best term's exact contributions
            // (foldScores' own contribBase — a θ even one ulp above the
            // true restricted kth could over-prune), restricted to the
            // eligible docset, kth best
            val seedRows = postingsForTerms(Seq(best))
              .select(explode(vb_decode(col("blob"))).as("p"))
              .select(col("p.doc_id").as("doc_id"),
                col("p.tf").as("tf"), col("p.dl").as("dl"),
                lit(idfMap(best)).as("idf"))
            val seed = restrict(seedRows)
              .select(col("doc_id"), contribBase.as("score"))
              .orderBy(col("score").desc, col("doc_id").asc).limit(n)
              .select("score").as[Double].collect()
            if (seed.length >= n) seed.last else Double.NegativeInfinity
          }
        val ubsL = ubs
        val idfL = idfMap
        postingsForTerms(idfs.map(_.term))
          .select("term", "blob").as[(String, Array[Byte])]
          .flatMap { case (t, blob) =>
            Wand.candidatesAboveTheta(blob, idfL(t), sumUb - ubsL(t), theta,
              k1c, bc, ac)
          }
          .distinct().take(maxRescore + 1)
      }
    if (candidates.length > maxRescore)
      return search(query, k, start, conjunctive, filter, notQuery)

    java.util.Arrays.sort(candidates)
    val bcCand = spark.sparkContext.broadcast(candidates)
    val idfDf = idfs.map(i => (i.term, i.idf)).toDF("term", "idf")
    val rescored = postingsForTerms(idfs.map(_.term))
      .select("term", "blob").as[(String, Array[Byte])]
      .flatMap { case (t, blob) =>
        val (ds, tfs, dls) = graft.codec.VarByte.decodeForDocs(blob, bcCand.value)
        ds.indices.iterator.map(i => (t, ds(i), tfs(i), dls(i)))
      }.toDF("term", "doc_id", "tf", "dl")
      .join(broadcast(idfDf), Seq("term"))
    val scored = foldScores(restrict(rescored),
      pivotTerms = Some(idfs.map(_.term)))
    val page =
      (if (conjunctive) scored.filter(col("matched") === terms.size) else scored)
        .orderBy(col("score").desc, col("doc_id").asc).offset(start).limit(k)
    fetchPage(page)
  }

  /** BATCHED top-k: score N queries in ONE declarative plan — ONE
    * term_stats probe, ONE posting scan over the union of all queries'
    * terms, one per-(query, doc) fold, one window rank. Per-query
    * serving latency is job-count-bound (each [[search]] spends 1-4
    * jobs of fixed scheduler cost); a batch amortizes that across the
    * whole query set, and at cluster scale it is one stage instead of
    * N driver round-trips — the shape a 1000-executor serving tier
    * actually runs. Scores are bit-identical to [[search]] (same
    * term-ordered fold, same global statistics). Output: (query_id,
    * doc_id, score), ≤ k rows per query, (score desc, doc_id) within
    * each query; `roundScoresTo` rounds BEFORE ranking (the same
    * oracle-parity knob as [[graft.index.FieldedIndex.FieldedSearcher
    * .searchMulti]]). Filter/NOT/msm clauses stay on the single-query
    * surface.
    *
    * `prune = true` (conjunctive batches only) swaps the full decode of
    * every query's terms for the batched analog of the single-query AND
    * pruning: one pass decodes only the queries' RAREST terms into
    * per-query candidate sets (collected under `maxRescore`, as in
    * [[searchWand]]), then the rescore scan decodes each term only at
    * the union of its queries' candidates (block-skipped docId decode).
    * Lossless: a full AND match contains its query's rarest term, so
    * each candidate set is complete; a fanned (query, doc) row coming
    * from ANOTHER query's candidates reaches `matched == nt` only when
    * the doc genuinely contains every term of that query — in which
    * case it was in that query's candidates anyway. Scores stay
    * bit-identical (same term-ordered fold over the same (tf, dl)).
    * OR batches and cap overflows fall back to the exact scan. */
  def searchBatch(queries: Map[String, String], k: Int,
                  conjunctive: Boolean = true,
                  roundScoresTo: Option[Int] = None,
                  prune: Boolean = false,
                  maxRescore: Int = 2000000): DataFrame = {
    val emptyOut = spark.emptyDataset[(String, Long, Double)]
      .toDF("query_id", "doc_id", "score")
    val analyzed = queries.view.mapValues(analyzeQuery).toMap
    val allTerms = analyzed.values.flatten.toSeq.distinct
    if (allTerms.isEmpty || docCount == 0) return emptyOut
    val infos = termIdfs(allTerms).map(i => i.term -> i).toMap // ONE probe
    // a query with any zero-df term matches nothing under AND
    // (BooleanQuery MUST) — drop its rows before they reach the scan
    val qTerm: Seq[(String, String, Double)] = for {
      (qid, terms) <- analyzed.toSeq
      if !conjunctive || terms.nonEmpty && terms.forall(infos.contains)
      t <- terms
      info <- infos.get(t).toSeq
    } yield (qid, t, info.idf)
    if (qTerm.isEmpty) return emptyOut
    val qtDf = qTerm.toDF("query_id", "term", "idf")
    val nTermsDf = analyzed.toSeq
      .map { case (qid, ts) => (qid, ts.size) }.toDF("query_id", "__nt")
    // candidate-restricted per-term rows (prune) or the full decode scan
    val perTermRows: Option[DataFrame] =
      if (!prune || !conjunctive) None
      else {
        val liveQids = qTerm.map(_._1).distinct.toSet
        val rarestOf: Map[String, String] = analyzed.collect {
          case (qid, terms) if liveQids.contains(qid) =>
            qid -> terms.minBy(t => infos(t).df)
        }
        val rtDf = rarestOf.toSeq.map { case (q, t) => (t, q) }
          .toDF("term", "query_id")
        val cand: Array[(String, Long)] =
          postingsForTerms(rarestOf.values.toSeq.distinct)
            .select("term", "blob").as[(String, Array[Byte])]
            .flatMap { case (t, blob) =>
              graft.codec.VarByte.decode(blob)._1.iterator.map(d => (t, d))
            }.toDF("term", "doc_id")
            .join(broadcast(rtDf), Seq("term"))
            .select("query_id", "doc_id").as[(String, Long)]
            .take(maxRescore + 1)
        if (cand.length > maxRescore) None // cap tripped: exact path
        else {
          val byQid: Map[String, Array[Long]] =
            cand.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
          // term → sorted distinct union of its queries' candidates
          val needDocs: Map[String, Array[Long]] = qTerm
            .groupBy(_._2).view.mapValues { qs =>
              val a = qs.map(_._1).distinct
                .flatMap(q => byQid.getOrElse(q, Array.empty[Long]))
                .distinct.toArray
              java.util.Arrays.sort(a)
              a
            }.toMap
          val bcNeed = spark.sparkContext.broadcast(needDocs)
          Some(postingsForTerms(qTerm.map(_._2).distinct)
            .select("term", "blob").as[(String, Array[Byte])]
            .flatMap { case (t, blob) =>
              val (ds, tfs, dls) = graft.codec.VarByte.decodeForDocs(blob,
                bcNeed.value.getOrElse(t, Array.empty[Long]))
              ds.indices.iterator.map(i => (t, ds(i), tfs(i), dls(i)))
            }.toDF("term", "doc_id", "tf", "dl"))
        }
      }
    // one scan over the union of terms; the broadcast (query_id, term,
    // idf) join fans each posting row to every query using its term
    val decoded = perTermRows.getOrElse(
        postingsForTerms(qTerm.map(_._2).distinct)
          .select(col("term"), explode(vb_decode(col("blob"))).as("p"))
          .select(col("term"), col("p.doc_id").as("doc_id"),
            col("p.tf").as("tf"), col("p.dl").as("dl")))
      .join(broadcast(qtDf), Seq("term"))
    val scored = foldScores(applyMatchSetRestrictions(decoded, None),
        keys = Seq("query_id", "doc_id"),
        // pivot over the UNION of the batch's terms: within a
        // (query_id, doc_id) group only that query's terms occur, and
        // absent-term columns add an exact +0.0
        pivotTerms = Some(qTerm.map(_._2)))
      .withColumnRenamed("score", "score0")
    val must =
      if (conjunctive)
        scored.join(broadcast(nTermsDf), Seq("query_id"))
          .filter(col("matched") === col("__nt"))
      else scored
    val ranked = roundScoresTo.fold(must.withColumn("score", col("score0")))(
      d => must.withColumn("score", round(col("score0"), d)))
    // per-query top-k: WindowGroupLimit (Spark 4 rank pushdown) keeps
    // each query's group at ≤ k rows before the final sort
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    ranked.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select("query_id", "doc_id", "score")
      .orderBy(col("query_id"), col("score").desc, col("doc_id").asc)
  }

  /** Phrase analysis: the index-time chain with ORDER AND DUPLICATES
    * preserved — the position contract is over the expanded stream. */
  def analyzePhrase(phrase: String): Seq[String] =
    Analyzer.terms(phrase, analyzerMode, dict).toSeq

  /** Phrase top-k (reference PhraseQuery over positional postings,
    * Indexer.java:713-714): a doc matches iff the analyzed phrase terms
    * occur at consecutive positions (∃p: ∀j, p+j ∈ positions(term_j));
    * matching docs score as conjunctive BM25 over the distinct phrase
    * terms (the golden model pins the same contract). One decode pass
    * yields (tf, dl, positions) together, so alignment check and scoring
    * share the scan; the alignment itself is higher-order Column logic —
    * no UDF. Requires an index built with `indexPositions = true`. */
  def searchPhrase(phrase: String, k: Int, start: Int = 0,
                   filter: Option[Column] = None,
                   notQuery: Option[String] = None,
                   slop: Int = 0): DataFrame = withServingConf {
    require(slop >= 0, s"slop must be >= 0, got $slop")
    require(positionsIndexed,
      "phrase queries need an index built with indexPositions = true")
    if (filter.isEmpty) captureWarmup(Searcher.WarmupQuery(phrase, "phrase",
      conjunctive = true, k, start, slop, notQuery, 0))
    val ordered = analyzePhrase(phrase)
    if (ordered.isEmpty || docCount == 0) return emptyPage
    val distinctTerms = ordered.distinct.sorted
    val notTerms = notQuery.map(analyzeQuery).getOrElse(Seq.empty)
    val all = termIdfs((distinctTerms ++ notTerms).distinct) // one probe
    val termSet = distinctTerms.toSet
    val idfs = all.filter(i => termSet.contains(i.term))
    if (idfs.size < distinctTerms.size) return emptyPage // MUST semantics
    val notSet = notTerms.toSet
    val aligned = phraseAlignedRows(ordered, distinctTerms, idfs, slop,
      rows0 => {
        val restricted0 = applyMatchSetRestrictions(rows0, filter)
        notDocSet(all.map(_.term).filter(notSet.contains)) match {
          case Some(nd) => restricted0.join(nd, Seq("doc_id"), "left_anti")
          case None => restricted0
        }
      })
    val idfDf = idfs.map(i => (i.term, i.idf)).toDF("term", "idf")
    val perTerm = aligned.join(broadcast(idfDf), Seq("term"))
    val page = foldScores(perTerm, pivotTerms = Some(idfs.map(_.term)))
      .orderBy(col("score").desc, col("doc_id").asc).offset(start).limit(k)
    fetchPage(page)
  }

  /** Positional per-(term, doc) rows for docs with an ordered
    * within-slop alignment of `ordered` — the shared alignment core of
    * [[searchPhrase]] and phrase clauses in [[scoreParsed]]. `restrict`
    * runs on the raw positional rows BEFORE the alignment groupBy
    * ([[searchPhrase]] pushes its filter/NOT/dead restrictions here so
    * the alignment shuffles only eligible docs; callers restricting
    * later pass identity — restriction removes whole docs, never rows
    * of a surviving doc, so scores are unaffected either way). Returns
    * (doc_id, term, tf, dl) over the DISTINCT phrase terms of aligned
    * docs. */
  private def phraseAlignedRows(ordered: Seq[String],
                                distinctTerms: Seq[String],
                                idfs: Seq[TermInfo], slop: Int,
                                restrict: DataFrame => DataFrame)
      : DataFrame = {
    val rows = postingsForTerms(distinctTerms)
      .select(col("term"), explode(vb_decode_pos(col("blob"))).as("p"))
      .select(col("term"), col("p.doc_id").as("doc_id"),
        col("p.tf").as("tf"), col("p.dl").as("dl"),
        col("p.positions").as("positions"))
    // rarest-term pre-intersection: every phrase match contains every
    // term, so docs(rarest) is a complete candidate superset — at scale
    // this is the difference between shuffling a stopword's full posting
    // list into the groupBy and shuffling the rare term's. Gated on a
    // real df skew so cheap queries don't pay the extra join.
    val rarest = idfs.minBy(_.df)
    val rows0 =
      if (idfs.size > 1 && idfs.map(_.df).max > 8 * rarest.df) {
        val rare = rows.where(col("term") === rarest.term).select("doc_id")
        rows.join(rare, Seq("doc_id"), "left_semi")
      } else rows
    val restricted = restrict(rows0)
    // volume gate (same economics class as wandMinDf, invariant 24):
    // the collect_list alignment below holds each doc's (term, tf, dl,
    // positions) structs as aggregation-object state — unmanaged JVM
    // memory. Fine at bench volumes (one shuffle, fastest locally);
    // fatal when every phrase term is a head term at 20M+ docs (the
    // 20M dress OOM'd 8g folding ~40M position-bearing structs). Past
    // the gate, alignment runs as a position-level chain join: all
    // fixed-width rows, TaskMemoryManager-governed, spills instead of
    // dying.
    if (idfs.map(_.df).sum > phraseJoinMinDf)
      return phraseChainAligned(ordered, restricted, slop)
    val byDoc = restricted.groupBy("doc_id")
      .agg(collect_list(
        struct(col("term"), col("tf"), col("dl"), col("positions"))).as("es"))
      .where(size(col("es")) === distinctTerms.size)
    // term → positions map; try_element_at so predicate reordering can
    // never hit a missing key (null collapses to non-match)
    val posMap = map_from_arrays(
      transform(col("es"), e => e("term")),
      transform(col("es"), e => e("positions")))
    // ordered within-slop alignment over the positional postings:
    // ∃ p_0 < … < p_{m-1}: p_j ∈ positions(term_j) ∧ p_j − p_{j−1} ≤
    // 1 + slop (slop = 0 ⇒ exact adjacency) — the same per-gap
    // proximity contract as the golden model and TextOps.phraseTopK
    val phraseCond = {
      def from(j: Int, prev: Column): Column =
        if (j == ordered.length) lit(true)
        else exists(try_element_at(posMap, lit(ordered(j))),
          p => p > prev && p <= prev + lit(1 + slop) && from(j + 1, p))
      exists(try_element_at(posMap, lit(ordered.head)), p => from(1, p))
    }
    byDoc.where(phraseCond)
      .select(col("doc_id"), explode(col("es")).as("e"))
      .select(col("doc_id"), col("e.term").as("term"),
        col("e.tf").as("tf"), col("e.dl").as("dl"))
  }

  /** Scale-path phrase alignment (see the gate in
    * [[phraseAlignedRows]]): the ∃-chain
    * `p_0 < … < p_{m-1}, p_j − p_{j−1} ∈ [1, 1+slop]` evaluated as a
    * cascade of (doc_id, position) equi-joins — step j explodes the
    * surviving chain heads by the `[1, 1+slop]` offsets and joins
    * term_j's exploded positions, deduping (doc, p) per step so chains
    * stay a set, not a product. Identical match semantics to the
    * nested-exists alignment (any witness chain ⇔ any join path;
    * PhraseSpec pins both paths against the golden model), identical
    * output rows: (doc_id, term, tf, dl) for every distinct phrase term
    * of every aligned doc. Everything here is fixed-width rows through
    * managed shuffles — no per-group object state, so head-term phrases
    * at 10^8-posting volumes spill instead of OOM. */
  private def phraseChainAligned(ordered: Seq[String],
                                 restricted: DataFrame,
                                 slop: Int): DataFrame = {
    // bound the CONCURRENCY of the fat scans, not their volume: each
    // positional-blob scan task transiently holds a whole row-group
    // batch + the decoded position arrays (~40 MB unmanaged) while the
    // chain's sort-merge joins rightfully absorb most of the managed
    // pool — 32 concurrent fat tasks on one 8g JVM is the OOM regime
    // the 20M dress hit. A quarter of the cluster parallelism keeps
    // whole-cluster scan throughput (250 tasks at 1000 cores) while
    // capping per-JVM transients; the downstream joins re-shuffle to
    // full parallelism regardless.
    val scanTasks =
      math.max(8, spark.sparkContext.defaultParallelism / 4)
    // materialize the DECODED narrow rows ONCE: the chain references
    // them once per phrase step plus once for the output join, and
    // without this each reference re-scans and re-decodes the fattest
    // blobs in the index. localCheckpoint (same precedent as
    // searchWithMeta's one-evaluation contract) spills to disk under
    // pressure and is reclaimed by the ContextCleaner when the page
    // escapes; invariant 17 forbids persisting BLOB rows, and these
    // are the post-decode fixed-width+positions rows. LAZY (eager =
    // false): plan construction stays job-free — an explain/plan-only
    // caller never pays the alignment scan (round-5 ADVICE); the first
    // actual action materializes it and every later action reuses the
    // checkpointed partitions.
    val bounded = restricted.coalesce(scanTasks).localCheckpoint(false)
    def posOf(t: String): DataFrame =
      bounded.where(col("term") === t)
        .select(col("doc_id"), explode(col("positions")).as("p"))
    var chain = posOf(ordered.head)
    for (j <- 1 until ordered.length) {
      val next = posOf(ordered(j)).withColumnRenamed("p", "pn")
      chain = chain
        .withColumn("off",
          explode(sequence(lit(1), lit(1 + slop))))
        .withColumn("pn", col("p") + col("off"))
        .select("doc_id", "pn")
        .join(next, Seq("doc_id", "pn"), "left_semi")
        .withColumnRenamed("pn", "p")
        .distinct()
    }
    val matched = chain.select("doc_id").distinct()
    bounded.join(matched, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
  }

  /** Hit metadata (Q12): totalHits, maxScore alongside the page. */
  final case class Meta(total: Long, maxScore: Double)
  def searchWithMeta(query: String, k: Int, start: Int = 0,
                     conjunctive: Boolean = true,
                     filter: Option[Column] = None): (DataFrame, Meta) = withServingConf {
    // ONE evaluation of the scored set: eager localCheckpoint
    // materializes it once, then the agg job and the (lazy) page both
    // read the materialized partitions. Unlike a persist — which could
    // never be paired with an unpersist here because the page escapes —
    // the checkpointed RDD is reclaimed by the ContextCleaner once the
    // returned frame is unreachable.
    val scored = score(query, conjunctive, filter).localCheckpoint(true)
    val m = scored.agg(count(lit(1)), max("score")).head()
    val meta = Meta(m.getLong(0), if (m.isNullAt(1)) 0.0 else m.getDouble(1))
    val page = fetchPage(
      scored.orderBy(col("score").desc, col("doc_id").asc)
        .offset(start).limit(k))
    (page, meta)
  }

  // ---- multi-term query expansion (PrefixQuery / WildcardQuery /
  // FuzzyQuery analog under the scoring BooleanQuery rewrite) ----------

  /** Dictionary expansion for multi-term queries: the index terms
    * matching `pred`, resolved from the ONE cached term_stats frame
    * (the invariant-7 probe every query path already pays — expansion
    * adds no extra job class). Capped at `maxExpansions` (the Lucene
    * maxClauseCount analog) with a LOUD failure: silent truncation
    * would silently change results. */
  private def expandTermInfos(pred: Column,
                              maxExpansions: Int): Seq[TermInfo] =
    termInfosWhere(pred, Some(maxExpansions))

  /** Disjunctive ranked page over pre-expanded terms — each expanded
    * term scores with its own idf (Lucene's SCORING_BOOLEAN rewrite;
    * the golden model pins the same contract). */
  private def expandedPage(infos: Seq[TermInfo], k: Int, start: Int,
                           filter: Option[Column]): DataFrame = {
    if (infos.isEmpty || docCount == 0) return emptyPage
    val topk = scoredMatches(infos.map(_.term), infos, filter)
      .orderBy(col("score").desc, col("doc_id").asc)
      .offset(start).limit(k)
    fetchPage(topk)
  }

  /** Prefix query (PrefixQuery analog): every index term starting with
    * the folded prefix, scored as one disjunctive BooleanQuery.
    * On-the-fly twin with the same contract:
    * [[graft.pipeline.TextOps.bm25TopKExpanded]]. */
  def searchPrefix(prefix: String, k: Int, start: Int = 0,
                   filter: Option[Column] = None,
                   maxExpansions: Int = 1024): DataFrame = withServingConf {
    val p = Tokenizer.foldCase(prefix.trim)
    if (p.isEmpty) return emptyPage
    expandedPage(expandTermInfos(col("term").startsWith(p), maxExpansions),
      k, start, filter)
  }

  /** Wildcard query (WildcardQuery analog), SQL LIKE pattern over the
    * dictionary (`%`/`_`). A leading wildcard scans the whole term
    * dictionary — the same cost profile the reference family has. */
  def searchWildcard(pattern: String, k: Int, start: Int = 0,
                     filter: Option[Column] = None,
                     maxExpansions: Int = 1024): DataFrame = withServingConf {
    val p = Tokenizer.foldCase(pattern.trim)
    if (p.isEmpty) return emptyPage
    expandedPage(expandTermInfos(col("term").like(p), maxExpansions),
      k, start, filter)
  }

  /** Term range query (TermRangeQuery analog, the remaining
    * MultiTermQuery sibling of prefix/wildcard/fuzzy): every index term
    * in the folded [lower, upper] interval — either bound open when
    * None, inclusivity per flag — scored as one disjunctive
    * BooleanQuery. Bounds compare binary-lexicographically (the
    * dictionary's own sort order). */
  def searchTermRange(lower: Option[String], upper: Option[String], k: Int,
                      start: Int = 0, includeLower: Boolean = true,
                      includeUpper: Boolean = true,
                      filter: Option[Column] = None,
                      maxExpansions: Int = 1024): DataFrame =
    withServingConf {
      val lo = lower.map(s => Tokenizer.foldCase(s.trim)).filter(_.nonEmpty)
      val hi = upper.map(s => Tokenizer.foldCase(s.trim)).filter(_.nonEmpty)
      // open-open = match-all dictionary (Lucene semantics); on any real
      // dictionary the maxExpansions cap then fails LOUDLY, never silently
      val pred = (lo.map(l =>
          if (includeLower) col("term") >= l else col("term") > l) ++
        hi.map(h =>
          if (includeUpper) col("term") <= h else col("term") < h))
        .reduceOption(_ && _).getOrElse(lit(true))
      expandedPage(expandTermInfos(pred, maxExpansions), k, start, filter)
    }

  /** Regexp query (RegexpQuery analog): dictionary terms fully matching
    * the Java regex (anchored like Lucene — the pattern must cover the
    * WHOLE term, not a substring). The pattern is NOT case-folded
    * (folding would corrupt regex syntax, e.g. `\d` → `\D`); index
    * terms are uppercase, so patterns should match uppercase. */
  def searchRegexp(pattern: String, k: Int, start: Int = 0,
                   filter: Option[Column] = None,
                   maxExpansions: Int = 1024): DataFrame = withServingConf {
    val p = pattern.trim
    if (p.isEmpty) return emptyPage
    expandedPage(
      expandTermInfos(col("term").rlike("^(?:" + p + ")$"), maxExpansions),
      k, start, filter)
  }

  /** Fuzzy query (FuzzyQuery analog): index terms within `maxEdits`
    * Levenshtein distance of the folded term (the exact term included
    * at distance 0), scored disjunctively. The distance runs as the
    * codegen'd built-in `levenshtein` over the cached dictionary —
    * Lucene guides the walk with an automaton; the dictionary scan is
    * the Spark-native equivalent of the same expansion. */
  def searchFuzzy(term: String, k: Int, maxEdits: Int = 1, start: Int = 0,
                  filter: Option[Column] = None,
                  maxExpansions: Int = 1024): DataFrame = withServingConf {
    require(maxEdits >= 0, s"maxEdits must be >= 0, got $maxEdits")
    val t = Tokenizer.foldCase(term.trim)
    if (t.isEmpty) return emptyPage
    expandedPage(
      expandTermInfos(levenshtein(col("term"), lit(t)) <= maxEdits,
        maxExpansions),
      k, start, filter)
  }

  /** More-like-this (MoreLikeThis analog, golden-model contract):
    * re-analyzes the source doc's STORED text with the index analyzer
    * chain (the term-vector-less MLT path Lucene itself takes for
    * unstored vectors), ranks its terms by `round(tf · idf, 6)`
    * descending (term ascending on ties — rounded so the rank is
    * portable across `ln` implementations), and runs the top
    * `maxQueryTerms` as one disjunctive query with the source doc
    * excluded. Costs one S8 doc fetch + the single term_stats probe. */
  def searchMoreLikeThis(docId: Long, k: Int, maxQueryTerms: Int = 10,
                         start: Int = 0,
                         filter: Option[Column] = None): DataFrame =
    withServingConf {
      val src = docCached(Seq(docId))
      if (src.isEmpty) return emptyPage
      val text = src.head.getAs[String]("text")
      if (text == null) return emptyPage
      val toks = Analyzer.terms(text, analyzerMode, dict)
      if (toks.isEmpty) return emptyPage
      val tf = toks.groupBy(identity).view.mapValues(_.size).toMap
      val infos = termIdfs(tf.keys.toSeq.sorted) // ONE probe
      val top = infos
        .map(i => (i.term, BigDecimal(tf(i.term) * i.idf)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .sortBy { case (t, w) => (-w, t) }
        .take(maxQueryTerms).map(_._1).toSet
      val excl = filter match {
        case Some(f) => f && col("doc_id") =!= docId
        case None => col("doc_id") =!= docId
      }
      expandedPage(infos.filter(i => top(i.term)), k, start, Some(excl))
    }

  /** Highlighter analog: attaches (match_pos, snippet) to the ≤ k page
    * rows by re-analyzing their stored text (the reference highlighter
    * family re-analyzes stored fields the same way — the page is ≤ k
    * rows, so this is O(page), never O(corpus)). Contract pinned by
    * the golden model and shared with
    * [[graft.pipeline.TextOps.highlightTopK]]: `match_pos` = first
    * 1-based token position holding any query term; `snippet` = tokens
    * `[max(1, pos−window), min(len, pos+window)]` joined by spaces. */
  def searchHighlight(query: String, k: Int, start: Int = 0,
                      conjunctive: Boolean = true, window: Int = 2,
                      filter: Option[Column] = None): DataFrame =
    withServingConf {
      import scala.jdk.CollectionConverters._
      require(window >= 0, s"window must be >= 0, got $window")
      val page = search(query, k, start, conjunctive, filter).collect()
      val terms = analyzeQuery(query).toSet
      val rows = page.map { r =>
        val toks = Analyzer.terms(r.getAs[String]("text"), analyzerMode, dict)
        val p0 = toks.indexWhere(terms.contains)
        val (pos, snip) =
          if (p0 < 0) (null, null) // defensive: page rows always match
          else {
            val lo = math.max(0, p0 - window)
            val hi = math.min(toks.size - 1, p0 + window)
            (java.lang.Long.valueOf((p0 + 1).toLong),
              toks.slice(lo, hi + 1).mkString(" "))
          }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ pos :+ snip)
      }
      val schema = org.apache.spark.sql.types.StructType(
        emptyPage.schema.fields :+
          org.apache.spark.sql.types.StructField("match_pos",
            org.apache.spark.sql.types.LongType) :+
          org.apache.spark.sql.types.StructField("snippet",
            org.apache.spark.sql.types.StringType))
      spark.createDataFrame(rows.toSeq.asJava, schema)
    }

  /** Sort-by-field top-k (Q6): matches ordered by arbitrary docstore
    * columns, doc_id tie-break, `fillFields` ⇒ sort columns stay in the
    * output (Searcher.java:861-871). */
  def searchSortByField(query: String, sortCols: Seq[Column], k: Int,
                        start: Int = 0, conjunctive: Boolean = true,
                        filter: Option[Column] = None): DataFrame = withServingConf {
    val matches = score(query, conjunctive, filter).select("doc_id")
    if (resolvesOnNarrow(sortCols)) {
      // rank on the narrow cache (no text through the top-k heap),
      // then fetch stored fields for the ≤ k page rows only
      val ids = matches.join(docstoreNarrow, Seq("doc_id"))
        .orderBy(sortCols :+ col("doc_id").asc: _*)
        .offset(start).limit(k)
        .select("doc_id").as[Long].collect()
      fetchByIds(ids).orderBy(sortCols :+ col("doc_id").asc: _*)
    } else // sort references text — rank over the parquet frame
      matches.join(docstore, Seq("doc_id"))
        .orderBy(sortCols :+ col("doc_id").asc: _*)
        .offset(start).limit(k)
  }

  /** Full match set in docID order, no scores (Q7, TOPDOCSONLY). */
  def matchesInDocIdOrder(query: String, conjunctive: Boolean = true,
                          filter: Option[Column] = None): DataFrame =
    score(query, conjunctive, filter).select("doc_id").orderBy("doc_id")

  /** Complete match docset (Q8, SETONLY) — feeds facets. */
  def matchSet(query: String, conjunctive: Boolean = true,
               filter: Option[Column] = None): DataFrame =
    score(query, conjunctive, filter).select("doc_id")

  /** Stored-field fetch by docID (S8). */
  def doc(docIds: Seq[Long]): DataFrame =
    docstore.filter(col("doc_id").isin(docIds: _*))

  // ---- index-integrated facets (reference facetSearch,
  //      Searcher.java:1086-1283, over build-time facet fields) --------

  /** Facet sidecar written by a `buildFacets = true` build: one
    * (doc_id, dim, label, path) table per segment. None when any
    * segment was built without facets. */
  lazy val facetsTable: Option[DataFrame] = {
    val f = IndexStore.fs(spark, root)
    val paths = snapshot.segments.map(s => IndexStore.facetsPath(root, s))
    if (paths.forall(p => f.exists(new org.apache.hadoop.fs.Path(p))))
      Some(snapshot.segments.map(IndexStore.readFacets(spark, root, _))
        .reduce(_ unionByName _))
    else None
  }

  private def facetsOrFail: DataFrame =
    facetsTable.getOrElse(sys.error(
      "index has no facets sidecar — rebuild with buildFacets = true"))

  /** Flat facet counts over the query's match set, straight from the
    * index (reference sortedSetFacetSearch :1365-1429 with the
    * getAllDims(offset, limit, minCount) paging contract). */
  def facetSearch(query: String, conjunctive: Boolean = true,
                  filter: Option[Column] = None, offset: Int = 0,
                  limit: Int = 10, minCount: Long = 1): DataFrame =
    Facets.flatCounts(matchSet(query, conjunctive, filter), facetsOrFail,
      offset, limit, minCount)

  /** Hierarchical facet tree over the match set (reference
    * taxonomyFacetSearch :1285-1363): every tree level in one shuffle. */
  def facetSearchHier(query: String, conjunctive: Boolean = true,
                      filter: Option[Column] = None,
                      topN: Int = 10): DataFrame =
    Facets.hierarchicalCounts(matchSet(query, conjunctive, filter),
      facetsOrFail, topN)

  /** Facet math over the match set, straight from the index (reference
    * per-label count/sum/min/max/average + `*_total`, Searcher.java:
    * 1438-1555): labels from the facets sidecar, numeric values from a
    * docstore column — the docstore IS our DocValues analog, so the ref
    * field is any of its numeric columns (e.g. `dl`). */
  def facetMathSearch(query: String, dim: String, valueCol: String,
                      conjunctive: Boolean = true,
                      filter: Option[Column] = None): DataFrame = {
    val f = facetsOrFail.where(col("dim") === dim).select("doc_id", "label")
    Facets.facetMath(matchSet(query, conjunctive, filter),
      f.join(valueSource(valueCol).select(col("doc_id"), col(valueCol)),
        Seq("doc_id")), valueCol)
  }

  /** The value-column source for facet math / range facets: the cached
    * narrow frame when the column lives there (invariant 18 — dl/lang/
    * url/warc_ts queries must hit the warm cache, not re-scan parquet),
    * the full docstore otherwise. Shared with the fielded twins. */
  private[graft] def valueSource(valueCol: String): DataFrame =
    if (narrowSet.contains(valueCol)) docstoreNarrow else docstore

  /** Range facet counts over the match set (the Lucene Long/DoubleRange-
    * FacetCounts analog): numeric values from a docstore column (the
    * DocValues analog, like [[facetMathSearch]]), per-range counts in
    * ONE map-side-combined aggregation — no per-label shuffle. */
  def facetRangeSearch(query: String, valueCol: String,
                       ranges: Seq[Facets.RangeSpec],
                       conjunctive: Boolean = true,
                       filter: Option[Column] = None): DataFrame =
    Facets.rangeCounts(matchSet(query, conjunctive, filter),
      valueSource(valueCol).select(col("doc_id"), col(valueCol)),
      valueCol, ranges)

  /** Drill-sideways facet counts over the match set (the Lucene
    * DrillSideways analog): each drilled dim's counts computed with
    * every OTHER drill-down applied but not its own; undrilled dims
    * under ALL drill-downs. Labels resolve from the build-time facets
    * sidecar. */
  def facetSearchDrillSideways(query: String, drillDowns: Map[String, String],
                               conjunctive: Boolean = true,
                               filter: Option[Column] = None,
                               limit: Int = 10,
                               minCount: Long = 1): DataFrame =
    Facets.drillSideways(matchSet(query, conjunctive, filter), facetsOrFail,
      drillDowns, limit, minCount)

  /** Grouped top-k (the Lucene grouping module's TopGroups analog):
    * groups are the labels of facet dim `dim`; groups rank by their
    * best-scoring doc (score desc, label asc ties), and each group keeps
    * its top `docsPerGroup` docs by (score desc, doc_id asc) — Lucene's
    * two-pass grouping collector collapsed into ONE scored pass + one
    * label-partitioned window. The group-rank window is a global sort
    * over one row per group head — #labels rows, facet-dim cardinality,
    * the same driver-scale object Lucene's TopGroups materializes.
    * `roundScoresTo` rounds before ranking (oracle-parity knob, same as
    * [[searchJsonFiltered]]). */
  def searchGrouped(query: String, dim: String, topGroups: Int,
                    docsPerGroup: Int, conjunctive: Boolean = true,
                    filter: Option[Column] = None,
                    roundScoresTo: Option[Int] = None): DataFrame = withServingConf {
    val scored0 = score(query, conjunctive, filter)
    val scored = roundScoresTo.fold(scored0)(d =>
      scored0.withColumn("score", round(col("score"), d)))
    Facets.groupTopK(scored,
      facetsOrFail.where(col("dim") === dim), topGroups, docsPerGroup)
  }

  // ---- dictionary suggesters (the Lucene suggest module analogs) -----

  /** Autocomplete (the AnalyzingSuggester analog): dictionary terms
    * starting with the folded prefix, weighted by document frequency
    * (df desc, term asc ties) — served straight from the cached
    * term_stats frame, one tiny job, no posting decode. */
  def suggest(prefix: String, k: Int): DataFrame = withServingConf {
    val p = Tokenizer.foldCase(prefix.trim)
    if (p.isEmpty)
      spark.emptyDataset[(String, Long)].toDF("term", "df")
    else {
      // range form of the prefix predicate: [p, successor(p)) where the
      // successor increments p's last code point — every p-prefixed term
      // falls inside (code-point order == UTF-8 binary order, Spark's
      // string comparison), INCLUDING supplementary-plane suffixes a
      // naive `p + U+FFFF` bound would wrongly exclude. Identical match
      // set to startsWith (kept as the authoritative predicate), but the
      // RANGE prunes storage: in-memory cache batches skip on their term
      // min/max stats, and a cold open pushes it into the term-sorted
      // parquet for row-group pruning — the web-scale-vocabulary fix
      // from the round-5 verdict (#2).
      val ranged = Searcher.prefixSuccessor(p) match {
        case Some(hi) => termStats.where(
          col("term") >= p && col("term") < hi && col("term").startsWith(p))
        case None => termStats.where(
          col("term") >= p && col("term").startsWith(p))
      }
      ranged.orderBy(col("df").desc, col("term").asc)
        .select("term", "df").limit(k)
    }
  }

  /** Spell correction (the DirectSpellChecker analog): dictionary terms
    * within `maxEdits` Levenshtein edits of the folded input (the input
    * itself excluded), ranked the way Lucene's comparator does — fewer
    * edits first, then higher df, then term — so the most popular
    * closest correction wins. Runs on the cached term_stats frame with
    * Spark's codegen'd levenshtein. */
  def suggestSpelling(term: String, k: Int, maxEdits: Int = 2): DataFrame =
    withServingConf {
      val t = Tokenizer.foldCase(term.trim)
      if (t.isEmpty)
        spark.emptyDataset[(String, Int, Long)].toDF("term", "dist", "df")
      else termStats
        // length-band prefilter: |len(a) − len(b)| ≤ edit distance, so
        // the band is implied by `dist <= maxEdits` — identical results,
        // but the O(n·m) levenshtein runs only on banded rows instead of
        // the whole dictionary (round-5 verdict #2 / ADVICE item)
        .where(abs(length(col("term")) - lit(t.length)) <= maxEdits)
        .withColumn("dist", levenshtein(col("term"), lit(t)))
        .where(col("dist") <= maxEdits && col("term") =!= t)
        .orderBy(col("dist").asc, col("df").desc, col("term").asc)
        .select("term", "dist", "df").limit(k)
    }

  // ---- searchable dynamic JSON subfields (reference addJson fields,
  //      Indexer.java:639-747; discovery Searcher.java:397-477) --------

  /** Per-doc dynamic-field sidecar (`doc_id, key, vtype, str_val,
    * num_val, date_val`) written by [[graft.index.IndexBuilder
    * .buildJsonSidecar]]; None when any segment lacks it. */
  lazy val jsonFieldsTable: Option[DataFrame] = {
    val f = IndexStore.fs(spark, root)
    val paths = snapshot.segments.map(s => IndexStore.jsonFieldsPath(root, s))
    if (paths.forall(p => f.exists(new org.apache.hadoop.fs.Path(p))))
      Some(paths.map(spark.read.parquet(_)).reduce(_ unionByName _))
    else None
  }

  private def jsonFieldsOrFail: DataFrame =
    jsonFieldsTable.getOrElse(sys.error(
      "index has no json_fields sidecar — run IndexBuilder.buildJsonSidecar"))

  /** Discoverable dynamic-field catalog: (key, vtype, n_values) — the
    * reference re-infers its dynamic schema from index segments
    * (Searcher.java:397-477). */
  def jsonFieldCatalog: DataFrame =
    jsonFieldsOrFail.groupBy("key", "vtype").agg(count(lit(1)).as("n_values"))

  /** Doc set whose dynamic field `key` satisfies `pred` (over str_val /
    * num_val / date_val). */
  def docsWithJsonField(key: String, pred: Column): DataFrame =
    jsonFieldsOrFail.where(col("key") === key).where(pred)
      .select("doc_id").distinct()

  /** BM25 top-k restricted to docs whose dynamic JSON field matches —
    * a filter clause served from the index sidecar, non-scoring (Q1).
    * `roundScoresTo` rounds scores BEFORE ranking (oracle-parity knob:
    * a rounding-boundary tie at the k-th cutoff would otherwise page
    * differently than a rounded-score reference ranking). */
  def searchJsonFiltered(query: String, k: Int, key: String, pred: Column,
                         start: Int = 0,
                         conjunctive: Boolean = true,
                         roundScoresTo: Option[Int] = None): DataFrame = withServingConf {
    val scored0 = score(query, conjunctive)
    val scored = roundScoresTo.fold(scored0)(d =>
      scored0.withColumn("score", round(col("score"), d)))
    val topk = scored
      .join(docsWithJsonField(key, pred), Seq("doc_id"), "left_semi")
      .orderBy(col("score").desc, col("doc_id").asc)
      .offset(start).limit(k)
    fetchPage(topk)
  }

  /** Matches ordered by a dynamic numeric field (the reference's
    * sort-by-dynamic-field DocValues, Indexer.java:697-728). */
  def searchSortByJsonField(query: String, key: String, k: Int,
                            descending: Boolean = true,
                            conjunctive: Boolean = true): DataFrame = withServingConf {
    val vals = jsonFieldsOrFail.where(col("key") === key)
      .groupBy("doc_id").agg(min("num_val").as("__v"))
    val ord = if (descending) col("__v").desc_nulls_last else col("__v").asc_nulls_last
    val ordOut =
      if (descending) col("sort_value").desc_nulls_last
      else col("sort_value").asc_nulls_last
    import scala.jdk.CollectionConverters._
    val ranked = matchSet(query, conjunctive).join(vals, Seq("doc_id"))
      .orderBy(ord, col("doc_id").asc).limit(k)
      .select("doc_id", "__v").collect() // ≤ k rows, one job
    val pageDf = spark.createDataFrame(ranked.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("__v",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
    pageDf.join(fetchByIds(ranked.map(_.getLong(0))), Seq("doc_id"))
      .select(col("doc_id"), col("__v").as("sort_value"), col("url"),
        col("lang"), col("text"))
      .orderBy(ordOut, col("doc_id").asc)
  }

  // ---- serving-layer caches + timeout (Q13/S8/F6/Q10) ----------------

  final case class QueryKey(query: String, k: Int, start: Int,
                            conjunctive: Boolean, filterRepr: String)

  /** Query-result LRU (Q13, reference QueryResultKey cache
    * :885-947): memoizes the collected page. `useCache = false` mirrors
    * the reference's per-call opt-out. */
  val queryResultCache = new LruCache[QueryKey, Array[org.apache.spark.sql.Row]](128)

  def searchCached(query: String, k: Int, start: Int = 0,
                   conjunctive: Boolean = true,
                   filter: Option[Column] = None,
                   useCache: Boolean = true): Array[org.apache.spark.sql.Row] = {
    val key = QueryKey(query, k, start, conjunctive,
      filter.map(_.toString).getOrElse(""))
    def compute = searchWand(query, k, start, conjunctive, filter).collect()
    if (useCache) queryResultCache.getOrElseUpdate(key)(compute) else compute
  }

  /** Document LRU (S8, reference doc cache :703-720). Carried over by
    * [[reopen]] ONLY when every predecessor segment is still in this
    * snapshot (pure appends/deletes): doc_id → stored fields is then
    * immutable — ids are never reused (append bases come from
    * id_ceiling) and a tombstoned doc stays fetchable by id. A rebuild
    * merge replaces segments AND re-assigns dense ids, so any reopen
    * across it starts a fresh cache. */
  val documentCache: LruCache[Long, org.apache.spark.sql.Row] =
    reuseFrom match {
      case Some(old) if !old.isClosed &&
          old.snapshot.segments.toSet.subsetOf(snapshot.segments.toSet) =>
        old.documentCache
      case _ => new LruCache[Long, org.apache.spark.sql.Row](1024)
    }

  /** Stored fields of `docIds` in input order: ONE cache lookup per
    * distinct id (so the hit/miss counters mean what they say), misses
    * fetched in one job; rows are served from a local map, never re-read
    * from the LRU, so an eviction between `put` and return can't drop
    * one. */
  def docCached(docIds: Seq[Long]): Seq[org.apache.spark.sql.Row] = {
    val rows = scala.collection.mutable.HashMap.empty[Long, org.apache.spark.sql.Row]
    val missing = docIds.distinct.filter { id =>
      documentCache.get(id) match {
        case Some(r) => rows(id) = r; false
        case None => true
      }
    }
    if (missing.nonEmpty)
      doc(missing).collect().foreach { r =>
        rows(r.getLong(0)) = r
        documentCache.put(r.getLong(0), r)
      }
    docIds.flatMap(rows.get)
  }

  /** Search timeout (Q10, reference TimeLimitingCollector :822-825):
    * the distributed analog is job-group cancellation — the query's jobs
    * are tagged and cancelled at the deadline; None = timed out (the
    * reference throws/returns partial; we surface the timeout
    * explicitly). */
  def searchWithTimeout(query: String, k: Int, timeoutMs: Long,
                        start: Int = 0, conjunctive: Boolean = true,
                        filter: Option[Column] = None)
      : Option[Array[org.apache.spark.sql.Row]] = {
    val group = s"graft-search-${System.nanoTime()}"
    val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fut = Future {
      // the deadline may fire before this thread even starts (saturated
      // pool): check the flag AFTER tagging the job group so either the
      // flag aborts us here or cancelJobGroup kills the tagged jobs
      spark.sparkContext.setJobGroup(group, s"search($query)",
        interruptOnCancel = true)
      try {
        if (cancelled.get()) throw new InterruptedException("timed out")
        search(query, k, start, conjunctive, filter).collect()
      } finally spark.sparkContext.clearJobGroup()
    }
    try Some(Await.result(fut, timeoutMs.millis))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        cancelled.set(true)
        spark.sparkContext.cancelJobGroup(group)
        None
    }
  }

  /** Reopen at the CURRENT latest snapshot — the
    * `DirectoryReader.openIfChanged` analog (the reference ctor's
    * `refreshReader`/`refreshTaxoReader` reuse, Searcher.java:177-227).
    * Per-segment relations present in both snapshots are carried over,
    * so a refresh after an append pays driver-side open work for the NEW
    * segments only; the document LRU survives when no existing segment
    * was replaced (see [[documentCache]]). The query-result cache never
    * carries — cached pages depend on the serving view. The caller keeps
    * serving on `this` until the new searcher is warm, then
    * [[close(drainMs:Long)* closes]] the old one (the reference's
    * hot-swap discipline). */
  def reopen(): Searcher =
    new Searcher(spark, root, dict, k1, b, maxBroadcastDeadDocs,
      snapshotId = None, reuseFrom = Some(this),
      phraseJoinMinDf = phraseJoinMinDf)

  /** [[reopen]] + replay of THIS searcher's captured warmup set on the
    * successor before it is returned — the reference's swap discipline
    * (captured + file-sourced queries replayed on every searcher swap,
    * Searcher.java:585-626,831). The successor is warm when the caller
    * swaps it in; the replay re-captures, so the set survives chains of
    * swaps. */
  def reopenWarm(): Searcher = {
    val s = reopen()
    s.warmup(warmupQueries)
    s
  }

  override def close(): Unit = close(drainMs = 10000L)

  /** Graceful close (reference: `synchronized close` polls
    * `isClosePossible` until in-flight searches drain,
    * Searcher.java:527-583,1626): new searches are rejected immediately
    * (LOUD require in the serving choke point); in-flight ones get up to
    * `drainMs` to finish before the persisted frames are released.
    * Idempotent; a second call is a no-op. */
  def close(drainMs: Long): Unit =
    if (closedFlag.compareAndSet(false, true)) {
      val deadline = System.nanoTime + drainMs * 1000000L
      var interrupted = false
      while (!interrupted && activeSearches.get > 0 &&
        System.nanoTime < deadline)
        try Thread.sleep(5)
        catch { case _: InterruptedException =>
          // restore the interrupt and stop draining — close() must never
          // LEAK InterruptedException to callers (round-5 ADVICE); the
          // unpersists below still run
          Thread.currentThread().interrupt(); interrupted = true
        }
      docstoreNarrow.unpersist()
      termStats.unpersist()
      deadDocs.unpersist()
    }
}

object Searcher {

  /** Smallest string strictly greater than EVERY string with prefix `p`
    * under code-point (== UTF-8 binary == Spark string) ordering:
    * increment p's last code point, skipping the surrogate gap. None
    * when p ends in U+10FFFF (no finite successor — callers drop the
    * upper bound). */
  private[query] def prefixSuccessor(p: String): Option[String] = {
    val cp = p.codePointBefore(p.length)
    if (cp >= 0x10FFFF) None
    else {
      var next = cp + 1
      if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000
      Some(p.substring(0, p.length - Character.charCount(cp)) +
        new String(Character.toChars(next)))
    }
  }

  /** A replayable serving request for warmup capture/replay (the
    * reference's warmup-query record: query + mode + sort + paging,
    * Searcher.java:658-670). `mode` ∈ wand | exact | phrase; `slop`
    * applies to phrase only, `minShouldMatch` to wand/exact only. */
  final case class WarmupQuery(query: String, mode: String,
                               conjunctive: Boolean, k: Int, start: Int,
                               slop: Int, notQuery: Option[String],
                               minShouldMatch: Int)

  object WarmupQuery {
    private val Modes = Set("wand", "exact", "phrase")
    /** Parse one TAB-separated warmup line:
      * `query<TAB>mode[<TAB>conjunctive[<TAB>k[<TAB>start[<TAB>slop[<TAB>notQuery[<TAB>msm]]]]]]`
      * — trailing fields optional (defaults: conjunctive, k=10, start=0,
      * slop=0, no NOT clause, msm=0); malformed input fails LOUDLY. */
    def parse(line: String): WarmupQuery = {
      val f = line.split('\t')
      require(f.length >= 2 && f(0).nonEmpty,
        s"warmup line needs at least query<TAB>mode: '$line'")
      val mode = f(1)
      require(Modes.contains(mode),
        s"warmup mode must be one of ${Modes.mkString("/")}, got '$mode'")
      def at(i: Int, dflt: String): String =
        if (f.length > i && f(i).nonEmpty) f(i) else dflt
      WarmupQuery(f(0), mode,
        conjunctive = at(2, "true").toBoolean,
        k = at(3, "10").toInt, start = at(4, "0").toInt,
        slop = at(5, "0").toInt,
        notQuery = Option(at(6, "")).filter(_.nonEmpty),
        minShouldMatch = at(7, "0").toInt)
    }
  }

  /** One segment's relations (docstore/postings/term_stats), its stats
    * row and its config, created once per open and shared across
    * queries — and, via [[Searcher.reopen]], across searcher generations
    * (segment dirs are immutable once their snapshot commits). */
  private[query] final case class SegTables(
      docstore: DataFrame, postings: DataFrame, termStats: DataFrame,
      stats: IndexStore.SegmentStats,
      config: Option[IndexStore.SegmentConfig])

  /** A parsed clause subset resolved to foldable frames (the
    * cross-Searcher composition unit behind [[Searcher.scoreParsed]] and
    * [[graft.index.FieldedIndex.FieldedSearcher.searchQuery]]):
    *  - `rows`: per-(clause-term, doc) rows carrying a pre-computed
    *    `contrib` (weight × BM25 with the OWNING searcher's collection
    *    stats — cross-field unions stay per-field-correct) and
    *    `req_clause` keys; dead docs already dropped; None = no positive
    *    clause resolved to anything
    *  - `reqCount`: MUST requirements in the subset (every one
    *    satisfiable, else `matchNone`)
    *  - `notFrames`: MUST_NOT doc-set frames
    *  - `matchNone`: a MUST requirement is unsatisfiable — the WHOLE
    *    query (all fields) is MatchNoDocs */
  private[graft] final case class ParsedFrames(rows: Option[DataFrame],
                                               reqCount: Int,
                                               notFrames: Seq[DataFrame],
                                               matchNone: Boolean)

  private[graft] val matchNoDocs: ParsedFrames =
    ParsedFrames(None, 0, Nil, matchNone = true)

  /** Above this many distinct query terms the pivoted fold would widen
    * the aggregation buffer past ~0.5 KB/group; the list fold takes
    * over. 64 ≫ any real query (Lucene's default maxClauseCount spirit). */
  private[graft] val MaxPivotTerms = 64

  /** UTF-8 binary string order — what Spark's UTF8String (and therefore
    * sort_array in the list fold) compares by. */
  private[graft] val Utf8Ordering: Ordering[String] =
    (a: String, b: String) => java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Above this summed df the phrase alignment switches from the
    * single-shuffle collect_list shape (fastest locally, but per-group
    * OBJECT state) to the position-level chain join (all managed,
    * spillable — the 20M-dress survival path). 4M rows of positional
    * structs ≈ low hundreds of MB of aggregation objects across 32
    * tasks — comfortably inside the measured-safe band. */
  private[graft] val PhraseJoinMinDf = 4000000L

  /** THE fold (invariant 11, one definition for every exact path): sum
    * each key group's pre-computed `contrib` values in ascending
    * (term, contrib) order — bit-identical to the golden model — with
    * the match count and (optionally) the distinct satisfied-requirement
    * count riding the SAME aggregation. Static because cross-field
    * unions fold rows owned by several Searchers: each row's contrib was
    * computed with its owner's stats, the fold itself has no instance
    * state.
    *
    * Two physical shapes, one arithmetic:
    *
    *  - `pivotTerms = Some(ts)` (every standard search path — the term
    *    set is known at plan time): each term's contrib pivots into its
    *    own fixed-width aggregation column and the score is the
    *    ascending-term left fold `((0.0 + c_t1) + c_t2) + …` with
    *    absent terms contributing +0.0 — EXACTLY the same IEEE sum as
    *    the sorted list fold, because BM25 contribs are strictly
    *    positive so no partial sum is -0.0 and `x + 0.0 ≡ x`. This
    *    keeps the whole fold inside codegen'd fixed-width hash
    *    aggregation whose memory is TaskMemoryManager-governed (spills
    *    under pressure). The 20M-doc dress proved the need: head-term
    *    queries fold ~60M rows into ~20M groups, and the list shape
    *    below buffered 60M (term, contrib) structs through
    *    object/sort-based aggregation — JVM-object memory the manager
    *    cannot see — and OOM'd a flat 8g heap at 32 concurrent tasks.
    *
    *  - `pivotTerms = None` (dynamic/weighted folds: parsed-query
    *    clause weights, cross-field merged pairs, req-clause gating):
    *    collect the group's (term, contrib) pairs, sort, fold. Volumes
    *    on these paths are expansion-capped.
    *
    * A term may appear at most once per key group on every caller's
    * path (chunk rows split disjoint doc ranges; doc_ids are unique
    * across segments via id_ceiling append bases), which both shapes
    * rely on for `matched`. */
  private[graft] def foldPrepared(perTerm: DataFrame,
                                  keys: Seq[String] = Seq("doc_id"),
                                  withReq: Boolean = false,
                                  pivotTerms: Option[Seq[String]] = None)
      : DataFrame = {
    // sorted in UTF-8 BINARY order — Spark's string ordering, hence
    // sort_array's — NOT JVM String order (UTF-16 code units): the two
    // diverge for supplementary-plane terms vs U+E000..U+FFFF, and a
    // shape-dependent fold order would break the bit-identity between
    // the pivot and list folds exactly where ties are decided.
    val pivot = pivotTerms.map(_.distinct.sorted(Utf8Ordering))
      .filter(ts => ts.nonEmpty && ts.size <= MaxPivotTerms && !withReq)
    pivot match {
      case Some(ts) =>
        val pivots = ts.zipWithIndex.map { case (t, i) =>
          sum(when(col("term") === lit(t), col("contrib"))).as(s"__c$i")
        }
        val score = ts.indices.foldLeft(lit(0.0d))((acc, i) =>
          acc + coalesce(col(s"__c$i"), lit(0.0d)))
        perTerm
          .groupBy(keys.map(col): _*)
          .agg(count(lit(1)).cast("int").as("matched"), pivots: _*)
          .withColumn("score", score)
          .select(keys.map(col) ++ Seq(col("matched"), col("score")): _*)
      case None =>
        val extraAggs =
          Seq(sort_array(collect_list(struct(col("term"), col("contrib"))))
            .as("__parts")) ++
          (if (withReq)
             Seq(size(collect_set(col("req_clause"))).as("matched_req"))
           else Nil)
        perTerm
          .groupBy(keys.map(col): _*)
          .agg(count(lit(1)).cast("int").as("matched"), extraAggs: _*)
          .withColumn("score",
            aggregate(col("__parts"), lit(0.0d), (acc, x) => acc + x("contrib")))
          .select(keys.map(col) ++ Seq(col("matched")) ++
            (if (withReq) Seq(col("matched_req")) else Nil) :+ col("score"): _*)
    }
  }
}
