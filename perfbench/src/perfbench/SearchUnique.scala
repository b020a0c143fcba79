package perfbench

import java.util.SplittableRandom

import scala.util.control.NonFatal

/** `search-unique`: read-only serving with every request distinct, so the
  * query-result LRU never hits. A closed loop of C clients (C = cores)
  * sends search (AND/OR, lang filter, page 2) and facet requests drawn
  * from the index's own df bands; then one timed searchBatch. */
object SearchUnique {
  val FacetShare = 0.1
  val BatchQueries = 16

  def run(ctx: Ctx): Unit = {
    val built = Corpus.setups(ctx, 3, serve = true)
    val s = built.searcher.get
    ctx.log("set-up done")
    val bands = Reqs.bands(ctx, built.root)
    val rnd = new SplittableRandom(ctx.seed)
    val seen = scala.collection.mutable.HashSet[Any]()
    val clients = ctx.cores
    val deck = Reqs.deck(FacetShare)
    val warm = Reqs.distinct(rnd, bands, deck, 0, clients, seen)
    // whole passes over the deck, all distinct; 20 passes is ~10x what a
    // window serves today
    val reqs = Reqs.distinct(rnd, bands, deck, 0, 20 * deck.size, seen)
    val batchShapes = deck.filter(sh => !sh.facet && sh.conj && sh.lang.isEmpty &&
      sh.start == 0 && sh.bands.size > 1)
    val batch = Reqs.distinct(rnd, bands, batchShapes, 0, BatchQueries, seen)

    // warm-up: fills JIT and the lazily persisted narrow docstore frames
    Serve.runAll(ctx, clients, warm, r => Serve.exec(ctx, s, r))

    ctx.log("warm-up done")
    val rc0 = (s.queryResultCache.hits, s.queryResultCache.misses)
    val dc0 = (s.documentCache.hits, s.documentCache.misses)
    val gc0 = Jvm.gcMs
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    val passes = new Serve.Passes(reqs, deck.size, deadline)
    val samples = Serve.closedLoop(ctx, clients, _ => passes.next(),
      r => Serve.exec(ctx, s, r))
    val windowS = (System.nanoTime() - t0) / 1e9
    ctx.put("window_s", windowS, "s")
    ctx.put("jvm.gc_ms", (Jvm.gcMs - gc0).toDouble, "ms")
    ctx.put("heap_after_gc_mb", Jvm.heapAfterGcMb, "MB")
    Serve.recordLatencies(ctx, samples, windowS)
    val facets = samples.filter(x => x.ok && x.req.facet).map(_.latencyNs / 1e6)
    ctx.put("facet_requests", facets.size.toDouble, "count")
    ctx.put("facet_p50_ms", if (facets.isEmpty) 0.0 else Stats.median(facets), "ms")
    val rcHits = s.queryResultCache.hits - rc0._1
    ctx.op(rcHits == 0L, s"$rcHits result-cache hit(s) on distinct requests")
    ctx.put("query.result_cache.hit_ratio",
      Stats.hitRatio(rcHits, s.queryResultCache.misses - rc0._2), "ratio")
    ctx.put("query.result_cache.lookups",
      (s.queryResultCache.hits - rc0._1 + s.queryResultCache.misses - rc0._2).toDouble, "count")
    ctx.put("query.doc_cache.hit_ratio",
      Stats.hitRatio(s.documentCache.hits - dc0._1, s.documentCache.misses - dc0._2), "ratio")
    ctx.put("query.doc_cache.lookups",
      (s.documentCache.hits - dc0._1 + s.documentCache.misses - dc0._2).toDouble, "count")
    Serve.recordSpark(ctx, samples)

    ctx.log("window done")
    // batch serving: one plan over the fixed query set
    val bq = batch.zipWithIndex.map { case (r, i) => f"q$i%02d" -> r.query }.toMap
    val (bRows, bNs) = Stats.timeNs(ctx.tracer.request("request.batch",
      ctx.tracer.nextReqId())(ctx.tracer.span("query.searchBatch")(
        s.searchBatch(bq, Serve.K).collect())))
    ctx.op(bRows.nonEmpty, "searchBatch returned nothing")
    ctx.put("query.batch_s", bNs / 1e9, "s")
    ctx.put("batch_queries_per_s", BatchQueries / (bNs / 1e9), "1/s")

    // correctness: sampled requests re-run on WAND and the exact path
    // (the index is unchanged, so the served answer must match too); the
    // batch answer for a few of its queries against single-query search.
    // The checks run concurrently: they are independent read-only jobs.
    val wandMs = scala.collection.mutable.ArrayBuffer[Double]()
    val wandChecks = samples.filter(x => x.ok && !x.req.facet).sortBy(x => (x.client, x.latencyNs))
      .grouped(math.max(1, samples.size / 3)).map(_.head).take(3).toSeq
      .map(x => () => {
        val ms = Serve.checkWand(ctx, s, x.req, x.rows)
        wandMs.synchronized { wandMs += ms; () }
      })
    val batchChecks = bq.toSeq.sorted.take(2).map { case (qid, q) => () => {
      val got = bRows.filter(_.getString(0) == qid)
        .map(r => r.getLong(1) -> r.getDouble(2)).sortBy(p => (-p._2, p._1))
      val ok = try Serve.same(got, Serve.pairs(s.search(q, Serve.K).collect()))
        catch { case NonFatal(_) => false }
      ctx.op(ok, s"searchBatch answer differs from search for '$q'")
    }}
    Serve.concurrently(wandChecks ++ batchChecks)
    ctx.log("checks done")
    // the block-max WAND pipeline, which served requests never reach at
    // this corpus size (see Corpus.Docs), timed on the checked requests
    val wms = wandMs.filterNot(_.isNaN).toSeq
    if (wms.nonEmpty) ctx.put("query.wand_forced_ms", Stats.median(wms), "ms")
    Layers.record(ctx, built.corpus, built.root, Some(s),
      samples.map(_.req.query).take(200), Serve.traceOverheadMs(samples))
    s.close(0L)
  }
}
