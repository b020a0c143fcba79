package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.util.control.NonFatal

import graft.index.{IndexBuilder, IndexStore, WebtextGen}
import graft.query.Searcher
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

object Workloads {
  val names: Seq[String] = Seq("ingest", "search-unique")

  def run(name: String, ctx: Ctx): Unit = name match {
    case "ingest" => Ingest.run(ctx)
    case "search-unique" => SearchUnique.run(ctx)
  }
}

/** Generated inputs. Everything here is a pure function of the run seed
  * and is written to parquet during set-up, so timed calls read only
  * generated files. */
object Corpus {
  /** Term-partition layout for a small index: head terms
    * (df ≥ `SaltDf`) are salted, which the query mix samples on purpose. */
  val SaltDf = 1000L
  def cfg(ctx: Ctx): IndexBuilder.IndexConfig =
    IndexBuilder.IndexConfig(numParts = 8, rangeParts = ctx.cores,
      saltDf = SaltDf, saltFanout = 4, buildFacets = true)

  def corpusSeed(ctx: Ctx): Long = ctx.seed * 1000003L + 17L

  /** Write `n` generated pages as parquet. */
  def writeCorpus(ctx: Ctx, seed: Long, n: Long, path: String): Unit =
    WebtextGen.df(ctx.spark, seed, n).write.mode("overwrite").parquet(path)

  /** Raw input size: html bytes plus pre-extracted text bytes. */
  def inputBytes(df: DataFrame): Long = {
    val r = df.agg(sum(length(col("html"))).cast("long"),
      sum(coalesce(octet_length(col("text")), lit(0))).cast("long")).head()
    r.getLong(0) + r.getLong(1)
  }

  def url(i: Long): String = s"https://site-${i % 97}.example/page/$i"

  /** Upsert batch `b`: `reuse` docs re-write existing corpus urls (newer
    * warc_ts, new content), the rest are fresh urls. Existing urls come
    * from the first half of the corpus id range, deletes from the second
    * half, so no url is both upserted and deleted. */
  def upsertBatch(ctx: Ctx, b: Int, size: Int, reuse: Int,
                  corpusN: Long): Seq[WebtextGen.Page] = {
    val bs = corpusSeed(ctx) + 7919L * (b + 1)
    (0 until size).map { j =>
      val p = WebtextGen.page(bs, j.toLong)
      val ts = new Timestamp(FreshEpochMs + (b.toLong * size + j) * 1000L)
      if (j < reuse) {
        val i = (b.toLong * reuse + j) % (corpusN / 2)
        p.copy(url = url(i), warc_ts = ts)
      } else p.copy(url = s"https://fresh-${ctx.seed}.example/b$b/$j", warc_ts = ts)
    }
  }

  /** Corpus ids deleted by round `r` (second half of the id range). */
  def deleteIds(r: Int, perRound: Int, corpusN: Long): Seq[Long] =
    (0 until perRound).map(d => corpusN / 2 + (r.toLong * perRound + d) % (corpusN / 2))

  /** Batches are generated after the corpus' warc_ts range. */
  val FreshEpochMs: Long = 1767225600000L + 1000000000000L

  def writePages(ctx: Ctx, pages: Seq[WebtextGen.Page], path: String): Unit = {
    import ctx.spark.implicits._
    pages.toDF().write.mode("overwrite").parquet(path)
  }

  /** Corpus size of every workload: three set-ups of it fit a run. At
    * this size no multi-term query reaches the engine's default
    * `wandMinDf` (500000 postings), so `searchCached` serves every
    * multi-term request on the exact path. */
  val Docs = 5000L

  /** The outcome of one set-up repetition. */
  final case class Built(dir: String, searcher: Option[Searcher],
                         report: IndexBuilder.BuildReport, buildReq: Long,
                         buildThreadCpuNs: Long, setupS: Double, openS: Double) {
    def root: String = s"$dir/index"
    def corpus: String = s"$dir/corpus"
  }

  /** One set-up: generate the corpus (and the workload's `extra` inputs)
    * to parquet, build the index from the parquet, and open a searcher
    * when the workload serves. */
  def setup(ctx: Ctx, rep: Int, serve: Boolean, extra: String => Unit): Built = {
    val dir = ctx.dir(s"rep$rep")
    val t0 = System.nanoTime()
    writeCorpus(ctx, corpusSeed(ctx), Docs, s"$dir/corpus")
    extra(dir)
    val buildReq = ctx.tracer.nextReqId()
    val cpu0 = Jvm.threadCpuNs
    val report = ctx.tracer.request("request.build", buildReq, traced = false)(
      IndexBuilder.buildFull(ctx.spark, ctx.spark.read.parquet(s"$dir/corpus"), ctx.dict,
        s"$dir/index", cfg(ctx)))
    val buildCpuNs = Jvm.threadCpuNs - cpu0
    val opened =
      if (serve) Some(Stats.timeNs(new Searcher(ctx.spark, s"$dir/index", ctx.dict))) else None
    Built(dir, opened.map(_._1), report, buildReq, buildCpuNs, (System.nanoTime() - t0) / 1e9,
      opened.fold(0.0)(_._2 / 1e9))
  }

  /** Run `reps` identical set-ups (the first doubles as the JIT warm-up
    * build) and keep the last. `setup_s`, the searcher open time, build
    * rate, phases and CPU work come from the fastest warm set-up:
    * contention on a shared host only ever slows a set-up down. */
  def setups(ctx: Ctx, reps: Int, serve: Boolean,
             extra: String => Unit = _ => ()): Built = {
    val all = (0 until reps).map { r =>
      val b = setup(ctx, r, serve, extra)
      ctx.log(f"set-up $r: ${b.setupS}%.2f s")
      if (r < reps - 1) { b.searcher.foreach(_.close(0L)); deleteTree(Paths.get(b.dir)) }
      b
    }
    val warm = all.drop(1)
    ctx.put("setup_s", warm.map(_.setupS).min, "s")
    if (serve) ctx.put("query.open_s", warm.map(_.openS).min, "s")
    Build.recordReports(ctx, warm.map(_.report), Docs)
    ctx.probe.awaitIdle()
    // CPU work of a warm build: its thread plus the tasks of its jobs
    ctx.put("build_work_ms_per_kdoc", warm.map(b => (b.buildThreadCpuNs +
      ctx.probe.sum(Seq(b.buildReq)).taskCpuNs) / 1e6).min / (Docs / 1000.0), "ms")
    ctx.put("index.jobs.build", Stats.median(all.map(b => ctx.probe.sum(Seq(b.buildReq)).jobs.toDouble)),
      "count")
    val last = all.last
    val input = inputBytes(ctx.spark.read.parquet(last.corpus))
    ctx.put("input_docs", Docs.toDouble, "docs")
    ctx.put("input_bytes", input.toDouble, "bytes")
    Build.recordIndexBytes(ctx, last.root, input)
    last
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).iterator()
      while (it.hasNext) Files.deleteIfExists(it.next())
    }
}

object Build {
  val Phases: Seq[String] = Seq("sort_dedup_assign", "analyze_docstore",
    "collection_stats", "term_stats", "postings_encode_write",
    "manifest_and_counts")

  /** Build rate and phase times of the fastest of several builds of the
    * same input (warm builds only: contention on a shared box only ever
    * slows a build down). */
  def recordReports(ctx: Ctx, reports: Seq[IndexBuilder.BuildReport], n: Long): Unit = {
    val best = reports.minBy(_.wallMs)
    Phases.foreach { ph =>
      ctx.put(s"index.build.${ph}_s", best.phases.filter(_._1 == ph).map(_._2).sum / 1000.0, "s")
    }
    ctx.put("build_docs_per_s", n / (best.wallMs / 1000.0), "docs/s")
  }

  /** Bytes of the segments the latest snapshot serves (older snapshots'
    * files stay on disk until expired and are not counted). */
  def recordIndexBytes(ctx: Ctx, root: String, inputBytes: Long): Unit = {
    val snap = IndexStore.readLatestSnapshot(ctx.spark, root).get
    val by = snap.segments.map(s => Stats.dirBytes(Paths.get(IndexStore.segmentDir(root, s))))
      .reduce((a, b) => (a.keySet ++ b.keySet).map(k => k -> (a(k) + b(k))).toMap
        .withDefaultValue(0L))
    ctx.put("index.bytes.postings", by("postings").toDouble, "bytes")
    ctx.put("index.bytes.docstore", by("docstore").toDouble, "bytes")
    ctx.put("index.bytes.other", by("other").toDouble, "bytes")
    ctx.put("index_bytes_per_input_byte", by.values.sum.toDouble / inputBytes, "ratio")
  }

  /** Wall time of a tiny build: the per-build fixed overhead. */
  def fixedCost(ctx: Ctx): Unit = {
    val src = ctx.dir("tiny-corpus")
    Corpus.writeCorpus(ctx, Corpus.corpusSeed(ctx) + 1, 200, src)
    val times = (0 until 3).map { i =>
      val (_, ns) = Stats.timeNs(IndexBuilder.buildFull(ctx.spark,
        ctx.spark.read.parquet(src), ctx.dict, ctx.dir(s"tiny-index-$i"), Corpus.cfg(ctx)))
      ns / 1e9
    }
    ctx.put("index.build.fixed_s", Stats.median(times), "s")
  }
}

/** One search request of the serving mix. `band` is the df band of the
  * request's rarest term: head (df ≥ saltDf, salted), mid, or tail. */
final case class Req(facet: Boolean, terms: Seq[String], conj: Boolean,
                     lang: Option[String], start: Int, band: String) {
  def query: String = terms.mkString(" ").toLowerCase
  def filter: Option[Column] = lang.map(l => col("lang") === lit(l))
  def key: (Boolean, Seq[String], Boolean, Option[String], Int) =
    (facet, terms.sorted, conj, lang, start)
  /** Latency classes this request belongs to. */
  def classes: Seq[String] =
    Seq(band, if (conj) "and" else "or") ++
      (if (lang.nonEmpty) Seq("filter") else Nil) ++
      (if (start > 0) Seq("page2") else Nil)
}

object Reqs {
  /** Index terms by df band, each band ordered rarest first. */
  final case class Bands(head: IndexedSeq[String], mid: IndexedSeq[String],
                         tail: IndexedSeq[String]) {
    def of(band: String): IndexedSeq[String] = band match {
      case "head" => head
      case "mid" => mid
      case _ => tail
    }
  }

  /** Terms of the built index by df band, read from its term_stats. */
  def bands(ctx: Ctx, root: String): Bands = {
    val ts = ctx.spark.read.parquet(IndexStore.termStatsPath(root, "seg-000000"))
      .groupBy("term").agg(sum("df").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(t => (t._2, t._1))
    def band(lo: Long, hi: Long) =
      ts.collect { case (t, df) if df >= lo && df < hi => t }.toIndexedSeq
    val b = Bands(band(Corpus.SaltDf, Long.MaxValue),
      band(Corpus.SaltDf / 10, Corpus.SaltDf), band(1L, Corpus.SaltDf / 10))
    require(b.head.nonEmpty && b.mid.nonEmpty && b.tail.nonEmpty,
      s"empty df band: ${b.head.size}/${b.mid.size}/${b.tail.size}")
    b
  }

  /** The shape of one request. Term `i` comes from `bands(i)` at df
    * quantile `qs(i)` of that band; the first term's band names the
    * request's class. */
  final case class Shape(facet: Boolean, bands: Seq[String], qs: Seq[Double],
                         conj: Boolean, lang: Option[String], start: Int)

  /** A fixed cycle of 20 request shapes with the mix's exact proportions:
    * 1-3 terms, the first from a band (30 % head, 40 % mid, 30 % tail) and
    * the rest from more frequent bands so AND queries still match; 40 %
    * OR, 25 % with a lang filter, 20 % page 2, `facetShare` facet
    * requests. The deck comes from a constant seed, so every run serves
    * the same mix and the run seed only picks which terms of similar df
    * fill it: with ~50 requests a run, i.i.d. draws of the classes moved
    * the per-request cost by ±20 % from seed to seed. */
  def deck(facetShare: Double): IndexedSeq[Shape] = {
    val n = 20
    val rnd = new SplittableRandom(0x6A0B1EL)
    def shuffled[A](xs: Seq[A]): IndexedSeq[A] = {
      val a = xs.toBuffer
      for (i <- a.indices.reverse.dropRight(1)) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toIndexedSeq
    }
    def share(p: Double): Int = math.round(p * n).toInt
    def flags(p: Double): IndexedSeq[Boolean] =
      shuffled(Seq.fill(share(p))(true) ++ Seq.fill(n - share(p))(false))
    val band = shuffled(Seq.fill(share(0.3))("head") ++ Seq.fill(share(0.4))("mid") ++
      Seq.fill(n - share(0.3) - share(0.4))("tail"))
    val nTerms = shuffled((0 until n).map(1 + _ % 3))
    val facet = flags(facetShare)
    val or = flags(0.4)
    val page2 = flags(0.2)
    val lang = shuffled(Seq("en", "en", "en", "ko", "de").map(Option(_)) ++
      Seq.fill(n - 5)(None))
    (0 until n).map { i =>
      val rest = Seq.fill(nTerms(i) - 1)(
        if (band(i) == "head" || rnd.nextDouble() < 0.6) "head" else "mid")
      Shape(facet(i), band(i) +: rest, Seq.fill(nTerms(i))(rnd.nextDouble()), !or(i),
        lang(i), if (page2(i) && !facet(i)) 10 else 0)
    }
  }

  /** Fill `s` with terms: each lies in a window of 1/20 of its band (times
    * `widen`) around the shape's quantile, and `rnd` picks inside it. */
  def fill(rnd: SplittableRandom, b: Bands, s: Shape, widen: Int): Req = {
    val terms = s.bands.zip(s.qs).map { case (band, q) =>
      val xs = b.of(band)
      val w = math.min(xs.size, math.max(1, xs.size / 20) * widen)
      val lo = math.max(0, math.min(xs.size - w, (q * xs.size).toInt - w / 2))
      xs(lo + rnd.nextInt(w))
    }.distinct
    Req(s.facet, terms, s.conj, s.lang, s.start, s.bands.head)
  }

  /** `n` requests following `deck` from `offset`, none equal to each other
    * or to anything in `seen` (a repeat is re-filled, in a wider window
    * after every 8 tries). */
  def distinct(rnd: SplittableRandom, b: Bands, deck: IndexedSeq[Shape], offset: Int,
               n: Int, seen: scala.collection.mutable.Set[Any]): IndexedSeq[Req] =
    (0 until n).map { i =>
      val shape = deck((offset + i) % deck.size)
      var tries = 0
      var r = fill(rnd, b, shape, 1)
      while (!seen.add(r.key)) {
        tries += 1
        require(tries < 1000, s"no distinct request left for $shape")
        r = fill(rnd, b, shape, 1 << math.min(10, tries / 8))
      }
      r
    }
}

/** One finished request of a closed loop. */
final case class Sample(client: Int, req: Req, latencyNs: Long, ok: Boolean,
                        traced: Boolean, reqId: Long,
                        rows: Array[(Long, Double)], threadCpuNs: Long)

object Serve {
  val K = 10

  /** Serve one request: searchCached for the ranked page with its stored
    * fields, which the engine fetches through its document LRU (or a
    * facetSearch). Returns (doc_id, score). */
  def exec(ctx: Ctx, s: Searcher, r: Req): Array[(Long, Double)] =
    if (r.facet) {
      val rows = ctx.tracer.span("query.facetSearch")(
        s.facetSearch(r.query, r.conj, r.filter).collect())
      require(rows.forall(_.getLong(2) > 0), "non-positive facet count")
      Array.empty
    } else {
      val rows = ctx.tracer.span("query.searchCached")(
        s.searchCached(r.query, K, r.start, r.conj, r.filter))
      require(rows.forall(_.getAs[String]("url") != null), "page row without stored fields")
      require(rows.map(_.getLong(0)).distinct.length == rows.length, "duplicate doc on a page")
      rows.map(r => r.getLong(0) -> r.getDouble(1))
    }

  /** A closed loop: each client thread sends its next request as soon as
    * the previous one returns, until `next` has none for it. In the traced run
    * every other request is traced, so the untraced half measures the
    * tracing overhead under identical load. */
  def closedLoop(ctx: Ctx, clients: Int, next: Int => Option[Req],
                 serve: Req => Array[(Long, Double)]): IndexedSeq[Sample] = {
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = 0
        var r = next(c)
        while (r.isDefined) {
          val traced = i % 2 == 0
          val id = ctx.tracer.nextReqId()
          val c0 = Jvm.threadCpuNs
          val t0 = System.nanoTime()
          val (rows, ok) =
            try (ctx.tracer.request(if (r.get.facet) "request.facet" else "request.search",
              id, traced)(serve(r.get)), true)
            catch { case NonFatal(_) => (Array.empty[(Long, Double)], false) }
          val lat = System.nanoTime() - t0
          ctx.op(ok, s"request '${r.get.query}' failed")
          results.add(Sample(c, r.get, lat, ok, ctx.tracer.enabled && traced, id, rows,
            Jvm.threadCpuNs - c0))
          i += 1
          r = next(c)
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val b = IndexedSeq.newBuilder[Sample]
    results.forEach(s => b += s)
    b.result()
  }

  /** Hands out `reqs` in order to all clients, in passes of `pass`
    * requests: after `deadlineNs` no new pass starts, so a run always
    * serves whole passes and every run serves the same mix. */
  final class Passes(reqs: IndexedSeq[Req], pass: Int, deadlineNs: Long) {
    private var i = 0
    def next(): Option[Req] = synchronized {
      if (i >= reqs.size || (i % pass == 0 && i > 0 && System.nanoTime() >= deadlineNs)) None
      else { i += 1; Some(reqs(i - 1)) }
    }
  }

  /** Serve a fixed request list on `clients` threads (warm-up). */
  def runAll(ctx: Ctx, clients: Int, reqs: IndexedSeq[Req],
             serve: Req => Array[(Long, Double)]): Unit = {
    val threads = (0 until clients).map { c =>
      new Thread(() => reqs.indices.filter(_ % clients == c).foreach { i =>
        val ok = try { serve(reqs(i)); true } catch { case NonFatal(_) => false }
        ctx.op(ok, s"warm-up request '${reqs(i).query}' failed")
      }, s"perfbench-warm-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Run independent tasks on one thread each and wait for all. */
  def concurrently(tasks: Seq[() => Unit]): Unit = {
    val ts = tasks.map(t => new Thread(() => t()))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  /** Bit-identical (doc_id, score) lists. */
  def same(a: Array[(Long, Double)], b: Array[(Long, Double)]): Boolean =
    a.length == b.length && a.indices.forall(i => a(i)._1 == b(i)._1 &&
      java.lang.Double.doubleToRawLongBits(a(i)._2) ==
        java.lang.Double.doubleToRawLongBits(b(i)._2))

  def pairs(rows: Array[Row]): Array[(Long, Double)] =
    rows.map(r => r.getLong(0) -> r.getDouble(1))

  /** WAND (forced on at any df) against the exact path for `r`, and both
    * against `served`, the answer the request got. Returns the wall time
    * of the forced WAND call in ms (NaN if it failed). */
  def checkWand(ctx: Ctx, s: Searcher, r: Req, served: Array[(Long, Double)]): Double = {
    var wandMs = Double.NaN
    val ok = try {
      val (wand, ns) = Stats.timeNs(pairs(s.searchWand(r.query, K, r.start, r.conj, r.filter,
        wandMinDf = 0L).collect()))
      wandMs = ns / 1e6
      val exact = pairs(s.search(r.query, K, r.start, r.conj, r.filter).collect())
      same(wand, exact) && same(served, exact)
    } catch { case NonFatal(_) => false }
    ctx.op(ok, s"WAND/exact/served mismatch for '${r.query}' conj=${r.conj} " +
      s"lang=${r.lang} start=${r.start}")
    wandMs
  }

  /** Latency metrics of search samples: overall median/p95/rate and the
    * per-class medians. */
  def recordLatencies(ctx: Ctx, samples: Seq[Sample], windowS: Double): Unit = {
    require(samples.exists(_.ok), "no request succeeded")
    val search = samples.filter(s => s.ok && !s.req.facet)
    val ms = search.map(_.latencyNs / 1e6)
    ctx.put("search_requests", ms.size.toDouble, "count")
    ctx.put("search_p50_ms", Stats.median(ms), "ms")
    ctx.put("search_p95_ms", Stats.quantile(ms, 0.95), "ms")
    // the serving workloads' foreground operation is the search request
    ctx.put("op_p50_ms", ctx.get("search_p50_ms").get, "ms")
    ctx.put("op_p75_ms", Stats.quantile(ms, 0.75), "ms")
    ctx.put("search_qps", ms.size / windowS, "1/s")
    // a closed loop without think time completes clients / mean latency
    // requests per second (Little's law); unlike a count over the window
    // it has no edge effect from requests in flight at the deadline
    val all = samples.filter(_.ok).map(_.latencyNs / 1e9)
    ctx.put("ops_per_s", samples.map(_.client).distinct.size / (all.sum / all.size), "1/s")
    Seq("head", "mid", "tail", "and", "or", "filter", "page2").foreach { c =>
      val xs = search.filter(_.req.classes.contains(c)).map(_.latencyNs / 1e6)
      ctx.put(s"query.search_ms.$c", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }
  }

  /** Median latency of traced minus untraced search requests. */
  def traceOverheadMs(samples: Seq[Sample]): Double = {
    val (t, u) = samples.filter(s => s.ok && !s.req.facet).partition(_.traced)
    if (t.isEmpty || u.isEmpty) 0.0
    else Stats.median(t.map(_.latencyNs / 1e6)) - Stats.median(u.map(_.latencyNs / 1e6))
  }

  /** Scheduler work per foreground operation: these counts depend only
    * on the inputs, not on how busy the machine is. */
  def recordWork(ctx: Ctx, c: SparkCounters, ops: Int): Unit = {
    ctx.put("jobs_per_op", c.jobs.toDouble / ops, "count")
    ctx.put("tasks_per_op", c.tasks.toDouble / ops, "count")
    ctx.put("read_bytes_per_op", c.inputBytes.toDouble / ops, "bytes")
  }

  /** Listener counters per search request. */
  def recordSpark(ctx: Ctx, samples: Seq[Sample]): Unit = {
    ctx.probe.awaitIdle()
    // CPU work per request: the client thread (driver-side planning,
    // scheduling calls, result handling) plus the tasks of its jobs
    val done = samples.filter(_.ok)
    val all = ctx.probe.sum(done.map(_.reqId))
    ctx.put("op_work_ms", (done.map(_.threadCpuNs).sum + all.taskCpuNs) / 1e6 / done.size, "ms")
    Serve.recordWork(ctx, all, done.size)
    val search = samples.filter(s => s.ok && !s.req.facet)
    val n = math.max(1, search.size).toDouble
    val c = ctx.probe.sum(search.map(_.reqId))
    ctx.put("spark.jobs_per_search", c.jobs / n, "count")
    ctx.put("spark.tasks_per_search", c.tasks / n, "count")
    ctx.put("spark.input_bytes_per_search", c.inputBytes / n, "bytes")
    ctx.put("spark.job_wall_ms_per_search", c.jobWallMs / n, "ms")
    ctx.put("spark.task_run_ms_per_search", c.taskRunMs / n, "ms")
    ctx.put("spark.task_slot_wait_ms", c.slotWaitMs / math.max(1L, c.tasks).toDouble, "ms")
  }
}
