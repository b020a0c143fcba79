package perfbench

import graft.analysis.Tokenizer
import graft.codec.{BitPack, VarByte}
import graft.functions.GraftRuntime
import graft.index.IndexStore
import graft.query.Searcher
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Per-layer numbers of the traced run: analysis and codec kernels timed
  * from outside over this run's own corpus text and index blobs, the
  * fixed build cost, and span self time per layer. */
object Layers {
  /** Every per-layer metric, in the order they are printed; a layer a
    * workload does not use reads 0. */
  val Names: Seq[(String, String)] = Seq(
    "analysis.tokens_u8_mb_per_s" -> "MB/s",
    "analysis.expand_u8_tokens_per_s" -> "1/s",
    "analysis.analyze_query_us" -> "us",
    "codec.decode_postings_per_s" -> "1/s",
    "codec.decode_for_docs_per_s" -> "1/s",
    "codec.bitpack_unpack_values_per_s" -> "1/s",
    "codec.encode_postings_per_s" -> "1/s",
    "codec.bytes_per_posting" -> "bytes") ++
    Build.Phases.map(p => s"index.build.${p}_s" -> "s") ++ Seq(
    "index.build.fixed_s" -> "s",
    "index.append_s" -> "s",
    "index.delete_s" -> "s",
    "index.compact_s" -> "s",
    "index.check_s" -> "s",
    "index.jobs.build" -> "count",
    "index.jobs.append" -> "count",
    "index.jobs.compact" -> "count",
    "index.shuffle_write_bytes" -> "bytes",
    "index.spill_bytes" -> "bytes",
    "index.bytes.postings" -> "bytes",
    "index.bytes.docstore" -> "bytes",
    "index.bytes.other" -> "bytes",
    "query.open_s" -> "s") ++
    Seq("head", "mid", "tail", "and", "or", "filter", "page2")
      .map(c => s"query.search_ms.$c" -> "ms") ++ Seq(
    "query.wand_forced_ms" -> "ms",
    "query.batch_s" -> "s",
    "query.result_cache.hit_ratio" -> "ratio",
    "query.result_cache.lookups" -> "count",
    "query.doc_cache.hit_ratio" -> "ratio",
    "query.doc_cache.lookups" -> "count",
    "spark.jobs_per_search" -> "count",
    "spark.tasks_per_search" -> "count",
    "spark.input_bytes_per_search" -> "bytes",
    "spark.job_wall_ms_per_search" -> "ms",
    "spark.task_run_ms_per_search" -> "ms",
    "spark.task_slot_wait_ms" -> "ms",
    "jvm.gc_ms" -> "ms") ++
    Seq("request", "query", "index", "spark_sched", "spark_task")
      .map(l => s"trace.self_ms.$l" -> "ms") ++ Seq(
    "trace.spans" -> "count",
    "trace.overhead_p50_ms" -> "ms",
    "op_p50_ms" -> "ms",
    "op_p75_ms" -> "ms",
    "ops_per_s" -> "1/s",
    "op_work_ms" -> "ms",
    "build_docs_per_s" -> "docs/s",
    "build_work_ms_per_kdoc" -> "ms",
    "search_p50_ms" -> "ms",
    "search_p95_ms" -> "ms",
    "search_qps" -> "1/s",
    "facet_p50_ms" -> "ms",
    "batch_queries_per_s" -> "1/s",
    "append_docs_per_s" -> "docs/s",
    "compact_docs_per_s" -> "docs/s")

  /** Traced run only: kernels, fixed build cost and span summary, then
    * a 0 for every per-layer metric this workload left unset. */
  def record(ctx: Ctx, corpusPath: String, root: String,
             searcher: Option[Searcher], queries: Seq[String],
             overheadMs: Double): Unit = if (ctx.tracer.enabled) {
    analysis(ctx, corpusPath)
    codec(ctx, root)
    ctx.log("kernels done")
    searcher.foreach { s =>
      val qs = queries.toIndexedSeq
      ctx.put("analysis.analyze_query_us",
        1e6 / rate(qs.size)(qs.foreach(s.analyzeQuery)), "us")
    }
    Build.fixedCost(ctx)
    ctx.probe.awaitIdle()
    spans(ctx)
    ctx.put("trace.overhead_p50_ms", overheadMs, "ms")
    Names.foreach { case (n, u) => if (ctx.get(n).isEmpty) ctx.put(n, 0.0, u) }
  }

  /** Work units per second of `f` (which does `units` units): the median
    * of 3 timings, each repeating `f` for at least 200 ms. */
  def rate(units: Long)(f: => Unit): Double = {
    f // warm
    Stats.median((0 until 3).map { _ =>
      var reps = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 200000000L) { f; reps += 1 }
      units * reps / ((System.nanoTime() - t0) / 1e9)
    })
  }

  private def analysis(ctx: Ctx, corpusPath: String): Unit = {
    val texts = ctx.spark.read.parquet(corpusPath).where(col("text").isNotNull)
      .select("text").limit(2000).collect().map(r => UTF8String.fromString(r.getString(0)))
    val bytes = texts.map(_.numBytes().toLong).sum
    ctx.put("analysis.tokens_u8_mb_per_s",
      rate(bytes)(texts.foreach(GraftRuntime.tokensU8(_, Tokenizer.Text))) / 1e6, "MB/s")
    val toks = texts.map(GraftRuntime.tokensU8(_, Tokenizer.Text))
    val n = toks.map(_.length.toLong).sum
    ctx.put("analysis.expand_u8_tokens_per_s", rate(n)(toks.foreach(ctx.dict.expandU8)), "1/s")
  }

  private def codec(ctx: Ctx, root: String): Unit = {
    val snap = IndexStore.readLatestSnapshot(ctx.spark, root).get
    val blobs = snap.segments.map(s => IndexStore.readPostingsOrEmpty(ctx.spark, root, s)
      .select("blob")).reduce(_ unionByName _).collect().map(_.getAs[Array[Byte]](0))
    val decoded = blobs.map(VarByte.decode)
    val postings = decoded.map(_._1.length.toLong).sum
    ctx.put("codec.bytes_per_posting", blobs.map(_.length.toLong).sum.toDouble / postings, "bytes")
    ctx.put("codec.decode_postings_per_s", rate(postings)(blobs.foreach(VarByte.decode)), "1/s")
    val maxId = decoded.flatMap(_._1.lastOption).max
    val cands = (0L to maxId by 8L).toArray
    ctx.put("codec.decode_for_docs_per_s",
      rate(postings)(blobs.foreach(VarByte.decodeForDocs(_, cands))), "1/s")
    ctx.put("codec.encode_postings_per_s", rate(postings)(decoded.foreach {
      case (ids, tfs, dls) => VarByte.encode(ids, tfs, dls)
    }), "1/s")
    // the doc lengths of every blob, packed 128 per section at their own
    // width; the unpack kernel reads whole words, hence the 16-byte pad
    val sections = decoded.flatMap { case (_, _, dls) =>
      dls.grouped(VarByte.DefaultBlockSize).map { g =>
        val w = BitPack.width(g.max.toLong)
        val packed = BitPack.packInts(g, 0, g.length, w)
        (java.util.Arrays.copyOf(packed, packed.length + 16), g.length, w)
      }
    }
    val out = new Array[Int](VarByte.DefaultBlockSize)
    ctx.put("codec.bitpack_unpack_values_per_s", rate(postings)(sections.foreach {
      case (bytes, n, w) => BitPack.unpackInts(bytes, 0, n, w, out, 0)
    }), "1/s")
  }

  /** Self time per layer, per traced request. */
  private def spans(ctx: Ctx): Unit = {
    val all = ctx.tracer.all
    val self = Tracer.selfTimes(all)
    val requests = all.count(s => s.parent == 0L && s.name.startsWith("request."))
    def key(name: String) = name match {
      case "spark.job" => "spark_sched"
      case "spark.task" => "spark_task"
      case n => Tracer.layerOf(n)
    }
    val byLayer = all.groupBy(s => key(s.name)).view
      .mapValues(ss => ss.map(s => self(s.id)).sum / 1e6 / math.max(1, requests)).toMap
    Seq("request", "query", "index", "spark_sched", "spark_task").foreach { l =>
      ctx.put(s"trace.self_ms.$l", byLayer.getOrElse(l, 0.0), "ms")
    }
    ctx.put("trace.spans", all.size.toDouble, "count")
  }
}
