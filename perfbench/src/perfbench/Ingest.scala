package perfbench

import scala.util.control.NonFatal

import graft.index.{IndexBuilder, IndexCheck, IndexStore}
import org.apache.spark.sql.functions._

/** `ingest`: the write path with no serving. Set-up builds the index from
  * parquet (buildFull) and audits it; in the window one writer sends
  * upsert requests back to back — appendSegment of a batch that re-uses
  * existing urls, then deleteByPk of a few urls — and after the window
  * mergeCompact and a second audit close the lifecycle. */
object Ingest {
  /** Upsert requests per run: at least `MinRounds`, so every run times the
    * same sequence of segment counts, and more while the window lasts. */
  val MinRounds = 3
  val MaxRounds = 6
  val BatchDocs = 500
  val BatchReuse = 250
  val DeletesPerRound = 50

  final case class Call(kind: String, reqId: Long, seconds: Double)

  def run(ctx: Ctx): Unit = {
    val built = Corpus.setups(ctx, 3, serve = false, dir => (0 until MaxRounds).foreach { b =>
      Corpus.writePages(ctx, Corpus.upsertBatch(ctx, b, BatchDocs, BatchReuse, Corpus.Docs),
        s"$dir/batch-$b")
    })
    val root = built.root
    val cfg = Corpus.cfg(ctx)
    val calls = Seq.newBuilder[Call]
    def call[A](kind: String, span: String, traced: Boolean = true)(f: => A): A = {
      val id = ctx.tracer.nextReqId()
      val (r, ns) = Stats.timeNs(ctx.tracer.request(s"request.$kind", id, traced)(
        ctx.tracer.span(span)(f)))
      calls += Call(kind, id, ns / 1e9)
      r
    }
    def audit(when: String): Unit = {
      val issues = try call("check", "index.IndexCheck.check")(
          IndexCheck.check(ctx.spark, root).count())
        catch { case NonFatal(_) => -1L }
      ctx.op(issues == 0L, s"IndexCheck after $when: $issues issue(s)")
    }
    audit("build")
    ctx.log("set-up done")

    val upsertMs = Seq.newBuilder[(Double, Boolean)]
    var upsertThreadCpuNs = 0L
    val gc0 = Jvm.gcMs
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var rounds = 0
    while (rounds < MaxRounds && (rounds < MinRounds || System.nanoTime() < deadline)) {
      val b = rounds
      // in the traced run every other request is untraced: the latency
      // difference is the tracing overhead
      val traced = b % 2 == 0
      val t = System.nanoTime()
      val c0 = Jvm.threadCpuNs
      val ok = try {
        call("append", "index.appendSegment", traced)(IndexBuilder.appendSegment(
          ctx.spark, ctx.spark.read.parquet(s"${built.dir}/batch-$b"), ctx.dict, root, cfg))
        call("delete", "index.deleteByPk", traced)(IndexBuilder.deleteByPk(ctx.spark,
          root, Corpus.deleteIds(b, DeletesPerRound, Corpus.Docs).map(Corpus.url)))
        true
      } catch { case NonFatal(_) => false }
      ctx.op(ok, s"upsert request $b failed")
      upsertThreadCpuNs += Jvm.threadCpuNs - c0
      if (ok) upsertMs += ((System.nanoTime() - t) / 1e6 -> (traced && ctx.tracer.enabled))
      rounds += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    ctx.put("window_s", windowS, "s")
    ctx.log("window done")
    ctx.put("jvm.gc_ms", (Jvm.gcMs - gc0).toDouble, "ms")
    ctx.put("heap_after_gc_mb", Jvm.heapAfterGcMb, "MB")
    ctx.put("upsert_requests", rounds.toDouble, "count")

    val compacted = try {
      call("compact", "index.mergeCompact")(IndexBuilder.mergeCompact(ctx.spark, root, ctx.dict, cfg))
      true
    } catch { case NonFatal(_) => false }
    ctx.op(compacted, "mergeCompact failed")
    audit("compaction")
    verifyCompacted(ctx, root, rounds)

    val cs = calls.result()
    def med(kind: String) = {
      val xs = cs.filter(_.kind == kind).map(_.seconds)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    ctx.put("index.append_s", med("append"), "s")
    ctx.put("index.delete_s", med("delete"), "s")
    ctx.put("index.compact_s", med("compact"), "s")
    ctx.put("index.check_s", med("check"), "s")
    ctx.put("append_docs_per_s", BatchDocs / med("append"), "docs/s")
    ctx.put("compact_docs_per_s", liveDocs(rounds) / med("compact"), "docs/s")
    ctx.probe.awaitIdle()
    Seq("append", "compact").foreach { k =>
      val ids = cs.filter(_.kind == k).map(_.reqId)
      ctx.put(s"index.jobs.$k", ctx.probe.sum(ids).jobs / math.max(1, ids.size).toDouble, "count")
    }
    val upserts = ctx.probe.sum(cs.filter(c => c.kind == "append" || c.kind == "delete")
      .map(_.reqId))
    ctx.put("op_work_ms", (upsertThreadCpuNs + upserts.taskCpuNs) / 1e6 / rounds, "ms")
    Serve.recordWork(ctx, upserts, rounds)
    val writes = ctx.probe.sum(cs.filter(c => c.kind == "append" || c.kind == "delete" ||
      c.kind == "compact").map(_.reqId))
    ctx.put("index.shuffle_write_bytes", writes.shuffleWriteBytes.toDouble, "bytes")
    ctx.put("index.spill_bytes", writes.spillBytes.toDouble, "bytes")

    val up = upsertMs.result()
    val ms = up.map(_._1)
    ctx.put("op_p50_ms", Stats.median(ms), "ms")
    ctx.put("op_p75_ms", Stats.quantile(ms, 0.75), "ms")
    ctx.put("ops_per_s", 1.0 / (ms.sum / ms.size / 1000.0), "1/s")
    val (tr, un) = up.partition(_._2)
    Layers.record(ctx, built.corpus, root, None, Nil,
      if (tr.isEmpty || un.isEmpty) 0.0
      else Stats.median(tr.map(_._1)) - Stats.median(un.map(_._1)))
  }

  /** Docs live after `rounds` upsert requests: the corpus, plus the fresh
    * docs of each batch, minus the deletes. */
  def liveDocs(rounds: Int): Long = Corpus.Docs + rounds.toLong * (BatchDocs - BatchReuse) -
    rounds.toLong * DeletesPerRound

  /** After compaction the docstore holds exactly the live view: each
    * upserted url once at its new version, no deleted url. */
  def verifyCompacted(ctx: Ctx, root: String, rounds: Int): Unit = {
    val ok = try {
      val snap = IndexStore.readLatestSnapshot(ctx.spark, root).get
      val ds = snap.segments.map(s => ctx.spark.read.parquet(IndexStore.docstorePath(root, s))
        .select("url", "warc_ts")).reduce(_ unionByName _)
      val deleted = (0 until rounds).flatMap(Corpus.deleteIds(_, DeletesPerRound, Corpus.Docs))
        .map(Corpus.url)
      val upserted = (0 until rounds).flatMap { b =>
        (0 until BatchReuse).map(j => Corpus.url((b.toLong * BatchReuse + j) % (Corpus.Docs / 2)))
      }.distinct
      val total = ds.count()
      val dupUrls = ds.groupBy("url").count().where(col("count") > 1).count()
      val delLeft = ds.where(col("url").isin(deleted: _*)).count()
      val fresh = ds.where(col("url").isin(upserted: _*) &&
        col("warc_ts") >= lit(new java.sql.Timestamp(Corpus.FreshEpochMs))).count()
      total == liveDocs(rounds) && dupUrls == 0 && delLeft == 0 && fresh == upserted.size
    } catch { case NonFatal(_) => false }
    ctx.op(ok, s"compacted view of $root is not the expected live set")
  }
}
