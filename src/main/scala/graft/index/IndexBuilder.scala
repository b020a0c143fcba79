package graft.index

import java.sql.Timestamp

import graft.analysis.SynonymDict
import graft.codec.VarByte
import graft.functions.graftFunctions._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed inverted-index build (SURVEY.md §3.1, §7 steps 3-5).
  *
  * Reference shape mirrored: schema-driven per-row indexing with PK
  * upserts (`/root/reference/LuceneSearchEngine/src/Indexer.java:233-435`)
  * becomes one declarative Spark job:
  *
  * {{{
  *   pages → ONE range shuffle on url: latest-wins dedup + deterministic
  *           dense doc_id assignment (fused)
  *         → one analysis pass: coalesce(text, extract_text(html)) +
  *           qube_tf (tokenize + synonyms + per-doc (term, tf, dl))
  *         → docstore parquet  — the build's only stable materialization
  *   docstore → qube_tf re-stream → term_stats (df, ttf, WAND bounds)
  *            → map-side per-(term, salt-shard) RAM posting buffers
  *              (Lucene's indexing buffer) flushed as delta+varbyte
  *              FRAGMENTS
  *            → ONE salted shuffle of fragments (not posting rows)
  *            → sortWithinPartitions(part, term) → per-term k-way merge
  *            → postings(part, term, df_local, max_tf, min_dl, blob)
  * }}}
  *
  * Exactly two shuffles, zero long-lived caches; head terms (df ≥
  * saltDf, known exactly from term_stats) split across saltFanout
  * partitions. Measured rationale for each decision: BENCH.md.
  */
object IndexBuilder {

  final case class IndexConfig(
      numParts: Int = 32,         // posting hash-partition count (term space)
      rangeParts: Int = 32,       // docstore range partitions for id assignment
      blockSize: Int = VarByte.DefaultBlockSize,
      saltDf: Long = 10000,       // df ≥ threshold ⇒ head term, gets salted
      saltFanout: Int = 8,        // shards per head term
      maxSaltedTerms: Int = 10000,
      maxBlobPostings: Int = 1 << 19, // cap per posting-blob ROW: a term
                                      // larger than this stores as
                                      // multiple chunk rows, so no blob
                                      // is ever O(df) (every query path
                                      // handles multi-row terms — a
                                      // multi-segment index is that
                                      // shape already). POSITIONAL
                                      // builds use effectiveMaxBlob-
                                      // Postings (≤ 1<<17): position
                                      // payloads made 512k-posting rows
                                      // ~10 MB — single parquet VALUES
                                      // the vectorized reader must hold
                                      // contiguous, which fragmented
                                      // and OOM'd the 20M dress's 8g
                                      // heap on head-term phrase scans
      flushEntries: Long = 2L << 20, // RAM posting-buffer flush threshold
                                     // (Lucene ramBufferSize analog,
                                     // ~32 MB of buffer arrays per task).
                                     // Halved in round 5: the 10M dress
                                     // found 32 CONCURRENT fragment
                                     // tasks × (buffers + flush output)
                                     // GC-collapsing an 8g heap — the
                                     // 5M dress only ever ran ~16
      indexPositions: Boolean = false, // per-posting token positions
                                       // (phrase queries; reference
                                       // DOCS_AND_FREQS_AND_POSITIONS,
                                       // Indexer.java:713-714). Off by
                                       // default: +bytes/+work that pure
                                       // bag-of-words BM25 never reads
      buildFacets: Boolean = false,    // build-time facet sidecar from
                                       // page columns (reference facet
                                       // fields, Indexer.java:277-364);
                                       // config-gated like the
                                       // reference's useFacet flag
      facetSpecs: Seq[FacetSpec] = Nil, // facet DIMENSION CONFIG — the
                                       // reference's schema-driven facet
                                       // fields (Indexer.java:157-172):
                                       // arbitrary dims over the docstore
                                       // columns, with hierarchy and
                                       // multi-value flags. Empty +
                                       // buildFacets=true ⇒ the default
                                       // lang/site dims
      analyzer: String = graft.analysis.Tokenizer.Text,
                                       // per-index analyzer mode (the
                                       // reference's per-field analyzer
                                       // dispatch, Indexer.java:420);
                                       // recorded in config.json so the
                                       // query side analyzes identically
      headSampleDocs: Long = 1L << 16, // corpora > 2× this derive the
                                       // salting head set from a
                                       // tokenized SAMPLE of this many
                                       // docs and term_stats from the
                                       // written posting blobs, removing
                                       // a full tokenize pass; smaller
                                       // builds keep the exact
                                       // term_stats-first pipeline.
                                       // Salting is LAYOUT-only (the
                                       // Searcher probes every salt of
                                       // every term), so the sampled
                                       // estimate can never change a
                                       // result — and a fixed absolute
                                       // sample detects exactly the
                                       // terms whose posting volume is
                                       // material at any corpus scale
      formatVersion: Int = VarByte.DefaultFormatVersion)
                                       // posting blob body format: v2 =
                                       // varint, v3 = FoR/bitpacked
                                       // (opt-in; ~5-10x faster decode,
                                       // see VarByte). Recorded in
                                       // config.json; readers accept
                                       // both, compaction requires
                                       // uniformity (mixed -> rebuild)

  /** The blob-row cap the encode paths actually apply: positional
    * payloads multiply bytes-per-posting ~4-8×, so positional builds
    * tighten the cap to keep every parquet blob VALUE in the low MBs
    * (a 512k-posting positional row was ~10 MB — see maxBlobPostings).
    * A user-lowered cap is always respected. */
  implicit final class CfgOps(private val cfg: IndexConfig) extends AnyVal {
    def effectiveMaxBlobPostings: Int =
      if (cfg.indexPositions) math.min(cfg.maxBlobPostings, 1 << 17)
      else cfg.maxBlobPostings
  }

  /** One build-time facet dimension (the reference's facet field config,
    * `/root/reference/LuceneSearchEngine/src/Indexer.java:157-172` —
    * per-field facet flags with multi-value and hierarchy variants,
    * applied at :277-364).
    *
    *  - `label`: Column over the docstore row (`doc_id, url, warc_ts,
    *    lang, text, dl`) producing the flat label — or, when
    *    `multiValue = true`, an ARRAY of labels (one facet row per
    *    element, the reference's multi-valued facet field).
    *  - `path`: hierarchy levels root→leaf (taxonomy dims); empty ⇒ flat
    *    (path = [label]). Mutually exclusive with `multiValue`.
    *
    * Null/empty labels get the reference's sentinel
    * (UNSUPPORTED_FACET_VALUE, Indexer.java:319-325) — applied to every
    * label and path level, so specs never need their own null handling.
    * Labels and path levels are stored as strings (the sidecar layout
    * pinned in [[IndexStore.facetsSchema]]). */
  final case class FacetSpec(dim: String,
                             label: org.apache.spark.sql.Column,
                             path: Seq[org.apache.spark.sql.Column] = Nil,
                             multiValue: Boolean = false) {
    require(!(multiValue && path.nonEmpty),
      s"facet dim '$dim': multiValue dims are flat — no hierarchy path")
  }

  val FacetSentinel = "__UNSUPPORTED_FACET_VALUE__"

  /** The default dims (what `buildFacets = true` built before specs
    * existed): document language, and site host with a tld→host
    * hierarchy. */
  def defaultFacetSpecs: Seq[FacetSpec] = {
    val host0 = regexp_extract(col("url"), "^[a-zA-Z]+://([^/]+)", 1)
    val host = when(host0 === "", lit(FacetSentinel)).otherwise(host0)
    val tld = regexp_extract(host, "([^.]+)$", 1)
    Seq(
      FacetSpec("lang", col("lang")),
      FacetSpec("site", host, path = Seq(tld, host)))
  }

  /** Facet sidecar rows `(doc_id, dim, label, path)` for one spec over
    * the docstore frame. */
  private def facetRows(docstore: DataFrame, sp: FacetSpec): DataFrame = {
    def sent(c0: org.apache.spark.sql.Column) = {
      val c = c0.cast("string")
      when(c.isNull || c === lit(""), lit(FacetSentinel)).otherwise(c)
    }
    if (sp.multiValue)
      docstore
        .select(col("doc_id"), explode_outer(sp.label).as("__v"))
        .select(col("doc_id"), lit(sp.dim).as("dim"),
          sent(col("__v")).as("label"))
        .withColumn("path", array(col("label")))
    else {
      val lbl = sent(sp.label)
      val path =
        if (sp.path.nonEmpty) array(sp.path.map(sent): _*) else array(lbl)
      docstore.select(col("doc_id"), lit(sp.dim).as("dim"),
        lbl.as("label"), path.as("path"))
    }
  }

  final case class RawPage(url: String, warc_ts: Timestamp,
                           html: Array[Byte], text: String, lang: String)
  final case class IdPage(doc_id: Long, url: String, warc_ts: Timestamp,
                          html: Array[Byte], text: String, lang: String)
  final case class PostingRow(part: Int, term: String, df_local: Long,
                              max_tf: Int, min_dl: Int, blob: Array[Byte])

  /** `urlRange` = the (min, max) url of a built segment's docstore,
    * observed during its write (None for an empty segment, and for
    * reports of compaction passes, which do not observe it). */
  final case class BuildReport(segment: String, docCount: Long, termCount: Long,
                               postingRows: Long, wallMs: Long,
                               phases: Seq[(String, Long)] = Seq.empty,
                               urlRange: Option[(String, String)] = None)

  /** Growable (docId, tf, dl[, positions]) buffer — the per-(term, shard)
    * RAM posting buffer of the map-side build (the analog of Lucene's
    * indexing buffer; its size is bounded by
    * `spark.sql.files.maxPartitionBytes`, the knob that caps per-task
    * memory at any corpus scale). Position arrays exist only when the
    * build indexes positions — the default path pays nothing. */
  private[index] final class FragBuf(withPos: Boolean) {
    private var ids = new Array[Long](4)
    private var tfs = new Array[Int](4)
    private var dls = new Array[Int](4)
    private var poss: Array[Array[Int]] = if (withPos) new Array(4) else null
    private var len = 0
    private var asc = true
    def nonEmpty: Boolean = len > 0
    def append(d: Long, tf: Int, dl: Int, ps: Array[Int] = null): Unit = {
      if (len == ids.length) {
        ids = java.util.Arrays.copyOf(ids, len * 2)
        tfs = java.util.Arrays.copyOf(tfs, len * 2)
        dls = java.util.Arrays.copyOf(dls, len * 2)
        if (withPos) poss = java.util.Arrays.copyOf(poss, len * 2)
      }
      if (len > 0 && d < ids(len - 1)) asc = false
      ids(len) = d; tfs(len) = tf; dls(len) = dl
      if (withPos) poss(len) = ps
      len += 1
    }
    /** Encode the buffer's doc-ascending content directly out of the
      * growth arrays ([[VarByte.encodeN]] — no exact-size copy). Inputs
      * arrive ascending per file chunk; bin-packed out-of-order chunks
      * pay a primitive in-place sort (doc ids are UNIQUE within one
      * (term, shard) buffer, so any correct sort yields the same
      * layout — the previous boxed `sortBy` permutation was a measured
      * cost of the flush path). Returns (blob, minDoc). */
    def encodeSorted(blockSize: Int, version: Int): (Array[Byte], Long) = {
      if (!asc) { sortInPlace(0, len - 1); asc = true }
      (VarByte.encodeN(ids, tfs, dls, len, blockSize,
        if (withPos) poss else null, version), ids(0))
    }

    private def swap(a: Int, b: Int): Unit = {
      val d = ids(a); ids(a) = ids(b); ids(b) = d
      val t = tfs(a); tfs(a) = tfs(b); tfs(b) = t
      val l = dls(a); dls(a) = dls(b); dls(b) = l
      if (withPos) { val p = poss(a); poss(a) = poss(b); poss(b) = p }
    }

    /** Quicksort (median-of-three) + insertion tail over the parallel
      * arrays, keyed by doc id. */
    private def sortInPlace(lo0: Int, hi0: Int): Unit = {
      var lo = lo0
      var hi = hi0
      while (hi - lo > 16) {
        val mid = (lo + hi) >>> 1
        // median-of-three pivot to ids(mid)
        if (ids(mid) < ids(lo)) swap(mid, lo)
        if (ids(hi) < ids(lo)) swap(hi, lo)
        if (ids(hi) < ids(mid)) swap(hi, mid)
        val pivot = ids(mid)
        var i = lo
        var j = hi
        while (i <= j) {
          while (ids(i) < pivot) i += 1
          while (ids(j) > pivot) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        // recurse into the smaller half, loop on the larger
        if (j - lo < hi - i) { sortInPlace(lo, j); lo = i }
        else { sortInPlace(i, hi); hi = j }
      }
      var k = lo + 1
      while (k <= hi) {
        var m = k
        while (m > lo && ids(m - 1) > ids(m)) { swap(m - 1, m); m -= 1 }
        k += 1
      }
    }

  }

  /** Posting hash partition for a (term, salt-shard) — shared with the
    * query side's plan-time partition pruning. */
  def partOf(term: String, salt: Int, numParts: Int): Int =
    java.lang.Math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(term) + salt, numParts)

  /** K-way merge of per-map-task posting fragments of one term: doc sets
    * are disjoint (each doc indexed by exactly one task) but id ranges
    * interleave, so merge — never concatenate. Position lists (when the
    * fragments carry them) ride along untouched: they are per-doc data. */
  private[index] type Decoded =
    (Array[Long], Array[Int], Array[Int], Array[Array[Int]])

  /** K-way merge of DECODED posting lists with disjoint doc sets but
    * (possibly) interleaved id ranges → merged arrays. The shared engine
    * of both the within-build fragment merge and the cross-segment
    * [[mergeCompact]].
    *
    * Small fan-ins use a linear best-of-k scan (cheapest constants);
    * larger ones a binary min-heap over fragment heads — the linear
    * scan is O(k·total), and the round-5 10M dress ran it at k ≈ 64
    * fragments per head-term shard (32 concurrent map tasks × 2 flushes
    * each), where it became the dominant cost of the whole postings
    * phase. */
  private[index] def mergeArrays(decoded: Array[Decoded],
                                 withPos: Boolean): Decoded = {
    val total = decoded.map(_._1.length).sum
    val ids = new Array[Long](total)
    val tfs = new Array[Int](total)
    val dls = new Array[Int](total)
    val poss: Array[Array[Int]] = if (withPos) new Array(total) else null
    val pos = new Array[Int](decoded.length)
    var filled = 0
    if (decoded.length <= 8) {
      while (filled < total) {
        var best = -1
        var bestId = Long.MaxValue
        var k = 0
        while (k < decoded.length) {
          val p = pos(k)
          if (p < decoded(k)._1.length && decoded(k)._1(p) < bestId) {
            best = k; bestId = decoded(k)._1(p)
          }
          k += 1
        }
        ids(filled) = bestId
        tfs(filled) = decoded(best)._2(pos(best))
        dls(filled) = decoded(best)._3(pos(best))
        if (withPos) poss(filled) = decoded(best)._4(pos(best))
        pos(best) += 1
        filled += 1
      }
    } else {
      // min-heap of fragment indexes keyed by their head docId; doc
      // sets are disjoint so keys never tie across live fragments
      val heap = new Array[Int](decoded.length)
      var hn = 0
      @inline def headId(f: Int): Long = decoded(f)._1(pos(f))
      @inline def siftUp(i0: Int): Unit = {
        var i = i0
        while (i > 0 && headId(heap(i)) < headId(heap((i - 1) >> 1))) {
          val p = (i - 1) >> 1
          val t = heap(i); heap(i) = heap(p); heap(p) = t
          i = p
        }
      }
      @inline def siftDown(): Unit = {
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1
          val r = l + 1
          var m = i
          if (l < hn && headId(heap(l)) < headId(heap(m))) m = l
          if (r < hn && headId(heap(r)) < headId(heap(m))) m = r
          if (m == i) done = true
          else {
            val t = heap(i); heap(i) = heap(m); heap(m) = t
            i = m
          }
        }
      }
      var f = 0
      while (f < decoded.length) {
        if (decoded(f)._1.nonEmpty) { heap(hn) = f; hn += 1; siftUp(hn - 1) }
        f += 1
      }
      while (filled < total) {
        val best = heap(0)
        val p = pos(best)
        ids(filled) = decoded(best)._1(p)
        tfs(filled) = decoded(best)._2(p)
        dls(filled) = decoded(best)._3(p)
        if (withPos) poss(filled) = decoded(best)._4(p)
        pos(best) = p + 1
        filled += 1
        if (p + 1 < decoded(best)._1.length) siftDown()
        else {
          hn -= 1
          if (hn > 0) { heap(0) = heap(hn); siftDown() }
        }
      }
    }
    (ids, tfs, dls, poss)
  }

  /** Encode merged posting arrays as ≤`maxPostings`-posting blob CHUNKS:
    * no blob is ever O(df) — at 10^12 docs a monolithic head-term blob
    * would be GBs regardless of salting, breaking both the byte[] limit
    * and the vectorized reader. Every query path already handles
    * multiple rows per (part, term) (a multi-segment index IS that
    * shape). Positions ride along iff the decoded arrays carry them.
    * Returns (blob, postingCount) per chunk. */
  private[index] def encodeChunks(d: Decoded, blockSize: Int,
                                  maxPostings: Int,
                                  version: Int = VarByte.DefaultFormatVersion)
      : Array[(Array[Byte], Int)] = {
    require(maxPostings > 0, s"maxBlobPostings must be positive: $maxPostings")
    val (ids, tfs, dls, poss) = d
    val n = ids.length
    if (n == 0) // preserve the legacy empty-blob shape for empty inputs
      return Array((VarByte.encode(ids, tfs, dls, blockSize, poss, version), 0))
    val out = Array.newBuilder[(Array[Byte], Int)]
    var a = 0
    while (a < n) {
      val b = math.min(a.toLong + maxPostings, n.toLong).toInt
      val blob = VarByte.encode(
        java.util.Arrays.copyOfRange(ids, a, b),
        java.util.Arrays.copyOfRange(tfs, a, b),
        java.util.Arrays.copyOfRange(dls, a, b),
        blockSize,
        if (poss == null) null else java.util.Arrays.copyOfRange(poss, a, b),
        version)
      out += ((blob, b - a))
      a = b
    }
    out.result()
  }


  /** Group a sorted iterator into contiguous runs (same `sameRun` as the
    * run's first element) and flat-map each run through `emit` — the one
    * copy of the buffered-iterator/queued-rows state shared by the
    * build's fragment merge and both compact paths (an emit may return
    * several chunk rows, or none when every posting of a term died). */
  private[index] def runGrouped[T, R](it: Iterator[T])(
      sameRun: (T, T) => Boolean)(emit: Vector[T] => Seq[R]): Iterator[R] =
    new Iterator[R] {
      private val in = it.buffered
      private var queued: List[R] = Nil
      def hasNext: Boolean = {
        while (queued.isEmpty && in.hasNext) {
          val first = in.next()
          val buf = Vector.newBuilder[T]
          buf += first
          while (in.hasNext && sameRun(first, in.head)) buf += in.next()
          queued = emit(buf.result()).toList
        }
        queued.nonEmpty
      }
      def next(): R = {
        if (!hasNext) throw new NoSuchElementException
        val r = queued.head; queued = queued.tail; r
      }
    }

  /** STREAMING k-way merge of posting blobs (disjoint doc sets, possibly
    * interleaved id ranges) with optional dead-id skip and ≤`maxPostings`
    * chunked re-encode: [[graft.codec.VarByte.Cursor]]s + a binary
    * min-heap + an incremental [[graft.codec.VarByte.BlockEncoder]].
    * Working set is O(k · blockSize + one output chunk) — NEVER O(term
    * bytes): the decode-everything-then-merge shape held every fragment
    * of a head-term shard fully decoded (positions included) per task
    * and GC-collapsed the 10M dress's 8 GiB heap at 32 concurrent merge
    * tasks. This is the merge engine of both the build's reduce side and
    * the posting-level compaction. Returns (blob, count, maxTf, minDl)
    * per chunk; empty when every posting died. */
  private[index] def mergeBlobsStreaming(blobs: Seq[Array[Byte]],
                                         withPos: Boolean, blockSize: Int,
                                         version: Int, maxPostings: Int,
                                         dead: Array[Long] = Array.empty[Long])
      : Seq[(Array[Byte], Int, Int, Int)] = {
    require(maxPostings > 0, s"maxBlobPostings must be positive: $maxPostings")
    val cursors = blobs.iterator
      .map(b => new VarByte.Cursor(b, wantPositions = withPos))
      .filter(_.hasNext).toArray
    cursors.foreach(_.advance())
    // min-heap of cursor indexes by current docId (doc sets disjoint)
    val heap = new Array[Int](math.max(cursors.length, 1))
    var hn = 0
    @inline def idOf(c: Int): Long = cursors(c).docId
    @inline def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0 && idOf(heap(i)) < idOf(heap((i - 1) >> 1))) {
        val p = (i - 1) >> 1
        val t = heap(i); heap(i) = heap(p); heap(p) = t
        i = p
      }
    }
    @inline def siftDown(): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < hn && idOf(heap(l)) < idOf(heap(m))) m = l
        if (r < hn && idOf(heap(r)) < idOf(heap(m))) m = r
        if (m == i) done = true
        else { val t = heap(i); heap(i) = heap(m); heap(m) = t; i = m }
      }
    }
    var c = 0
    while (c < cursors.length) { heap(hn) = c; hn += 1; siftUp(hn - 1); c += 1 }
    val out = Seq.newBuilder[(Array[Byte], Int, Int, Int)]
    var be: VarByte.BlockEncoder = null
    while (hn > 0) {
      val top = heap(0)
      val cur = cursors(top)
      if (dead.isEmpty || java.util.Arrays.binarySearch(dead, cur.docId) < 0) {
        if (be == null)
          be = new VarByte.BlockEncoder(blockSize, version, withPos)
        be.append(cur.docId, cur.tf, cur.dl, cur.positions)
        if (be.count == maxPostings) {
          out += ((be.finish(), be.count, be.maxTf, be.minDl))
          be = null
        }
      }
      if (cur.hasNext) { cur.advance(); siftDown() }
      else {
        hn -= 1
        if (hn > 0) { heap(0) = heap(hn); siftDown() }
      }
    }
    if (be != null && be.count > 0)
      out += ((be.finish(), be.count, be.maxTf, be.minDl))
    out.result()
  }

  /** Header-only conservative check: could any id of `dead` (sorted)
    * coincide with a posting in this blob? Block docId ranges only —
    * `false` GUARANTEES the blob is untouched (licensing the byte
    * passthrough); `true` may be a near-miss (the posting then merely
    * loses the passthrough and takes the streaming merge). */
  private[index] def blobTouchesDead(blob: Array[Byte],
                                     dead: Array[Long]): Boolean = {
    if (dead.isEmpty) return false
    var touched = false
    VarByte.scan(blob) { h =>
      if (!touched) {
        // conservative range [prevBlockLast, lastDocId]: including the
        // boundary id (really the PREVIOUS block's last) only ever
        // flags extra, never misses
        var lo = java.util.Arrays.binarySearch(dead, h.prevBlockLast)
        if (lo < 0) lo = -lo - 1
        if (lo < dead.length && dead(lo) <= h.lastDocId) touched = true
      }
      false
    }((_, _, _) => ())
    touched
  }

  /** Latest-wins dedup + deterministic dense doc_id assignment over the
    * RAW pages, fused into ONE shuffle: range partition by url, sort each
    * partition by (url asc, warc_ts desc, text desc) — the first row of
    * every url run is the latest-wins winner (S4 semantics) — then
    * per-partition deduped counts → cumulative offsets → a single
    * streaming dedup+assign pass. Scale-safe (never collapses to one
    * partition the way `row_number().over(orderBy)` would) and
    * parallelism-independent: ids depend only on the total url order.
    *
    * The shuffle+sort is the Dataset-level Tungsten machinery
    * (repartitionByRange + sortWithinPartitions), with BOTH per-partition
    * jobs derived from ONE physical-plan instance so boundaries sample
    * once and the map output is reused from shuffle files — no O(corpus)
    * staging cache at all. (The alternatives all failed at scale:
    * re-instantiated repartitionByRange re-samples boundaries per job →
    * duplicate doc_ids; persisting the sorted pages — deserialized OR
    * serialized — OOMs the columnar cache builder at 5M docs on 8g; a
    * hand-rolled RDD shuffle of (key, row-bytes) Java objects OOM'd the
    * object-buffering ExternalSorter at 20M docs.)
    *
    * Runs BEFORE the analysis chain on purpose: the extra boundary-
    * sampling pass touches raw pages, keeping the expensive extract/
    * tokenize/synonym work strictly single-pass. */
  def assignDocIds(spark: SparkSession, pages: Dataset[RawPage],
                   baseDocId: Long, rangeParts: Int): Dataset[IdPage] = {
    import spark.implicits._
    // RawPage and IdPage line up column-for-column (doc_id prepended), so
    // the typed path is a view over the generic row implementation
    assignDocIdsDf(spark, pages.toDF(), baseDocId, rangeParts, "text")
      .as[IdPage]
  }

  /** Generic-schema variant of [[assignDocIds]]: same fused
    * dedup+assignment over ANY frame with `url`/`warc_ts` columns,
    * carrying every other column through unchanged and prepending
    * `doc_id`. `tieCol` names the (string) column that breaks exact
    * (url, warc_ts) ties — the single-field build passes `text`; the
    * fielded build passes the field texts concatenated in field-name
    * order, so all fields agree on one winner row.
    *
    * Besides the one range shuffle, it runs a sizing `count()` over
    * `df0` (it picks the range-partition count). That is row-group
    * metadata for a parquet source and a column-pruned pass for the
    * generator, but an input whose derived columns resist pruning runs
    * its whole pipeline once more for it.
    *
    * Contract on the returned frame: every emitted row is ONE aliased
    * `JoinedRow` over the sorter's reused row, valid only until the
    * consumer pulls the next row. Consume it one row at a time (the
    * parquet writers here do) and WRITE it before any reuse — never
    * cache, collect or buffer its rows un-copied, or they all alias the
    * last one. [[FieldedIndex]] writes it before its per-field reads. */
  def assignDocIdsDf(spark: SparkSession, df0: DataFrame, baseDocId: Long,
                     rangeParts: Int, tieCol: String): DataFrame = {
    // normalize warc_ts to session-tz TIMESTAMP: tables written by other
    // engines (e.g. a plain parquet COPY) carry TIMESTAMP_NTZ, whose
    // rows surface as LocalDateTime and would ClassCastException the
    // sort-key extraction below (no-op cast for already-TIMESTAMP input)
    val df = df0.withColumn("warc_ts", col("warc_ts").cast("timestamp"))
    val schema = df.schema
    val urlIdx = schema.fieldIndex("url")
    // Scale-adaptive range-partition count (guide §2.5/§5: smaller
    // per-task state beats a constant tuned for one scale): each reduce
    // task of this shuffle SORTS its partition's rows (and the docstore
    // write later stacks parquet buffers on the same partitioning), so a
    // fixed rangeParts leaves per-task state O(corpus/rangeParts) — at
    // 20M docs that was 625k docs (~600 MB) per task × 32 concurrent
    // tasks, which OOM'd the flat 8 GiB heap. The configured value stays
    // the FLOOR (bench and test builds are untouched); larger corpora
    // get more, smaller partitions. The count job is cheap where it
    // matters (parquet count() is row-group metadata; the generator's
    // count prunes every column) and ids are partitioning-independent by
    // construction, so the partition count affects memory and file
    // layout only, never results.
    val targetDocsPerRangePart = 200000L
    val nRows = df.count()
    val parts = math.max(math.max(rangeParts, 1), math.min(20000L,
      (nRows + targetDocsPerRangePart - 1) / targetDocsPerRangePart).toInt)
    // The shuffle+sort is a Dataset-level repartitionByRange +
    // sortWithinPartitions: Tungsten rows through the exchange and the
    // radix UnsafeExternalRowSorter on the reduce side — binary records
    // with EXACT memory accounting that spill reliably. (The previous
    // RDD formulation shipped (SortKey, row-bytes) JAVA objects through
    // the object-buffering ExternalSorter, whose sampled size estimates
    // under 32 concurrent fat tasks OOM'd the 8 GiB heap at 20M docs —
    // and paid a full row copy per map-side record.) Sort order
    // replicates the assignment contract exactly: url ascending,
    // unix_millis(warc_ts) DESC NULLS LAST (the previous path compared
    // floorDiv(micros, 1000) with null → Long.MinValue), tie column
    // DESC NULLS LAST (the previous head-group max-tie logic) — the
    // first row of every url run is the latest-wins winner. String
    // comparisons are UTF8String byte order (≡ java.lang.String order
    // for ASCII; for exotic codepoints byte order is also what the SQL
    // oracle's ORDER BY compares).
    val sortedDs = df
      .repartitionByRange(parts, col("url"))
      .sortWithinPartitions(col("url").asc,
        unix_millis(col("warc_ts")).desc_nulls_last,
        col(tieCol).desc_nulls_last)
    // ONE physical-plan instance feeds BOTH jobs below (invariant 1):
    // the exchange samples its range boundaries once when this RDD
    // first executes and caches its shuffle dependency, so the counts
    // job and the assignment job read the SAME shuffle files with the
    // SAME partitioning — no re-sampling between jobs and no O(corpus)
    // staging cache. (Boundaries affect balance only, never results:
    // ids come from the per-partition deduped counts + offsets over
    // contiguous url ranges.)
    val sortedRdd = org.apache.spark.sql.graft.Bridge.internalRdd(sortedDs)
    val counts = sortedRdd.mapPartitions { it =>
      var n = 0L
      var prev: org.apache.spark.unsafe.types.UTF8String = null
      it.foreach { r =>
        val u = r.getUTF8String(urlIdx)
        if (prev == null || !u.equals(prev)) { n += 1; prev = u.clone() }
      }
      Iterator.single((TaskContext.getPartitionId(), n))
    }.collect().sortBy(_._1)
    val offsets: Map[Int, Long] = {
      var acc = baseDocId
      counts.map { case (pid, n) => val o = pid -> acc; acc += n; o }.toMap
    }
    val bcOff = spark.sparkContext.broadcast(offsets)
    // streaming dedup + assignment: rows arrive fully sorted, so the
    // FIRST row of each url run is its winner — emit it with the next
    // dense id, skip the rest of the run. The emitted JoinedRow wraps
    // the sorter's reused row (valid until the consumer's next call,
    // the standard iterator contract the parquet writer honors).
    val ids = sortedRdd.mapPartitions { it =>
      var nextId = bcOff.value.getOrElse(TaskContext.getPartitionId(), 0L)
      var curUrl: org.apache.spark.unsafe.types.UTF8String = null
      val idRow = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(1)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      it.flatMap { r =>
        val u = r.getUTF8String(urlIdx)
        if (curUrl == null || !u.equals(curUrl)) {
          curUrl = u.clone()
          idRow.update(0, nextId)
          nextId += 1
          Iterator.single(joined(idRow, r): InternalRow)
        } else Iterator.empty
      }
    }
    val outSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false) +: schema.fields)
    org.apache.spark.sql.graft.Bridge.fromInternal(spark, ids, outSchema)
  }

  /** The docstore pass's analysis: byte-identical text per url
    * (pre-extracted `text` reused when present, else `extract_text(html)`,
    * else "" — a doc can legitimately MISS a field in a fielded build),
    * then `qube_dl` counts the post-expansion tokens without building the
    * per-term tf map `qube_tf` would — identical `dl` by the spec-pinned
    * `docLen == tfPairs.dl` identity, measurably cheaper per doc. */
  private def analyzeDlOnly(pages: DataFrame, dict: SynonymDict,
                            mode: String): DataFrame =
    pages
      .withColumn("text",
        coalesce(col("text"), extract_text(col("html")), lit("")))
      .select(col("doc_id"), col("url"), col("warc_ts"), col("lang"),
        col("text"), qube_dl(col("text"), dict, mode).as("dl"))

  /** Build one complete segment under `root/segments/<seg>` and return
    * its report. `resume = true` skips posting partitions already present
    * in the manifest (per-partition checkpoint/restart). */
  def buildSegment(spark: SparkSession, pages: DataFrame, dict: SynonymDict,
                   root: String, seg: String, baseDocId: Long,
                   cfg: IndexConfig = IndexConfig(),
                   inputSnapshot: String = "",
                   resume: Boolean = false): BuildReport = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val raw = pages
      .select(col("url"), col("warc_ts").cast("timestamp").as("warc_ts"),
        col("html"), col("text"), col("lang"))
      .as[RawPage] // cast: NTZ inputs must not break the encoder
    // latest-wins dedup is fused into the id-assignment sort (one shuffle)
    val idPages = assignDocIds(spark, raw, baseDocId, cfg.rangeParts)
    val assignMs = (System.nanoTime() - t0) / 1000000
    buildSegmentFromIdPages(spark, idPages.toDF(), dict, root, seg, cfg,
      inputSnapshot, resume,
      prePhases = Seq("sort_dedup_assign" -> assignMs), startNanos = t0)
  }

  /** The post-assignment build pipeline over an ALREADY id-assigned frame
    * (`doc_id, url, warc_ts, html, text, lang`) — the seam that lets
    * [[FieldedIndex.buildFull]] pay the id-assignment shuffle ONCE for N
    * fields and run only the per-field analysis + fragment passes here. */
  def buildSegmentFromIdPages(spark: SparkSession, idPages: DataFrame,
                              dict: SynonymDict, root: String, seg: String,
                              cfg: IndexConfig = IndexConfig(),
                              inputSnapshot: String = "",
                              resume: Boolean = false,
                              prePhases: Seq[(String, Long)] = Nil,
                              startNanos: Long = -1L): BuildReport = {
    import spark.implicits._
    val t0 = if (startNanos > 0) startNanos else System.nanoTime()
    val phases = Seq.newBuilder[(String, Long)]
    phases ++= prePhases
    var tPrev = System.nanoTime()
    def lap(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - tPrev) / 1000000
      tPrev = now
    }

    // docstore: row store for stored-field fetch (S8) + dl for BM25 —
    // written in ONE analysis pass and immediately becoming the build's
    // stable materialization: every later pass derives from this parquet
    // (text already extracted), so nothing row-heavy is ever cached in
    // memory and the raw-page cache can be dropped right here.
    // Collection stats (N, Σdl, max id) and the batch's url range (the
    // append's superseded-id scan bounds) are OBSERVED during the write —
    // at 10^12 docs a separate agg would re-scan the docstore; as
    // observed metrics they cost nothing.
    val docObs = org.apache.spark.sql.Observation()
    analyzeDlOnly(idPages, dict, cfg.analyzer)
      .select(col("doc_id"), col("url"), col("warc_ts"), col("lang"),
        col("text"), col("dl"))
      .observe(docObs, count(lit(1)).as("cnt"),
        sum(col("dl").cast("long")).as("sdl"), max(col("doc_id")).as("mx"),
        min(col("url")).as("lo_url"), max(col("url")).as("hi_url"))
      .write.mode("overwrite").options(IndexStore.docstoreWriteOptions)
      .parquet(IndexStore.docstorePath(root, seg))
    lap("analyze_docstore")

    val docstore = IndexStore.readDocstore(spark, root, seg)
    // the docstore write above has completed, so its observed metrics
    // are available now; captured once — the stats row below reuses it
    val docObsRow = docObs.get
    val builtDocs = docObsRow.get("cnt") match {
      case Some(n: Long) => n
      case _ => 0L
    }
    // null on an empty batch (min/max over no rows)
    val urlRange = (docObsRow.get("lo_url"), docObsRow.get("hi_url")) match {
      case (Some(lo: String), Some(hi: String)) => Some((lo, hi))
      case _ => None
    }
    // Large corpora derive term_stats from the WRITTEN posting blobs
    // (df/bounds are stored per row, ttf is one VarByte.sumTf walk) and
    // the salting head set from a tokenized sample — removing one of the
    // build's three tokenize passes. Small builds keep the exact
    // term_stats-first pipeline: at ≤ 2× the sample size the sample IS
    // most of the corpus, so nothing is saved. See IndexConfig
    // .headSampleDocs for why the sampled head set can never change a
    // query result (layout-only).
    val sampledStats = builtDocs > 2L * math.max(1L, cfg.headSampleDocs)

    // (doc_id, dl, term, tf): a per-row qube_tf over the pre-extracted
    // docstore text + a native explode — shuffle-free (SURVEY.md §3.1).
    // Deliberately NOT cached: each consumer re-streams it from the
    // docstore parquet. Re-tokenizing extracted text is a few seconds of
    // fully-parallel codegen'd compute, while materializing the token
    // stream (10^8+ rows at bench scale, ~10^14 at the design point) into
    // the in-memory columnar cache measurably COLLAPSES under high thread
    // counts (allocation/GC contention) and could never fit at scale.
    def tf: DataFrame = docstore
      .select(col("doc_id"), col("dl"),
        explode(qube_tf(col("text"), dict, cfg.analyzer)).as("p"))
      .select(col("doc_id"), col("dl"), col("p.term").as("term"),
        col("p.tf").cast("long").as("tf"))

    // collection + per-term statistics (S10): df = docs containing term,
    // ttf = total term frequency; max_tf/min_dl are the term-level
    // block-max WAND upper-bound inputs, kept here so the query planner
    // gets (idf, df, bounds) in ONE tiny driver lookup per query
    val termObs = org.apache.spark.sql.Observation()
    if (!sampledStats) {
      val termStats = tf.groupBy("term")
        .agg(count(lit(1)).as("df"), sum("tf").as("ttf"),
          max("tf").cast("int").as("max_tf"), min("dl").cast("int").as("min_dl"))
      termStats.observe(termObs, count(lit(1)).as("terms"))
        .write.mode("overwrite").parquet(IndexStore.termStatsPath(root, seg))
      lap("term_stats")
    }

    // build-time facet sidecar (reference facet fields, Indexer.java:
    // 277-364): config-driven dims — flat label + hierarchical path per
    // spec, one map-only pass over the docstore. Empty/null values get
    // the reference's sentinel label (Indexer.java:319-325).
    val specs =
      if (cfg.facetSpecs.nonEmpty) cfg.facetSpecs
      else if (cfg.buildFacets) defaultFacetSpecs
      else Nil
    if (specs.nonEmpty) {
      require(specs.map(_.dim).distinct.size == specs.size,
        s"duplicate facet dims: ${specs.map(_.dim)}")
      specs.map(facetRows(docstore, _)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(IndexStore.facetsPath(root, seg))
      lap("facets_sidecar")
    }

    // stats row from the metrics observed during the docstore write — no
    // job; layout shared with mergeCompact via IndexStore
    val (docCount, sumDl, idCeiling) =
      IndexStore.writeStatsFromObservation(spark, root, seg, docObsRow)
    lap("collection_stats")

    // --- map-side posting fragments + skew-salted shuffle + merge ---
    // The Spark analog of Lucene's RAM indexing buffer → segment flush →
    // merge: every map task builds per-(term, shard) posting buffers in
    // memory and emits them as delta+varbyte-compressed FRAGMENTS, so the
    // shuffle moves ~|vocab per task| compressed blobs instead of one row
    // per posting. (The naive posting-row shuffle+sort was measured
    // memory-bandwidth-bound: its wall time stopped scaling with cores.)
    // Skew (SURVEY.md §7 risk 4): head terms — known exactly from
    // term_stats — are salted into saltFanout shards by doc hash so no
    // single posting partition holds an entire head term.
    val headSet: Set[String] =
      if (!sampledStats)
        IndexStore.readTermStats(spark, root, seg)
          .filter(col("df") >= cfg.saltDf)
          .orderBy(col("df").desc).limit(cfg.maxSaltedTerms)
          .select("term").collect().map(_.getString(0)).toSet
      else {
        // sampled estimate with a 4× safety margin on the threshold:
        // over-inclusion salts a tail term into fanout small fragments
        // (harmless), under-inclusion needs a true head term to draw
        // < saltDf·frac/4 of an expected ≥ saltDf·frac sample hits —
        // exponentially unlikely, and the more a term's volume matters
        // the more certain its inclusion. The fixed seed keeps builds
        // deterministic for a given input layout.
        val frac = cfg.headSampleDocs.toDouble / builtDocs
        val minSampled = math.max(1L, (cfg.saltDf * frac / 4).toLong)
        docstore.sample(frac, 42L)
          .select(explode(qube_tf(col("text"), dict, cfg.analyzer)).as("p"))
          .select(col("p.term").as("term"))
          .groupBy("term").agg(count(lit(1)).as("sdf"))
          .filter(col("sdf") >= minSampled)
          .orderBy(col("sdf").desc).limit(cfg.maxSaltedTerms)
          .select("term").collect().map(_.getString(0)).toSet
      }
    val bcHead = spark.sparkContext.broadcast(headSet)
    val numParts = cfg.numParts
    val fanout = cfg.saltFanout
    val blockSize = cfg.blockSize
    val fmtVer = cfg.formatVersion

    val withPos = cfg.indexPositions
    val analyzerMode = cfg.analyzer
    // the fragment pass consumes the runtime tf accumulation DIRECTLY
    // (GraftRuntime.tfCounts/tfPositions — the exact functions behind
    // qube_tf/qube_tf_pos): materializing the per-doc struct array just
    // to re-walk it cost one boxed InternalRow per unique term, a full
    // Unsafe serialization of every term's bytes, and a getStruct
    // allocation per posting — all on the build's hottest pass
    val analyzedRows = docstore.select(col("doc_id"), col("text"))
    val fragSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("part",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("min_doc",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("frag",
        org.apache.spark.sql.types.BinaryType, nullable = false)))
    val flushEntries = cfg.flushEntries
    val fragRdd = org.apache.spark.sql.graft.Bridge.internalRdd(analyzedRows)
      .mapPartitions { rows =>
        // UTF8String-keyed buffers: the scan's transient term views probe
        // the map with zero allocation (hashCode/equals are byte-wise over
        // the view); only a MISS clones the bytes into a stable key. The
        // previous String keys paid a decode + String alloc per posting
        // occurrence (~|corpus tokens| allocations per build pass).
        val head: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
          val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
          bcHead.value.foreach(t =>
            s.add(org.apache.spark.unsafe.types.UTF8String.fromString(t)))
          s
        }
        // Lucene's ramBufferSize analog: the RAM posting buffers FLUSH as
        // fragments every `flushEntries` postings, so per-task memory is
        // bounded no matter how large the input partition is (a flush
        // happens only between documents, so fragment doc sets stay
        // disjoint and the reduce-side k-way merge is unaffected)
        new Iterator[InternalRow] {
          private var bufs = new java.util.HashMap[
            org.apache.spark.unsafe.types.UTF8String, Array[FragBuf]]()
          private var entries = 0L
          private var pending: Iterator[InternalRow] = Iterator.empty
          // STREAMING flush: detach the buffer map and encode it ONE term
          // at a time, removing each entry as it is consumed — the task's
          // peak is (buffers + one encoded fragment), never (buffers +
          // every fragment of the flush at once). The eager toVector
          // variant held both and GC-collapsed an 8 GiB heap when 32
          // fragment tasks ran concurrently (round-5 10M dress).
          private def flush(): Unit = {
            val old = bufs
            bufs = new java.util.HashMap[
              org.apache.spark.unsafe.types.UTF8String, Array[FragBuf]]()
            entries = 0L
            val it = old.entrySet().iterator()
            pending = new Iterator[InternalRow] {
              private var inner: Iterator[InternalRow] = Iterator.empty
              def hasNext: Boolean = {
                while (!inner.hasNext && it.hasNext) {
                  val e = it.next()
                  val termUtf = e.getKey
                  val term = termUtf.toString // once per (term, flush)
                  val shards = e.getValue
                  it.remove() // buffer becomes collectible once encoded
                  inner = shards.iterator.zipWithIndex
                    .filter(_._1.nonEmpty).map { case (buf, salt) =>
                      val (blob, minDoc) = buf.encodeSorted(blockSize, fmtVer)
                      InternalRow(partOf(term, salt, numParts), termUtf,
                        minDoc, blob): InternalRow
                    }
                }
                inner.hasNext
              }
              def next(): InternalRow = {
                if (!hasNext) throw new NoSuchElementException
                inner.next()
              }
            }
          }
          // tokens own their buffers (GraftRuntime.tokensU8), so they go
          // into the map as-is — no defensive clone; the salt shard index
          // depends only on (docId, fanout), hoisted out of the term loop
          private def shardsFor(
              term: org.apache.spark.unsafe.types.UTF8String): Array[FragBuf] = {
            var shards = bufs.get(term)
            if (shards == null) {
              shards = Array.fill(
                if (head.contains(term)) fanout else 1)(new FragBuf(withPos))
              bufs.put(term, shards)
            }
            shards
          }
          private def consume(): Unit = {
            while (rows.hasNext && entries < flushEntries) {
              val r = rows.next()
              val docId = r.getLong(0)
              val text =
                if (r.isNullAt(1)) org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
                else r.getUTF8String(1)
              val saltIdx = java.lang.Math.floorMod(
                java.lang.Long.hashCode(docId * 0x9E3779B97F4A7C15L), fanout)
              var cost = 0L
              if (withPos) {
                val tp = graft.functions.GraftRuntime
                  .tfPositions(dict, text, analyzerMode)
                var i = 0
                while (i < tp.uniq) {
                  val slot = tp.order(i)
                  val shards = shardsFor(tp.keys(slot))
                  val shard =
                    if (shards.length == 1) shards(0) else shards(saltIdx)
                  val ps = tp.poss(slot)
                  val tf = ps.size
                  shard.append(docId, tf, tp.dl, ps.toInts)
                  // flushEntries budgets BYTES-in-buffers, in units of one
                  // position-free posting (~16 B): a positional posting
                  // additionally holds an Int[] (pointer + header + 4·tf),
                  // ~4 + tf/4 units — without this weighting a 5M-doc
                  // positional build OOMs where the plain build is flat
                  cost += 4L + (tf >> 2)
                  i += 1
                }
              } else {
                val tc = graft.functions.GraftRuntime
                  .tfCounts(dict, text, analyzerMode)
                var i = 0
                while (i < tc.uniq) {
                  val slot = tc.order(i)
                  val shards = shardsFor(tc.keys(slot))
                  val shard =
                    if (shards.length == 1) shards(0) else shards(saltIdx)
                  shard.append(docId, tc.counts(slot), tc.dl, null)
                  cost += 1L
                  i += 1
                }
              }
              entries += cost
            }
            flush()
          }
          def hasNext: Boolean =
            pending.hasNext || { if (rows.hasNext) consume(); pending.hasNext }
          def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            pending.next()
          }
        }
      }
    val fragments = org.apache.spark.sql.graft.Bridge
      .fromInternal(spark, fragRdd, fragSchema)

    val done: Set[Int] =
      if (resume) IndexStore.completedParts(spark, root, seg) else Set.empty
    val pending = fragments.filter(!col("part").isin(done.toSeq: _*))

    // fragments of one (part, term) hold DISJOINT doc_id sets (a doc's
    // postings come from exactly one map task); ranges may interleave
    // (file chunks bin-pack out of id order), so the reduce side k-way
    // MERGES decoded fragments, never concatenates. Single-fragment terms
    // — the Zipf tail, i.e. almost all terms — reuse the fragment bytes
    // as the final blob with zero re-encode.
    val maxBlob = cfg.effectiveMaxBlobPostings
    val postings: Dataset[PostingRow] = pending
      .repartition(numParts, col("part"))
      .sortWithinPartitions("part", "term", "min_doc")
      .as[(Int, String, Long, Array[Byte])]
      .mapPartitions { it =>
        runGrouped(it)((a, b) => a._1 == b._1 && a._2 == b._2) { run =>
          val (part, term, _, first) = run.head
          // single in-cap fragment: reuse its bytes with zero re-encode
          // (the Zipf tail = almost all terms); anything else merges and
          // re-chunks to ≤ maxBlob postings per row
          if (run.size == 1 && VarByte.count(first) <= maxBlob) {
            val (maxTf, minDl) = VarByte.termBounds(first)
            Seq(PostingRow(part, term, VarByte.count(first).toLong,
              maxTf, minDl, first))
          } else
            // STREAMING merge: O(k·blockSize) per group, not O(term
            // bytes) — head-term shards at 10M+ docs merge ~64
            // fragments here
            mergeBlobsStreaming(run.map(_._4), withPos, blockSize,
                fmtVer, maxBlob)
              .map { case (blob, cnt, maxTf, minDl) =>
                PostingRow(part, term, cnt.toLong, maxTf, minDl, blob)
              }
        }
      }

    // NEVER persist() the blob Dataset: the columnar cache builder
    // unrolls O(posting bytes) of blobs into the heap during the write
    // (a 5M-doc positional build OOMs a 8 GiB heap; at 10^12 it is
    // unthinkable — same class as scale bug #5 in BENCH.md). The write
    // is the only consumer of the merged blobs.
    val mode = if (resume && done.nonEmpty) "append" else "overwrite"
    postings.toDF().write.mode(mode).partitionBy("part")
      .options(IndexStore.postingsWriteOptionsFor(cfg.indexPositions))
      .parquet(IndexStore.postingsPath(root, seg))
    lap("postings_encode_write")

    // per-partition lineage + metrics (north rule): rows, bytes,
    // checksum — computed from a READ-BACK of the just-written files
    // (column-pruned disk scan, zero heap retention) rather than a
    // cached copy of the blobs; lineage over the DURABLE bytes also
    // verifies the write. Under resume, restrict to the parts this run
    // actually wrote (prior parts already have manifest rows).
    def rowsOf(parts: org.apache.spark.sql.DataFrame) = {
      val wallMs = (System.nanoTime() - t0) / 1000000
      parts.collect().map { r =>
        IndexStore.ManifestRow(r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), inputSnapshot, wallMs)
      }.toSeq
    }
    val partAgg = Seq(count(lit(1)).as("rows"), sum(col("bytes")).as("bytes"),
      sum(crc32(concat(col("term"), lit("|"),
        col("df_local").cast("string")))).as("cks"))
    val manifestRows = if (sampledStats) {
      // Sampled-stats builds derive term_stats from the written blobs —
      // the same shape the compaction path has always used (and exactly
      // what IndexCheck cross-validates): df = Σ df_local (each
      // (term, doc) lands in exactly one merged chunk), ttf = Σ per-blob
      // sumTf, bounds fold over the stored per-chunk bounds. Values are
      // identical to the tokenize-pass aggregation by construction.
      // ONE read-back pass serves BOTH term_stats and the manifest: the
      // narrow per-row frame (stats + blob length, NO blob bytes — rule
      // 17 is about the blobs, not metrics derived from them) persists,
      // the term agg and the part agg each read the cache, and the
      // postings parquet's blob column is scanned once instead of twice.
      val derived = IndexStore.readPostingsOrEmpty(spark, root, seg)
        .select("part", "term", "df_local", "max_tf", "min_dl", "blob")
        .as[(Int, String, Long, Int, Int, Array[Byte])]
        .map { case (p, t, dfl, mtf, mdl, blob) =>
          (p, t, dfl, VarByte.sumTf(blob), mtf, mdl, blob.length.toLong)
        }
        .toDF("part", "term", "df_local", "ttf_local", "max_tf_l",
          "min_dl_l", "bytes")
        .persist()
      try {
        val fromBlobs = derived
          .groupBy("term")
          .agg(sum("df_local").as("df"), sum("ttf_local").as("ttf"),
            max("max_tf_l").cast("int").as("max_tf"),
            min("min_dl_l").cast("int").as("min_dl"))
        fromBlobs.observe(termObs, count(lit(1)).as("terms"))
          .write.mode("overwrite").parquet(IndexStore.termStatsPath(root, seg))
        lap("term_stats")
        val newParts =
          if (done.isEmpty) derived
          else derived.filter(!col("part").isin(done.toSeq: _*))
        rowsOf(newParts.groupBy("part").agg(partAgg.head, partAgg.tail: _*))
      } finally derived.unpersist()
    } else {
      // exact-stats builds wrote term_stats from the tokenize agg; the
      // manifest is the only read-back (no sumTf walk added here)
      // (readPostingsOrEmpty: an empty corpus writes a footer-less dir)
      val written = IndexStore.readPostingsOrEmpty(spark, root, seg)
        .withColumn("bytes", length(col("blob")).cast("long"))
      val newParts =
        if (done.isEmpty) written
        else written.filter(!col("part").isin(done.toSeq: _*))
      rowsOf(newParts.groupBy("part").agg(partAgg.head, partAgg.tail: _*))
    }
    IndexStore.appendManifest(spark, root, seg, manifestRows)

    IndexStore.writeSegmentConfig(spark, root, seg,
      IndexStore.SegmentConfig(cfg.numParts, cfg.saltFanout, cfg.blockSize,
        formatVersion = cfg.formatVersion,
        hasPositions = cfg.indexPositions, analyzer = cfg.analyzer))
    // observed during the term_stats write — no extra job
    val termCount = termObs.get("terms").asInstanceOf[Long]
    lap("manifest_and_counts")
    val postingRows = manifestRows.map(_.rows).sum // no extra job
    BuildReport(seg, docCount, termCount, postingRows,
      (System.nanoTime() - t0) / 1000000,
      phases.result(), urlRange)
  }

  /** FULL build (reference `OpenMode.CREATE`, Indexer.java:199-204): one
    * segment, fresh snapshot id 0. The snapshot is born
    * superseded-sidecar-maintained (`dead = Some(Nil)`): a fresh segment
    * is internally deduped, so the set is exactly empty, and every later
    * [[advanceForAppend]] keeps it current — cold Searcher opens never
    * pay the O(corpus) window on roots built by this version. */
  def buildFull(spark: SparkSession, pages: DataFrame, dict: SynonymDict,
                root: String, cfg: IndexConfig = IndexConfig(),
                inputSnapshot: String = "",
                resume: Boolean = false): BuildReport = {
    val seg = "seg-000000"
    val report = buildSegment(spark, pages, dict, root, seg, 0L, cfg,
      inputSnapshot, resume)
    IndexStore.writeSnapshot(spark, root,
      IndexStore.Snapshot(0L, Seq(seg), Seq.empty, dead = Some(Seq.empty)))
    report
  }

  /** Next APPEND doc_id base for a root: max `id_ceiling` across the
    * snapshot's segments, from ONE Spark job over every segment's stats
    * row ([[IndexStore.readSegmentStats]] — no docstore scan, and the job
    * count does not grow with the segment count). NOT Σ doc_count: a
    * compacted segment keeps original ids with gaps, so its ceiling
    * exceeds its live count. A legacy segment whose stats lack the
    * column falls back to a column-pruned max(doc_id) scan of its
    * docstore. */
  def nextAppendBase(spark: SparkSession, root: String,
                     snap: IndexStore.Snapshot): Long = {
    val stats = IndexStore.readSegmentStats(spark, root, snap.segments)
    snap.segments.map { s =>
      stats(s).idCeiling.getOrElse {
        IndexStore.readDocstore(spark, root, s)
          .agg(max("doc_id")).head() match {
            case r if r.isNullAt(0) => 0L
            case r => r.getLong(0) + 1L
          }
      }
    }.max
  }

  /** doc_ids superseded by the arrival of segment `newSeg`: for each url
    * present in the new segment, every doc across old segments AND the
    * new one that loses the latest-wins rule ((warc_ts, doc_id) desc —
    * EXACTLY the Searcher's window order, including the case where the
    * INCOMING doc is older than an existing version and is dead on
    * arrival). The old-segment scan is column-pruned to 3 narrow
    * columns and semi-joined to the batch's urls before the window, so
    * the shuffle is O(matched urls) = O(batch), never O(corpus).
    *
    * `loUrl`/`hiUrl` = the batch's url range, observed during the new
    * segment's docstore write ([[BuildReport.urlRange]]) and pushed into
    * every old-docstore scan: docstores are written in url sort order,
    * so parquet row-group url stats prune hard when a micro-batch
    * clusters by url — without it a long-running stream's per-append
    * scan cost is O(corpus) even for a batch touching one url range. (A
    * batch spanning the whole url space degrades to the full
    * column-pruned scan, which the semi-join then shrinks.) */
  private def supersededByAppend(spark: SparkSession, root: String,
                                 oldSegments: Seq[String], newSeg: String,
                                 loUrl: String, hiUrl: String): DataFrame = {
    val cols = Seq("doc_id", "url", "warc_ts")
    val newDocs = IndexStore.readDocstore(spark, root, newSeg)
      .select(cols.map(col): _*)
    val oldDocs = oldSegments.map(s =>
        IndexStore.readDocstore(spark, root, s)
          .select(cols.map(col): _*)
          .where(col("url").between(loUrl, hiUrl)))
      .reduce(_ unionByName _)
    val matched = oldDocs
      .join(newDocs.select("url").distinct(), Seq("url"), "left_semi")
    val w = Window.partitionBy("url")
      .orderBy(col("warc_ts").desc, col("doc_id").desc)
    matched.unionByName(newDocs.select(matched.columns.map(col): _*))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1).select("doc_id")
  }

  /** Advance `snap` for the segment `built` appended, maintaining the
    * superseded-id sidecar when the root has one. An empty batch (no
    * observed url range) writes no batch at all, and a batch that
    * supersedes nothing is written but left out of the snapshot —
    * streams of fresh urls accumulate zero batches. A legacy root
    * (`dead = None`) stays legacy: its Searcher keeps the window
    * fallback, and a [[merge]]/[[mergeCompact]] upgrades it. The
    * returned snapshot is NOT yet written — the caller commits it. */
  private[graft] def advanceForAppend(spark: SparkSession, root: String,
                                      snap: IndexStore.Snapshot,
                                      built: BuildReport): IndexStore.Snapshot = {
    val newSeg = built.segment
    val dead = snap.dead.map { batches =>
      built.urlRange match {
        case None => batches // empty batch: nothing can be superseded
        case Some((lo, hi)) =>
          val name = f"dead-${snap.id + 1}%06d"
          val n = IndexStore.writeDeadIdsDf(spark, root, name,
            supersededByAppend(spark, root, snap.segments, newSeg, lo, hi))
          if (n == 0L) batches else batches :+ name
      }
    }
    IndexStore.Snapshot(snap.id + 1, snap.segments :+ newSeg,
      snap.tombstones, dead)
  }

  /** APPEND build (reference `CREATE_OR_APPEND` + PK upsert, S1/S4): adds
    * a delta segment whose doc_ids start after the current maxDoc and
    * advances the snapshot, recording the batch's superseded doc_ids as
    * a sidecar ([[advanceForAppend]]) so query-time latest-wins needs no
    * corpus window. Latest-wins vs older segments is applied at query
    * time by [[graft.query.Searcher]] (like Lucene's liveDocs) and made
    * physical by [[merge]]. */
  def appendSegment(spark: SparkSession, pages: DataFrame, dict: SynonymDict,
                    root: String, cfg: IndexConfig = IndexConfig(),
                    inputSnapshot: String = ""): BuildReport = {
    val snap = IndexStore.readLatestSnapshot(spark, root)
      .getOrElse(sys.error(s"no snapshot at $root — run buildFull first"))
    val nextBase = nextAppendBase(spark, root, snap)
    val seg = f"seg-${snap.id + 1}%06d"
    val report = buildSegment(spark, pages, dict, root, seg, nextBase, cfg, inputSnapshot)
    IndexStore.writeSnapshot(spark, root,
      advanceForAppend(spark, root, snap, report))
    report
  }

  /** Searchable dynamic JSON subfields (reference `addJson`,
    * Indexer.java:639-747 — dynamic `PARENT.CHILD` fields become
    * index-discoverable and filter/sortable): flattens a caller-supplied
    * `(url, json)` frame through [[graft.pipeline.JsonFields.flatten]]
    * and writes a per-segment long-format sidecar keyed by the engine's
    * doc_ids (join on the PK url — one broadcast-or-shuffle equi-join per
    * segment, map-only after that). [[graft.query.Searcher]] serves
    * filters/sorts and the field catalog from it
    * (reference field discovery, Searcher.java:397-477). */
  def buildJsonSidecar(spark: SparkSession, root: String,
                       jsonByUrl: DataFrame): Unit = {
    val snap = IndexStore.readLatestSnapshot(spark, root)
      .getOrElse(sys.error(s"no snapshot at $root"))
    val src = jsonByUrl.toDF("url", "json")
    snap.segments.foreach { seg =>
      val ds = IndexStore.readDocstore(spark, root, seg)
        .select("doc_id", "url")
      graft.pipeline.JsonFields
        .flatten(ds.join(src, Seq("url")).select("doc_id", "json"),
          "doc_id", "json")
        .write.mode("overwrite")
        .parquet(IndexStore.jsonFieldsPath(root, seg))
    }
  }

  /** Delete by PK (S5, Indexer.java:915-917): tombstone the urls and
    * advance the snapshot; physical removal happens at [[merge]]. The
    * batch is a DataFrame and is written as parquet — deletions never
    * round-trip through driver memory, so a purge of 10^10 urls is just
    * another distributed write (the reference deletes in batches through
    * the index, Indexer.java:891-964). */
  def deleteByPk(spark: SparkSession, root: String, urls: DataFrame): Unit = {
    val snap = IndexStore.readLatestSnapshot(spark, root)
      .getOrElse(sys.error(s"no snapshot at $root"))
    val name = f"tomb-${snap.id + 1}%06d"
    IndexStore.writeTombstonesDf(spark, root, name, urls)
    IndexStore.writeSnapshot(spark, root,
      IndexStore.Snapshot(snap.id + 1, snap.segments,
        snap.tombstones :+ name, snap.dead))
  }

  /** Driver-side convenience overload for small interactive deletions. */
  def deleteByPk(spark: SparkSession, root: String, urls: Seq[String]): Unit = {
    import spark.implicits._
    deleteByPk(spark, root, urls.toDF("url"))
  }

  /** Distributed segment merge / compaction: materializes the logical
    * view (latest-wins upserts + tombstones) back into a single fresh
    * segment and atomically swaps the snapshot — the analog of Lucene's
    * forceMerge + the reference's searcher hot-swap
    * (Searcher.java:527-583). Implemented as a rebuild from the merged
    * docstore, which preserves the byte-identical-text invariant because
    * docstore.text IS the extracted text. */
  def merge(spark: SparkSession, root: String, dict: SynonymDict,
            cfg: IndexConfig = IndexConfig(),
            maxBroadcastTombstones: Long = 2000000L): BuildReport = {
    val snap = IndexStore.readLatestSnapshot(spark, root)
      .getOrElse(sys.error(s"no snapshot at $root"))
    // identity knobs (analyzer / positions / facets) are properties of
    // the INDEX, not of the merge job: inherit them from the stored
    // segment configs so a merge can never silently rewrite a
    // keyword-analyzer or positional index as a default text one. The
    // passed cfg keeps control of sizing (numParts, salting, ...).
    val stored = snap.segments.flatMap(s =>
      IndexStore.readSegmentConfig(spark, root, s))
    // facet/json sidecars are CARRIED OVER (url-remapped below), never
    // regenerated: a regeneration would silently replace custom
    // FacetSpec dims with the defaults. formatVersion NEVER downgrades:
    // a default-config merge of a v3 index keeps v3 (same stance as the
    // analyzer inherit), while an explicit newer cfg version migrates —
    // the rebuild path IS the v2→v3 upgrade tool (it re-encodes every
    // blob from the docstore; pre-v2 segments, whose blobs are
    // unreadable but whose docstores are fine, upgrade the same way).
    val cfg1 = (stored.headOption match {
      case Some(sc) => cfg.copy(
        analyzer = sc.analyzer,
        indexPositions = stored.forall(_.hasPositions),
        formatVersion = (cfg.formatVersion +: stored.map(_.formatVersion)
          .filter(graft.codec.VarByte.SupportedVersions.contains)).max)
      case None => cfg
    }).copy(buildFacets = false, facetSpecs = Nil)
    val all = snap.segments.map(IndexStore.readDocstore(spark, root, _))
      .reduce(_ unionByName _)
    val live =
      IndexStore.readTombstonesDf(spark, root, snap.tombstones) match {
        case None => all
        case Some(tombs) =>
          // size-gated like the Searcher's deadDocs: a mass-deletion
          // tombstone table must anti-join via shuffle, not broadcast
          // (count from the write-time sidecar — no job)
          val n = IndexStore.tombstoneCount(spark, root, snap.tombstones)
            .getOrElse(tombs.count())
          val side =
            if (n <= maxBroadcastTombstones) broadcast(tombs)
            else tombs
          all.join(side, Seq("url"), "left_anti")
      }
    // cross-segment latest-wins: newest warc_ts wins, ties to the later
    // segment (higher doc_id) — exactly the query-time liveDocs rule
    val w = Window.partitionBy("url")
      .orderBy(col("warc_ts").desc, col("doc_id").desc)
    val winners = live.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // docstore.text is already extracted; present it in the pages shape
    val pages = winners.select(col("url"), col("warc_ts"), lit(null).cast("binary").as("html"),
      col("text"), col("lang"))
    val seg = f"seg-${snap.id + 1}%06d"
    val report = buildSegment(spark, pages, dict, root, seg, 0L, cfg1,
      s"merge-of-${snap.segments.mkString("+")}")

    // carry the sidecars across the doc_id reassignment: old winner
    // doc_id → url → new doc_id (one equi-join chain per sidecar; the
    // losers' and tombstoned docs' rows drop out with the winners join)
    def remapSidecar(pathOf: (String, String) => String,
                     read: String => DataFrame): Unit = {
      val f = IndexStore.fs(spark, root)
      val present = snap.segments.forall(s =>
        f.exists(new org.apache.hadoop.fs.Path(pathOf(root, s))))
      if (!present) return
      val old = snap.segments.map(read)
        .reduce(_ unionByName _).withColumnRenamed("doc_id", "__old_id")
      val dataCols = old.columns.filter(_ != "__old_id").toSeq
      val winnerIds = winners.select(col("doc_id").as("__old_id"), col("url"))
      val newIds = IndexStore.readDocstore(spark, root, seg)
        .select("doc_id", "url")
      old.join(winnerIds, Seq("__old_id"))
        .join(newIds, Seq("url"))
        .select("doc_id", dataCols: _*)
        .write.mode("overwrite").parquet(pathOf(root, seg))
    }
    remapSidecar(IndexStore.facetsPath, IndexStore.readFacets(spark, root, _))
    remapSidecar(IndexStore.jsonFieldsPath,
      s => spark.read.parquet(IndexStore.jsonFieldsPath(root, s)))

    // single fresh segment: no superseded docs survive, and a LEGACY
    // root upgrades to sidecar-maintained here (the rebuild is the
    // migration point for the dead sidecar exactly as for formatVersion)
    IndexStore.writeSnapshot(spark, root,
      IndexStore.Snapshot(snap.id + 1, Seq(seg), Seq.empty,
        dead = Some(Seq.empty)))
    report
  }

  // NOT private: the Dataset encoder's generated code must call the
  // accessors — a private class makes Janino compilation fail per task
  // and silently drop the whole compact path to interpreted encoders
  final case class CompactRow(part: Int, term: String,
                                      df_local: Long, max_tf: Int,
                                      min_dl: Int, blob: Array[Byte])

  /** POSTING-LEVEL segment merge — compaction that costs O(posting
    * bytes), never a corpus re-analysis (the analog of Lucene forceMerge
    * behind the reference's searcher hot-swap,
    * `/root/reference/LuceneSearchEngine/src/Searcher.java:527-583`).
    *
    * Per (part, term), the segments' posting BLOBS are k-way-merged
    * directly (doc sets are disjoint across segments; dead doc_ids —
    * superseded upserts + tombstoned urls — are dropped during the
    * decode), so the merge never tokenizes, never re-assigns ids, and
    * ships only compressed blobs through its one shuffle. Original
    * doc_ids are KEPT (gaps where dead docs fell out are harmless: no
    * query path assumes density, and `id_ceiling` in the stats keeps
    * future APPEND bases safe). Blobs of terms untouched by deletions
    * pass through byte-identical without a re-encode; when there are no
    * dead docs at all, term_stats merge as pure per-segment sums and no
    * blob is even decoded.
    *
    * Falls back to the rebuild [[merge]] when segments disagree on
    * layout/identity knobs (numParts, saltFanout, positions, analyzer —
    * their posting spaces aren't unionable) or when the dead-id set
    * exceeds `maxBroadcastDeadIds` (the per-task membership filter
    * broadcasts the sorted id array; past the gate a rebuild's shuffle
    * anti-joins are the scale-safe plan). */
  def mergeCompact(spark: SparkSession, root: String, dict: SynonymDict,
                   cfg: IndexConfig = IndexConfig(),
                   maxBroadcastDeadIds: Long = 4000000L): BuildReport = {
    val snap = IndexStore.readLatestSnapshot(spark, root)
      .getOrElse(sys.error(s"no snapshot at $root"))
    mergeCompactImpl(spark, root, snap, snap.segments,
      clearTombstones = true, cfg, maxBroadcastDeadIds)
      .getOrElse(merge(spark, root, dict, cfg))
  }

  /** Tiered compaction for MANY segments (the Lucene TieredMergePolicy
    * shape behind the reference's background merging): while more than
    * `tierFanin` segments exist, compact the `tierFanin` smallest (by
    * stats doc_count — no docstore scan) into one, then finish with a
    * full [[mergeCompact]] that applies tombstones and collapses to a
    * single segment. Each pass shuffles only its tier's posting bytes,
    * so a 100-segment streaming backlog costs O(bytes × log_fanin n)
    * instead of one n-way shuffle whose task count and open-file fanout
    * scale with every segment at once. Tombstones stay in the snapshot
    * until the final pass: each tier pass already drops its segments'
    * dead rows (the dead set is computed GLOBALLY — superseded versions
    * and tombstoned urls are filtered wherever they sit), and keeping
    * the batch until the end makes re-application a harmless no-op. */
  def mergeCompactTiered(spark: SparkSession, root: String,
                         dict: SynonymDict,
                         cfg: IndexConfig = IndexConfig(),
                         tierFanin: Int = 10,
                         maxBroadcastDeadIds: Long = 4000000L)
      : Seq[BuildReport] = {
    require(tierFanin >= 2, s"tierFanin must be >= 2, got $tierFanin")
    val out = Seq.newBuilder[BuildReport]
    var snap = IndexStore.readLatestSnapshot(spark, root)
      .getOrElse(sys.error(s"no snapshot at $root"))
    // ONE dead scan for the whole schedule: liveness is invariant across
    // passes (a pass drops dead rows; it neither creates nor revives
    // deads), so every pass — including the final one — reuses this set.
    // Ids whose rows were dropped by an earlier pass match nothing.
    var ok = true
    val dead0 = globalDeadIds(spark, root, snap, maxBroadcastDeadIds)
    if (dead0.isEmpty) ok = false // past the broadcast gate ⇒ rebuild
    // segment sizes read ONCE, then maintained from each pass's
    // BuildReport — re-reading per pass would issue O(segments × passes)
    // tiny driver jobs just for tier selection
    val sizes = scala.collection.mutable.Map.empty[String, Long]
    if (ok) IndexStore.readSegmentStats(spark, root, snap.segments)
      .foreach { case (s, st) => sizes(s) = st.docCount }
    while (ok && snap.segments.size > tierFanin) {
      val tier = snap.segments.map(s => s -> sizes.getOrElse(s, 0L))
        .sortBy { case (s, n) => (n, s) }
        .take(tierFanin).map(_._1)
      mergeCompactImpl(spark, root, snap, tier, clearTombstones = false,
        cfg, maxBroadcastDeadIds, precomputedDead = dead0) match {
        case Some(r) =>
          out += r
          tier.foreach(sizes.remove)
          sizes(r.segment) = r.docCount
        case None => ok = false // mixed layouts ⇒ one rebuild collapses all
      }
      snap = IndexStore.readLatestSnapshot(spark, root).get
    }
    out += (if (ok)
      mergeCompactImpl(spark, root, snap, snap.segments,
        clearTombstones = true, cfg, maxBroadcastDeadIds,
        precomputedDead = dead0)
        .getOrElse(merge(spark, root, dict, cfg))
    else merge(spark, root, dict, cfg))
    out.result()
  }

  /** THE compaction layout gate — one definition shared by
    * [[mergeCompactImpl]] and [[FieldedIndex.mergeCompact]] (whose
    * all-fields path decision must agree with the per-root one, or one
    * field could keep gappy original doc_ids while another re-assigns
    * dense ones). formatVersion is part of it twice over: an
    * UNSUPPORTED (pre-v2) segment's blobs can neither be decoded
    * (dead-doc filtering would crash mid-job) nor passed through (the
    * new segment's config would re-stamp them as current-format,
    * silencing the Searcher's loud version check); and MIXED supported
    * versions (v2 + v3) must not blob-compact either — passthrough
    * blobs would disagree with the single config.json version the
    * merged segment records. The rebuild merge re-encodes from the
    * docstore, so it handles any layout — fall back, never error
    * (invariant 14). */
  private[index] def layoutUniform(stored: Seq[IndexStore.SegmentConfig],
                                   nSegments: Int): Boolean =
    stored.size == nSegments &&
      stored.forall(c =>
        graft.codec.VarByte.SupportedVersions.contains(c.formatVersion)) &&
      stored.map(c => (c.numParts, c.saltFanout, c.hasPositions, c.analyzer,
        c.formatVersion)).distinct.size == 1

  /** Posting-level compaction of `targets` (a subset of, or all of, the
    * snapshot's segments) into one fresh segment. Returns None when the
    * caller must fall back to the rebuild [[merge]] (mixed layouts /
    * old format / dead set past the broadcast gate — invariant 14). */
  /** The GLOBAL dead-id set (superseded versions + tombstoned urls over
    * every segment — exactly the Searcher's liveDocs rule), sorted;
    * None when it exceeds the broadcast gate. One action: fetch at most
    * gate+1 ids. Invariant across compaction passes (dropping dead rows
    * neither creates nor revives deads), so [[mergeCompactTiered]]
    * computes it ONCE and reuses it for every pass. */
  private def globalDeadIds(spark: SparkSession, root: String,
                            snap: IndexStore.Snapshot,
                            maxBroadcastDeadIds: Long)
      : Option[Array[Long]] = {
    import spark.implicits._
    val allDocs = snap.segments.map(IndexStore.readDocstore(spark, root, _))
      .reduce(_ unionByName _)
    val w = Window.partitionBy("url")
      .orderBy(col("warc_ts").desc, col("doc_id").desc)
    // sidecar-maintained roots read their superseded ids (may include
    // ids whose rows an earlier tier pass already dropped — they match
    // nothing downstream); only legacy roots pay the corpus window
    val superseded = snap.dead match {
      case Some(batches) =>
        IndexStore.readDeadIdsDf(spark, root, batches)
          .getOrElse(spark.emptyDataset[Long].toDF("doc_id"))
      case None if snap.segments.size == 1 =>
        spark.emptyDataset[Long].toDF("doc_id")
      case None => allDocs.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") > 1).select("doc_id")
    }
    val tombstoned =
      IndexStore.readTombstonesDf(spark, root, snap.tombstones) match {
        case None => spark.emptyDataset[Long].toDF("doc_id")
        case Some(tombs) =>
          // url rows are wider than dead ids — gate at the same 2M-row
          // threshold the Searcher and rebuild merge use for this table,
          // not the 4M id gate (count from the write-time sidecar)
          val n = IndexStore.tombstoneCount(spark, root, snap.tombstones)
            .getOrElse(tombs.count())
          val side =
            if (n <= 2000000L) broadcast(tombs)
            else tombs
          allDocs.join(side, Seq("url"), "left_semi").select("doc_id")
      }
    val deadDf = superseded.union(tombstoned).distinct()
    val fetchCap =
      math.min(maxBroadcastDeadIds + 1L, Int.MaxValue.toLong).toInt
    val deadSorted: Array[Long] = deadDf.limit(fetchCap).as[Long].collect()
    if (deadSorted.length >= fetchCap) None
    else { java.util.Arrays.sort(deadSorted); Some(deadSorted) }
  }

  private def mergeCompactImpl(spark: SparkSession, root: String,
                               snap: IndexStore.Snapshot,
                               targets: Seq[String],
                               clearTombstones: Boolean,
                               cfg: IndexConfig,
                               maxBroadcastDeadIds: Long,
                               precomputedDead: Option[Array[Long]] = None)
      : Option[BuildReport] = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val phases = Seq.newBuilder[(String, Long)]
    var tPrev = t0
    def lap(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - tPrev) / 1000000
      tPrev = now
    }
    val stored = targets.flatMap(s =>
      IndexStore.readSegmentConfig(spark, root, s))
    if (!layoutUniform(stored, targets.size)) return None
    val sc0 = stored.head
    val (numParts, withPos, blockSize) =
      (sc0.numParts, sc0.hasPositions, cfg.blockSize)
    // blob-level compaction PRESERVES the segments' format version
    // (layoutUniform guarantees it is single-valued): passthrough blobs
    // and re-encoded chunks must agree with the one version the merged
    // segment's config records. Version migration goes through the
    // rebuild [[merge]].
    val segVer = sc0.formatVersion

    val targetDocs = targets.map(IndexStore.readDocstore(spark, root, _))
      .reduce(_ unionByName _)

    // the dead set is GLOBAL (window over every segment's docstore +
    // all tombstones): a subset compact must drop a target row
    // superseded by a newer version living OUTSIDE the subset. The
    // tiered driver precomputes it once for all its passes.
    val deadGlobal: Array[Long] = precomputedDead match {
      case Some(d) => d
      case None =>
        globalDeadIds(spark, root, snap, maxBroadcastDeadIds) match {
          case Some(d) => d
          case None => return None // past the gate: rebuild is the plan
        }
    }
    // restrict the global dead set to ids that can live in the TARGETS:
    // a tier whose segments contain no dead docs must keep the
    // byte-identical blob passthrough + per-segment stats-sum fast
    // paths — branching on the GLOBAL count would force the decode path
    // on every pass of a schedule with a single tombstone anywhere. One
    // column-pruned min/max over the target docstores is far cheaper
    // than decoding a tier's every blob.
    val deadSorted: Array[Long] =
      if (deadGlobal.isEmpty || targets == snap.segments) deadGlobal
      else {
        val r = targetDocs.agg(min("doc_id"), max("doc_id")).head()
        if (r.isNullAt(0)) Array.empty[Long]
        else {
          val (lo, hi) = (r.getLong(0), r.getLong(1))
          deadGlobal.filter(id => id >= lo && id <= hi)
        }
      }
    val deadCount: Long = deadSorted.length.toLong
    lap("dead_scan")

    // coalesce AFTER the part-hash repartition + sort: each compact
    // task runs the whole read-merge-write pipeline and transiently
    // holds a row-group read batch, cursor buffers, an output chunk
    // and a buffering parquet writer (~60-80 MB unmanaged) — 32
    // concurrent pipelines OOM'd the 20M dress's flat 8g JVM. A
    // quarter of the parallelism bounds per-JVM transients; coalesce
    // concatenates WHOLE hash partitions, so all rows of a (part,
    // term) stay contiguous and runGrouped's merge is unaffected.
    val compactTasks =
      math.max(8, spark.sparkContext.defaultParallelism / 4)
    val allPostings = targets
      .map(IndexStore.readPostingsOrEmpty(spark, root, _))
      .reduce(_ unionByName _)
      .select("part", "term", "df_local", "max_tf", "min_dl", "blob")
      .repartition(numParts, col("part"))
      .sortWithinPartitions("part", "term")
      .coalesce(compactTasks)
      .as[(Int, String, Long, Int, Int, Array[Byte])]

    val maxBlob = cfg.effectiveMaxBlobPostings
    val merged: Dataset[CompactRow] =
      if (deadCount == 0)
        // no dead docs: single-source blobs pass through byte-identical;
        // only genuinely multi-segment terms decode+merge (re-chunked to
        // ≤ maxBlob postings per row)
        allPostings.mapPartitions { it =>
          runGrouped(it)((a, b) => a._1 == b._1 && a._2 == b._2) { run =>
            val (part, term, df0, mt0, md0, first) = run.head
            // single-source blobs pass through byte-identical IF within
            // the cap — compaction is the one chance to re-chunk an
            // oversized legacy blob. Multi-blob terms stream-merge and
            // re-chunk (a disjoint-range passthrough would need the
            // blobs' first doc ids, which headers don't carry).
            if (run.size == 1 && VarByte.count(first) <= maxBlob)
              Seq(CompactRow(part, term, df0, mt0, md0, first))
            else
              mergeBlobsStreaming(run.map(_._6), withPos, blockSize,
                  segVer, maxBlob)
                .map { case (blob, cnt, mt, md) =>
                  CompactRow(part, term, cnt.toLong, mt, md, blob)
                }
          }
        }
      else {
        val bcDead = spark.sparkContext.broadcast(deadSorted)
        allPostings.mapPartitions { it =>
          val dead = bcDead.value
          runGrouped(it)((a, b) => a._1 == b._1 && a._2 == b._2) { run =>
            val (part, term, df0, mt0, md0, first) = run.head
            // single-blob fast path: a cheap header walk (block docId
            // ranges) detects terms no dead id can touch — their bytes
            // pass through UNDECODED; everything else stream-merges
            // with the dead skip applied per emitted posting (the
            // decode-everything + filterDead shape held whole head-term
            // shards in memory and OOM'd the 10M compaction)
            if (run.size == 1 && VarByte.count(first) <= maxBlob &&
                !blobTouchesDead(first, dead))
              Seq(CompactRow(part, term, df0, mt0, md0, first))
            else {
              val chunks = mergeBlobsStreaming(run.map(_._6), withPos,
                blockSize, segVer, maxBlob, dead)
              if (chunks.isEmpty) Seq.empty // all docs died: term vanishes
              else chunks.map { case (blob, cnt, mt, md) =>
                CompactRow(part, term, cnt.toLong, mt, md, blob)
              }
            }
          }
        }
      }

    val seg = f"seg-${snap.id + 1}%06d"
    // NO persist: caching the merged blob Dataset unrolls O(posting
    // bytes) into the heap during the write (see the identical fix in
    // buildSegmentFromIdPages). Later passes read back the WRITTEN
    // parquet — column-pruned disk scans, zero heap retention.
    merged.toDF()
      .select("part", "term", "df_local", "max_tf", "min_dl", "blob")
      .write.mode("overwrite").partitionBy("part")
      .options(IndexStore.postingsWriteOptionsFor(withPos))
      .parquet(IndexStore.postingsPath(root, seg))
    lap("postings_blob_merge_write")
    val written = IndexStore.readPostingsOrEmpty(spark, root, seg)

    // term_stats: pure per-segment sums when nothing died (no blob ever
    // decoded for them); otherwise from the written blobs — df/bounds are
    // stored per row, live ttf is re-derived by one vb_decode fold (the
    // written schema is the pinned postings layout, which carries no ttf)
    val termStats =
      if (deadCount == 0)
        targets.map(IndexStore.readTermStats(spark, root, _))
          .reduce(_ unionByName _)
          .groupBy("term").agg(sum("df").as("df"), sum("ttf").as("ttf"),
            max("max_tf").as("max_tf"), min("min_dl").as("min_dl"))
      else written
        .withColumn("ttf_local",
          aggregate(vb_decode(col("blob")),
            lit(0L), (acc, p) => acc + p.getField("tf").cast("long")))
        .groupBy("term").agg(sum("df_local").as("df"),
          sum("ttf_local").as("ttf"),
          max("max_tf").as("max_tf"), min("min_dl").as("min_dl"))
    val termObs = org.apache.spark.sql.Observation()
    termStats.observe(termObs, count(lit(1)).as("terms"))
      .write.mode("overwrite")
      .parquet(IndexStore.termStatsPath(root, seg))
    lap("term_stats")

    // docstore: live rows only, ids unchanged (broadcast anti-join — the
    // dead set already passed the gate); stats observed during the write
    val deadIdsDf = spark.createDataset(deadSorted.toSeq).toDF("doc_id")
    val liveDocs =
      if (deadCount == 0) targetDocs
      else targetDocs.join(broadcast(deadIdsDf), Seq("doc_id"), "left_anti")
    val docObs = org.apache.spark.sql.Observation()
    liveDocs
      .observe(docObs, count(lit(1)).as("cnt"),
        sum(col("dl").cast("long")).as("sdl"), max(col("doc_id")).as("mx"))
      .write.mode("overwrite").options(IndexStore.docstoreWriteOptions)
      .parquet(IndexStore.docstorePath(root, seg))
    val (docCount, _, _) =
      IndexStore.writeStatsFromObservation(spark, root, seg, docObs.get)
    lap("docstore_stats")

    // sidecars ride along unchanged (ids are stable) minus dead rows
    def carrySidecar(pathOf: (String, String) => String,
                     read: String => DataFrame): Unit = {
      val f = IndexStore.fs(spark, root)
      val present = targets.forall(s =>
        f.exists(new org.apache.hadoop.fs.Path(pathOf(root, s))))
      if (!present) return
      val old = targets.map(read)
        .reduce(_ unionByName _)
      val live =
        if (deadCount == 0) old
        else old.join(broadcast(deadIdsDf), Seq("doc_id"), "left_anti")
      live.write.mode("overwrite").parquet(pathOf(root, seg))
    }
    carrySidecar(IndexStore.facetsPath, IndexStore.readFacets(spark, root, _))
    carrySidecar(IndexStore.jsonFieldsPath,
      s => spark.read.parquet(IndexStore.jsonFieldsPath(root, s)))
    lap("sidecars")

    val wallMs0 = (System.nanoTime() - t0) / 1000000
    val manifestRows = written
      .groupBy("part").agg(
        count(lit(1)).as("rows"),
        sum(length(col("blob"))).as("bytes"),
        sum(crc32(concat(col("term"), lit("|"),
          col("df_local").cast("string")))).as("cks"))
      .collect().map { r =>
        IndexStore.ManifestRow(r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), s"compact-of-${targets.mkString("+")}", wallMs0)
      }.toSeq
    IndexStore.appendManifest(spark, root, seg, manifestRows)
    IndexStore.writeSegmentConfig(spark, root, seg,
      IndexStore.SegmentConfig(numParts, sc0.saltFanout, blockSize,
        formatVersion = segVer,
        hasPositions = withPos, analyzer = sc0.analyzer))
    val termCount = termObs.get("terms").asInstanceOf[Long]
    val remaining = snap.segments.filterNot(targets.contains)
    // full compact (clearTombstones): one clean segment, no superseded
    // rows left → sidecar resets to empty (upgrading legacy roots).
    // Tier passes carry the batches: REMAINING segments still hold
    // superseded rows those batches name; ids whose rows this pass
    // dropped match nothing in the anti-join — harmless, same stance as
    // the tombstones staying until the final pass.
    IndexStore.writeSnapshot(spark, root,
      IndexStore.Snapshot(snap.id + 1, remaining :+ seg,
        if (clearTombstones) Seq.empty else snap.tombstones,
        if (clearTombstones) Some(Seq.empty) else snap.dead))
    lap("manifest_and_swap")
    Some(BuildReport(seg, docCount, termCount, manifestRows.map(_.rows).sum,
      (System.nanoTime() - t0) / 1000000, phases.result()))
  }
}
