package graft.functions

import graft.analysis.{SynonymDict, TextExtract, Tokenizer}
import graft.codec.VarByte
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst-typed static entry points shared by interpreted `nullSafeEval`
  * and generated (whole-stage codegen) code. Scala `object` methods get
  * static forwarders, so generated Java calls
  * `graft.functions.GraftRuntime.m(...)` directly. */
object GraftRuntime {

  def extractText(html: Array[Byte]): UTF8String =
    UTF8String.fromString(TextExtract.extractText(html))

  // ---- UTF-8-native tokenization -----------------------------------------
  //
  // The ONE production analysis chain: every build pass, every on-the-fly
  // text operator and (through graft.analysis.Analyzer) every String-side
  // query/rule analysis tokenizes here. The walk reads the UTF-8 bytes
  // directly and emits UTF8String tokens: one allocation per token, zero
  // transcodes — the java.lang.String tokenizer it replaced (three
  // allocations plus two full transcodes per token) survives only as the
  // test golden, and U8TokenizerSpec pins the two byte-identical (valid
  // UTF-8 round-trips exactly; Character.isWhitespace/isLetterOrDigit/
  // toUpperCase see the same codepoints either way). Malformed UTF-8 —
  // impossible for strings read from parquet, possible for raw fromBytes
  // callers — is re-encoded once (`reencode`: java.lang.String's U+FFFD
  // replacement per bad sequence) and walked again.

  private val U8_EMPTY = new Array[UTF8String](0)

  /** Decode one UTF-8 codepoint at byte `i`: `cp | (len << 24)`, or -1 on
    * malformed input (truncated, bad continuation, overlong, surrogate,
    * out of range — exactly the sequences java.lang.String replaces). */
  private def decodeCp(in: Array[Byte], i: Int, n: Int): Int = {
    val b0 = in(i) & 0xFF
    if (b0 < 0x80) return b0 | (1 << 24)
    if ((b0 & 0xE0) == 0xC0) {
      if (i + 1 >= n) return -1
      val b1 = in(i + 1)
      if ((b1 & 0xC0) != 0x80) return -1
      val cp = ((b0 & 0x1F) << 6) | (b1 & 0x3F)
      if (cp < 0x80) return -1
      return cp | (2 << 24)
    }
    if ((b0 & 0xF0) == 0xE0) {
      if (i + 2 >= n) return -1
      val b1 = in(i + 1); val b2 = in(i + 2)
      if ((b1 & 0xC0) != 0x80 || (b2 & 0xC0) != 0x80) return -1
      val cp = ((b0 & 0x0F) << 12) | ((b1 & 0x3F) << 6) | (b2 & 0x3F)
      if (cp < 0x800 || (cp >= 0xD800 && cp <= 0xDFFF)) return -1
      return cp | (3 << 24)
    }
    if ((b0 & 0xF8) == 0xF0) {
      if (i + 3 >= n) return -1
      val b1 = in(i + 1); val b2 = in(i + 2); val b3 = in(i + 3)
      if ((b1 & 0xC0) != 0x80 || (b2 & 0xC0) != 0x80 || (b3 & 0xC0) != 0x80)
        return -1
      val cp = ((b0 & 0x07) << 18) | ((b1 & 0x3F) << 12) |
        ((b2 & 0x3F) << 6) | (b3 & 0x3F)
      if (cp < 0x10000 || cp > 0x10FFFF) return -1
      return cp | (4 << 24)
    }
    -1
  }

  /** Standard UTF-8 encode of `cp` into `buf` at `pos`; returns the new
    * position. Caller guarantees 4 bytes of headroom. */
  private def encodeCp(buf: Array[Byte], pos: Int, cp: Int): Int = {
    if (cp < 0x80) { buf(pos) = cp.toByte; pos + 1 }
    else if (cp < 0x800) {
      buf(pos) = (0xC0 | (cp >> 6)).toByte
      buf(pos + 1) = (0x80 | (cp & 0x3F)).toByte
      pos + 2
    } else if (cp < 0x10000) {
      buf(pos) = (0xE0 | (cp >> 12)).toByte
      buf(pos + 1) = (0x80 | ((cp >> 6) & 0x3F)).toByte
      buf(pos + 2) = (0x80 | (cp & 0x3F)).toByte
      pos + 3
    } else {
      buf(pos) = (0xF0 | (cp >> 18)).toByte
      buf(pos + 1) = (0x80 | ((cp >> 12) & 0x3F)).toByte
      buf(pos + 2) = (0x80 | ((cp >> 6) & 0x3F)).toByte
      buf(pos + 3) = (0x80 | (cp & 0x3F)).toByte
      pos + 4
    }
  }

  /** Tokenize + uppercase fold straight off the UTF-8 bytes. */
  def tokensU8(text: UTF8String, mode: String): Array[UTF8String] = {
    val keyword = mode == Tokenizer.Keyword
    require(keyword || mode == Tokenizer.Text, s"unknown analyzer mode '$mode'")
    val native = tokensU8Native(text, keyword)
    if (native != null) native else tokensU8Native(reencode(text), keyword)
  }

  /** Valid UTF-8 for any input: decode with java.lang.String's U+FFFD
    * replacement, encode back. The native walks take it on malformed
    * input, so they never need a second (String) implementation. */
  private def reencode(text: UTF8String): UTF8String =
    UTF8String.fromString(text.toString)

  /** The native pass; null signals malformed UTF-8 (caller re-encodes). */
  private def tokensU8Native(text: UTF8String,
                             keyword: Boolean): Array[UTF8String] = {
    val in = text.getBytes
    val n = in.length
    var out = U8_EMPTY
    var nOut = 0
    var buf = new Array[Byte](64)
    var tokLen = 0
    var i = 0
    while (i < n) {
      val packed = decodeCp(in, i, n)
      if (packed < 0) return null
      val cp = packed & 0xFFFFFF
      val isSep =
        if (keyword) !Character.isLetterOrDigit(cp)
        else Character.isWhitespace(cp)
      if (isSep) {
        if (tokLen > 0) {
          if (nOut == out.length)
            out = java.util.Arrays.copyOf(out, math.max(8, nOut * 2))
          out(nOut) =
            UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, 0, tokLen))
          nOut += 1
          tokLen = 0
        }
      } else {
        // ASCII fast path: a-z folds by subtraction, all other ASCII is
        // uppercase-invariant; beyond ASCII the codepoint table decides.
        val up =
          if (cp >= 'a' && cp <= 'z') cp - 32
          else if (cp < 0x80) cp
          else Character.toUpperCase(cp)
        if (tokLen + 4 > buf.length)
          buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        tokLen = encodeCp(buf, tokLen, up)
      }
      i += (packed >>> 24)
    }
    if (tokLen > 0) {
      if (nOut == out.length)
        out = java.util.Arrays.copyOf(out, math.max(8, nOut * 2))
      out(nOut) =
        UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, 0, tokLen))
      nOut += 1
    }
    if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut)
  }

  def tokenize(text: UTF8String): ArrayData = tokenize(text, Tokenizer.Text)

  def tokenize(text: UTF8String, mode: String): ArrayData =
    new GenericArrayData(tokensU8(text, mode).asInstanceOf[Array[Any]])

  def normalizeSortKey(s: UTF8String): UTF8String = {
    val native = normalizeSortKeyNative(s)
    if (native != null) native else normalizeSortKeyNative(reencode(s))
  }

  /** Byte-native trim + fullwidth fold + uppercase (A4). String.trim
    * strips chars <= U+0020 — single-byte in UTF-8, so the byte-level
    * trim is exact; a multi-byte sequence can never end in a <= 0x20
    * byte, so trimming cannot split one. null on malformed input. */
  private def normalizeSortKeyNative(s: UTF8String): UTF8String = {
    val in = s.getBytes
    var lo = 0
    var hi = in.length
    while (lo < hi && (in(lo) & 0xFF) <= 0x20) lo += 1
    while (hi > lo && (in(hi - 1) & 0xFF) <= 0x20) hi -= 1
    var buf = new Array[Byte]((hi - lo) + 8)
    var len = 0
    var i = lo
    while (i < hi) {
      val packed = decodeCp(in, i, hi)
      if (packed < 0) return null
      var cp = packed & 0xFFFFFF
      if (cp >= 0xFF01 && cp <= 0xFF5E) cp = cp - 0xFF01 + 0x21
      else if (cp == 0x3000) cp = 0x20
      val up =
        if (cp >= 'a' && cp <= 'z') cp - 32
        else if (cp < 0x80) cp
        else Character.toUpperCase(cp)
      if (len + 4 > buf.length)
        buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      len = encodeCp(buf, len, up)
      i += (packed >>> 24)
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
  }

  /** text → ARRAY<STRUCT<term STRING, tf INT, dl INT>>: tokenize + synonym
    * expand + per-doc tf count + field length, in ONE pass with no
    * UDF/encoder round-trips — the index build's hot inner loop. `dl`
    * (identical on every struct of a row) rides along so downstream needs
    * no second pass over the array. Term order = first occurrence
    * (deterministic; irrelevant to the sorted posting layout). */
  def tfPairs(dict: SynonymDict, text: UTF8String): ArrayData =
    tfPairs(dict, text, Tokenizer.Text)

  /** Struct-of-arrays per-doc tf-count result: `keys(order(i))` /
    * `counts(order(i))` for i < uniq walk the terms in first-occurrence
    * order; `dl` is the post-expansion token count. Keys are STABLE
    * UTF8Strings (each token owns its bytes — [[tokensU8]]), so callers
    * may retain them across rows without cloning. [[tfPairs]] is a pure
    * repackaging of this; the index build's fragment pass consumes it
    * directly so the hot loop never materializes the struct array. */
  final class TfCounts(val keys: Array[UTF8String], val counts: Array[Int],
                       val order: Array[Int], val uniq: Int, val dl: Int)

  private[this] val EMPTY_TF = new TfCounts(new Array[UTF8String](0),
    new Array[Int](0), new Array[Int](0), 0, 0)

  def tfCounts(dict: SynonymDict, text: UTF8String, mode: String): TfCounts = {
    val toks = tokensU8(text, mode)
    val expanded = if (dict.isEmpty) toks else dict.expandU8(toks)
    val dl = expanded.length
    if (dl == 0) return EMPTY_TF
    // open-addressing tf count (linear probing, power-of-two capacity):
    // the LinkedHashMap formulation boxed an Integer per token put —
    // measured as the dominant term of this hot loop (build passes run
    // it once per doc per pass). First-occurrence term order via the
    // `order` slots.
    val cap = Integer.highestOneBit(math.max(4, dl * 2 - 1)) * 2
    val mask = cap - 1
    val keys = new Array[UTF8String](cap)
    val counts = new Array[Int](cap)
    val order = new Array[Int](dl)
    var uniq = 0
    var ti = 0
    while (ti < dl) {
      val t = expanded(ti)
      var h = t.hashCode & mask
      while (keys(h) != null && !keys(h).equals(t)) h = (h + 1) & mask
      if (keys(h) == null) { keys(h) = t; order(uniq) = h; uniq += 1 }
      counts(h) += 1
      ti += 1
    }
    new TfCounts(keys, counts, order, uniq, dl)
  }

  def tfPairs(dict: SynonymDict, text: UTF8String, mode: String): ArrayData = {
    val c = tfCounts(dict, text, mode)
    val out = new Array[Any](c.uniq)
    var i = 0
    while (i < c.uniq) {
      val slot = c.order(i)
      out(i) = InternalRow(c.keys(slot), c.counts(slot), c.dl)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** text → dl (post-expansion token count) WITHOUT materializing the
    * per-term tf map — the docstore pass needs ONLY dl, and building the
    * LinkedHashMap + struct array per doc just to read its length was
    * measurable build-phase cost. With no synonym dictionary the count
    * needs no token strings at all (a codepoint walk counting separator
    * transitions); with one, expansion can change the count in ways only
    * `SynonymDict.expandU8` knows, so the tokens materialize and expand
    * exactly as [[tfPairs]] does. Identity `docLen == tfPairs(...).dl`
    * is pinned by DocLenSpec. */
  def docLen(dict: SynonymDict, text: UTF8String, mode: String): Int =
    if (!dict.isEmpty) dict.expandU8(tokensU8(text, mode)).length
    else {
      val keyword = mode == Tokenizer.Keyword
      require(keyword || mode == Tokenizer.Text,
        s"unknown analyzer mode '$mode'")
      val native = docLenNative(text, keyword)
      if (native >= 0) native else docLenNative(reencode(text), keyword)
    }

  /** Separator-transition count over the raw UTF-8 bytes (no token or
    * String materialization at all); -1 on malformed input. */
  private def docLenNative(text: UTF8String, keyword: Boolean): Int = {
    val in = text.getBytes
    val n = in.length
    var count = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val packed = decodeCp(in, i, n)
      if (packed < 0) return -1
      val cp = packed & 0xFFFFFF
      val isSep =
        if (keyword) !Character.isLetterOrDigit(cp)
        else Character.isWhitespace(cp)
      if (isSep) inTok = false
      else if (!inTok) { count += 1; inTok = true }
      i += (packed >>> 24)
    }
    count
  }

  /** text → ARRAY<STRUCT<term, tf, dl, positions ARRAY<INT>>>: the
    * positional twin of [[tfPairs]] for builds with `indexPositions`.
    * `positions` are the term's 0-based indexes in the post-expansion
    * token stream — the position contract shared with the golden model
    * (phrase = consecutive positions; reference indexes
    * DOCS_AND_FREQS_AND_POSITIONS, Indexer.java:713-714). */
  def tfPairsPos(dict: SynonymDict, text: UTF8String): ArrayData =
    tfPairsPos(dict, text, Tokenizer.Text)

  /** Positional twin of [[TfCounts]]: `poss(order(i))` is term i's
    * 0-based position list in the post-expansion stream. */
  final class TfPositions(val keys: Array[UTF8String], val poss: Array[IntVec],
                          val order: Array[Int], val uniq: Int, val dl: Int)

  private[this] val EMPTY_TFP = new TfPositions(new Array[UTF8String](0),
    new Array[IntVec](0), new Array[Int](0), 0, 0)

  def tfPositions(dict: SynonymDict, text: UTF8String,
                  mode: String): TfPositions = {
    val toks = tokensU8(text, mode)
    val expanded = if (dict.isEmpty) toks else dict.expandU8(toks)
    val dl = expanded.length
    if (dl == 0) return EMPTY_TFP
    // same open-addressing shape as [[tfCounts]], with an IntVec of
    // positions per slot instead of a count
    val cap = Integer.highestOneBit(math.max(4, dl * 2 - 1)) * 2
    val mask = cap - 1
    val keys = new Array[UTF8String](cap)
    val poss = new Array[IntVec](cap)
    val order = new Array[Int](dl)
    var uniq = 0
    var p = 0
    while (p < dl) {
      val t = expanded(p)
      var h = t.hashCode & mask
      while (keys(h) != null && !keys(h).equals(t)) h = (h + 1) & mask
      if (keys(h) == null) {
        keys(h) = t; poss(h) = new IntVec(); order(uniq) = h; uniq += 1
      }
      poss(h).add(p)
      p += 1
    }
    new TfPositions(keys, poss, order, uniq, dl)
  }

  def tfPairsPos(dict: SynonymDict, text: UTF8String, mode: String): ArrayData = {
    val c = tfPositions(dict, text, mode)
    val out = new Array[Any](c.uniq)
    var i = 0
    while (i < c.uniq) {
      val slot = c.order(i)
      val ps = c.poss(slot)
      out(i) = InternalRow(c.keys(slot), ps.size, c.dl,
        new GenericArrayData(ps.toArray))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Growable int list for position accumulation (avoids boxing churn in
    * the build hot loop). */
  final class IntVec {
    private var a = new Array[Int](4)
    private var n = 0
    def add(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def size: Int = n
    def toArray: Array[Any] = {
      val out = new Array[Any](n)
      var i = 0
      while (i < n) { out(i) = a(i); i += 1 }
      out
    }
    def toInts: Array[Int] = java.util.Arrays.copyOf(a, n)
  }

  /** Cosine similarity of two equal-length double arrays: dp, |a|², |b|²
    * accumulated in index order in one pass — value-identical to the
    * fold-based `aggregate(zip_with(...))` formulation but ~50 ns instead
    * of ~4 µs (the HOF tree is interpreted per element; at 10^6 candidate
    * pairs per task that difference IS the query's runtime). */
  def vecCosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"vec_cosine: length mismatch ${n} vs ${b.numElements()}")
    var dp = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dp += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dp / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
  }

  /** text → DISTINCT token n-gram shingles (space-joined, tokenizer
    * uppercase fold) in one native pass. Per-doc dedup here replaces the
    * global `(id, shingle)` distinct() — identical row set (shingle rows
    * never collide across docs because the id rides along), one whole
    * shuffle cheaper, and no interpreted slice/concat_ws HOF tree per
    * shingle. */
  private val U8_SPACE = UTF8String.fromString(" ")

  def shingles(text: UTF8String, n: Int): ArrayData = {
    val toks = tokensU8(text, Tokenizer.Text)
    if (toks.length < n) return new GenericArrayData(new Array[Any](0))
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val win = new Array[UTF8String](n)
    var i = 0
    while (i <= toks.length - n) {
      var j = 0
      while (j < n) { win(j) = toks(i + j); j += 1 }
      // concatWs over non-null inputs = the " "-joined StringBuilder bytes
      seen.add(UTF8String.concatWs(U8_SPACE, win: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Ordered within-slop phrase match over the tokenized text — the
    * native twin of the nested-`exists` HOF cascade in
    * [[graft.pipeline.TextOps.phraseTopK]]: positions p_0 < … < p_{m−1}
    * with tokens(p_j) = terms(j) and every gap p_j − p_{j−1} ∈
    * [1, 1+slop]. Exact DFS transcription of the `from(j, prev)`
    * recursion (same search order, same early-true), so the match set is
    * identical by construction. */
  def phraseMatch(text: UTF8String, terms: Array[UTF8String],
                  slop: Int): Boolean = {
    val toks = tokensU8(text, Tokenizer.Text)
    val m = terms.length
    val n = toks.length
    if (m == 0 || n < m) return false
    def from(j: Int, prev: Int): Boolean = { // 1-based positions
      if (j == m) return true
      var p = prev + 1
      val hi = prev + 1 + slop
      while (p <= hi) {
        if (p <= n && toks(p - 1).equals(terms(j)) && from(j + 1, p))
          return true
        p += 1
      }
      false
    }
    var i = 1
    val lim = n - (m - 1)
    while (i <= lim) {
      if (toks(i - 1).equals(terms(0)) && from(1, i)) return true
      i += 1
    }
    false
  }

  /** Per-set token-occurrence counts in ONE tokenize pass — the native
    * replacement for `explode(tokens).groupBy(id).agg(sum(when(isin)))`
    * shapes (langId / qualityScore), which shuffled the token stream
    * just to count stopword hits per doc. */
  def setHits(text: UTF8String,
              sets: Array[java.util.HashSet[UTF8String]]): ArrayData = {
    val toks = tokensU8(text, Tokenizer.Text)
    val out = new Array[Any](sets.length)
    var s = 0
    while (s < sets.length) {
      val set = sets(s)
      var hits = 0L
      var i = 0
      while (i < toks.length) {
        if (set.contains(toks(i))) hits += 1
        i += 1
      }
      out(s) = hits
      s += 1
    }
    new GenericArrayData(out)
  }

  /** One sign-LSH bucket per seed — the `transform(aggregate(...))` HOF
    * tree as a native loop. Arithmetic identical to the HOF formulation:
    * per seed, fold planes as `acc·2 + (dot ≥ 0 ? 1 : 0)` with each dot
    * an index-ordered Σ x·y from 0.0. */
  def lshBucketsPerSeed(v: ArrayData,
                        planesBySeed: Array[Array[Array[Double]]]): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](planesBySeed.length)
    var s = 0
    while (s < planesBySeed.length) {
      val planes = planesBySeed(s)
      var acc = 0L
      var p = 0
      while (p < planes.length) {
        val plane = planes(p)
        // mirror zip_with's length semantics: equal dims in practice
        // (planes are generated at the embedding dim); require loudly
        // rather than silently truncating
        require(n == plane.length,
          s"lsh_buckets: dim mismatch $n vs ${plane.length}")
        var d = 0.0
        var i = 0
        while (i < n) { d += v.getDouble(i) * plane(i); i += 1 }
        acc = acc * 2 + (if (d >= 0) 1L else 0L)
        p += 1
      }
      out(s) = acc
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Nearest-centroid index by squared L2 — the IVF coarse-quantizer
    * assignment as one native loop instead of an interpreted
    * `aggregate(zip_with(...))` HOF tree per centroid (k × dim boxed
    * lambda evaluations per row). Arithmetic is IDENTICAL to the HOF
    * formulation: per centroid, Σ (x−y)² accumulated in index order from
    * 0.0; argmin by strict `<` so the first minimum wins — the
    * `foldLeft(when(d < best.d, ...))` contract. */
  def vecNearestCentroid(v: ArrayData, cents: Array[Array[Double]]): Int = {
    var bestI = 0
    var bestD = l2sq(v, cents(0))
    var i = 1
    while (i < cents.length) {
      val d = l2sq(v, cents(i))
      if (d < bestD) { bestD = d; bestI = i }
      i += 1
    }
    bestI
  }

  private def l2sq(v: ArrayData, c: Array[Double]): Double = {
    val n = v.numElements()
    require(n == c.length,
      s"vec_nearest_centroid: length mismatch $n vs ${c.length}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = v.getDouble(i) - c(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** blob → ARRAY<STRUCT<doc_id BIGINT, tf INT, dl INT>> */
  def vbDecode(blob: Array[Byte]): ArrayData = {
    val (docIds, tfs, dls) = VarByte.decode(blob)
    val out = new Array[Any](docIds.length)
    var i = 0
    while (i < docIds.length) {
      out(i) = InternalRow(docIds(i), tfs(i), dls(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** blob → ARRAY<STRUCT<doc_id, tf, dl, positions ARRAY<INT>>> — the
    * positional decode for the phrase path, as a columnar expression so
    * the decode stays inside codegen instead of a Dataset flatMap
    * (tuple-encoder round-trip per posting). */
  def vbDecodePos(blob: Array[Byte]): ArrayData = {
    val (docIds, tfs, dls, poss) = VarByte.decodeWithPositions(blob)
    val out = new Array[Any](docIds.length)
    var i = 0
    while (i < docIds.length) {
      val ps = poss(i)
      val arr = new Array[Any](if (ps == null) 0 else ps.length)
      var j = 0
      while (j < arr.length) { arr(j) = ps(j); j += 1 }
      out(i) = InternalRow(docIds(i), tfs(i), dls(i), new GenericArrayData(arr))
      i += 1
    }
    new GenericArrayData(out)
  }
}
