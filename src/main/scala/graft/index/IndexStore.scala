package graft.index

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Physical index layout + snapshot/manifest bookkeeping ("Iceberg-
  * emulated", SURVEY.md §0.3): partitioned Parquet tables plus JSON
  * manifests that carry the snapshot/lineage/metrics concepts the north
  * rule needs (resumable builds, per-partition checkpoints, atomic
  * snapshot swap). All IO goes through the Hadoop FileSystem API so the
  * same code runs on HDFS/S3A on a real cluster; a real Iceberg catalog
  * could replace this object without touching engine code.
  *
  * Layout:
  * {{{
  *   <root>/segments/<segName>/docstore/        parquet
  *   <root>/segments/<segName>/postings/        parquet, partitionBy(part)
  *   <root>/segments/<segName>/term_stats/      parquet
  *   <root>/segments/<segName>/stats/           parquet (1 row)
  *   <root>/segments/<segName>/manifest.jsonl   per-part lineage + metrics
  *   <root>/tombstones/<name>/                  deleted PKs (urls), parquet
  *                                              (legacy <name>.txt readable)
  *   <root>/snapshots/snap-<n>.json             active segment list
  *   <root>/snapshots/LATEST                    atomic pointer (rename swap)
  * }}}
  *
  * Mirrors the reference lifecycle: FULL build = new snapshot from
  * scratch (`OpenMode.CREATE`, Indexer.java:196-220), APPEND = extra
  * segment + snapshot advance (S1/S4), delete-by-PK = tombstone file
  * (S5, Indexer.java:915-917), searcher hot-swap = LATEST pointer flip
  * (Searcher.java:527-583).
  */
object IndexStore {

  final case class ManifestRow(part: Int, rows: Long, bytes: Long,
                               checksum: Long, inputSnapshot: String,
                               wallMs: Long)

  /** `dead` = the superseded-doc_id sidecar batches (upsert losers,
    * maintained INCREMENTALLY at append time — SURVEY §8 round-5 item:
    * without them a cold multi-segment Searcher open re-derives the
    * liveDocs set with an O(corpus) window). `Some(batches)` means the
    * root is sidecar-maintained (possibly empty — no upserts yet);
    * `None` means a legacy root whose Searcher must fall back to the
    * window derivation. Tombstones stay separate: they are url-keyed
    * deletion intents, these are doc_id-keyed facts. */
  final case class Snapshot(id: Long, segments: Seq[String],
                            tombstones: Seq[String],
                            dead: Option[Seq[String]] = None)

  def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Per-segment build parameters the QUERY side needs: with
    * (numParts, saltFanout) a searcher can recompute the exact posting
    * partitions a term can live in ({partOf(term, s) | s < fanout}) and
    * prune every other `part=` directory at plan time — at 10^12 docs
    * that is the difference between scanning ≤fanout files and scanning
    * the whole index layout. */
  final case class SegmentConfig(numParts: Int, saltFanout: Int, blockSize: Int,
                                 formatVersion: Int = graft.codec.VarByte.DefaultFormatVersion,
                                 hasPositions: Boolean = false,
                                 analyzer: String = graft.analysis.Tokenizer.Text)

  def writeSegmentConfig(spark: SparkSession, root: String, seg: String,
                         cfg: SegmentConfig): Unit =
    writeString(fs(spark, root), new Path(s"${segmentDir(root, seg)}/config.json"),
      s"""{"num_parts":${cfg.numParts},"salt_fanout":${cfg.saltFanout},""" +
        s""""block_size":${cfg.blockSize},"format_version":${cfg.formatVersion},""" +
        s""""positions":${cfg.hasPositions},"analyzer":"${cfg.analyzer}"}""")

  private val numPartsRe = """"num_parts":(\d+)""".r
  private val fanoutRe = """"salt_fanout":(\d+)""".r
  private val blockRe = """"block_size":(\d+)""".r
  private val versionRe = """"format_version":(\d+)""".r
  private val positionsRe = """"positions":(true|false)""".r
  private val analyzerRe = """"analyzer":"([a-z]+)"""".r

  def readSegmentConfig(spark: SparkSession, root: String,
                        seg: String): Option[SegmentConfig] = {
    val f = fs(spark, root)
    val p = new Path(s"${segmentDir(root, seg)}/config.json")
    if (!f.exists(p)) return None
    val s = readString(f, p)
    for {
      n <- numPartsRe.findFirstMatchIn(s).map(_.group(1).toInt)
      sf <- fanoutRe.findFirstMatchIn(s).map(_.group(1).toInt)
      b <- blockRe.findFirstMatchIn(s).map(_.group(1).toInt)
    } yield SegmentConfig(n, sf, b,
      // absent field = a pre-versioning segment (format 1): recorded as
      // such so the Searcher can refuse it loudly
      versionRe.findFirstMatchIn(s).map(_.group(1).toInt).getOrElse(1),
      positionsRe.findFirstMatchIn(s).exists(_.group(1) == "true"),
      analyzerRe.findFirstMatchIn(s).map(_.group(1))
        .getOrElse(graft.analysis.Tokenizer.Text))
  }

  def segmentDir(root: String, seg: String) = s"$root/segments/$seg"
  def docstorePath(root: String, seg: String) = s"${segmentDir(root, seg)}/docstore"
  def postingsPath(root: String, seg: String) = s"${segmentDir(root, seg)}/postings"
  def termStatsPath(root: String, seg: String) = s"${segmentDir(root, seg)}/term_stats"
  def facetsPath(root: String, seg: String) = s"${segmentDir(root, seg)}/facets"
  def jsonFieldsPath(root: String, seg: String) = s"${segmentDir(root, seg)}/json_fields"
  def statsPath(root: String, seg: String) = s"${segmentDir(root, seg)}/stats"
  def manifestPath(root: String, seg: String) = s"${segmentDir(root, seg)}/manifest.jsonl"

  // --- pinned table schemas + readers ---
  //
  // Every engine-written table is read through the readers below, each
  // with its layout pinned here. A schema-less `spark.read.parquet` infers
  // the schema from a parquet footer, and that inference is itself a
  // one-task Spark job — paid per table per segment on every append,
  // compaction and searcher open. Each schema is the single copy of its
  // table's layout: a writer that changes a column changes it here too.

  private def schemaOf(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** THE pinned postings schema. It also serves the empty segment (S7
    * create-empty-index), whose partitioned dir has no parquet footers
    * to infer from. */
  val postingsSchema: StructType = schemaOf("term" -> StringType,
    "df_local" -> LongType, "max_tf" -> IntegerType,
    "min_dl" -> IntegerType, "blob" -> BinaryType, "part" -> IntegerType)

  /** Row store: the build's analysis pass writes it, compaction copies it. */
  val docstoreSchema: StructType = schemaOf("doc_id" -> LongType,
    "url" -> StringType, "warc_ts" -> TimestampType, "lang" -> StringType,
    "text" -> StringType, "dl" -> IntegerType)

  val termStatsSchema: StructType = schemaOf("term" -> StringType,
    "df" -> LongType, "ttf" -> LongType, "max_tf" -> IntegerType,
    "min_dl" -> IntegerType)

  /** One row per segment ([[writeStatsFromObservation]]). A legacy stats
    * file without `id_ceiling` reads that column as null. */
  val statsSchema: StructType = schemaOf("doc_count" -> LongType,
    "sum_dl" -> LongType, "avgdl" -> DoubleType, "id_ceiling" -> LongType)

  /** Facet sidecar: labels and path levels are written as strings. */
  val facetsSchema: StructType = schemaOf("doc_id" -> LongType,
    "dim" -> StringType, "label" -> StringType,
    "path" -> ArrayType(StringType))

  val tombstonesSchema: StructType = schemaOf("url" -> StringType)
  val deadIdsSchema: StructType = schemaOf("doc_id" -> LongType)

  private def readPinned(spark: SparkSession, schema: StructType,
                         path: String): DataFrame =
    spark.read.schema(schema).parquet(path)

  def readDocstore(spark: SparkSession, root: String, seg: String): DataFrame =
    readPinned(spark, docstoreSchema, docstorePath(root, seg))

  def readTermStats(spark: SparkSession, root: String, seg: String): DataFrame =
    readPinned(spark, termStatsSchema, termStatsPath(root, seg))

  def readFacets(spark: SparkSession, root: String, seg: String): DataFrame =
    readPinned(spark, facetsSchema, facetsPath(root, seg))

  /** A segment's stats row. `idCeiling` is None for a legacy segment
    * whose stats predate the column. */
  final case class SegmentStats(docCount: Long, sumDl: Long,
                                idCeiling: Option[Long])

  /** Stats of every named segment in ONE Spark job: the per-segment
    * reads are unioned and their (tiny) rows collected, and rows are
    * folded on the driver (sum of counts, max ceiling), so the job count
    * does not grow with the number of segments. */
  def readSegmentStats(spark: SparkSession, root: String,
                       segs: Seq[String]): Map[String, SegmentStats] =
    if (segs.isEmpty) Map.empty
    else {
      val rows = segs.map(s =>
          readPinned(spark, statsSchema, statsPath(root, s))
            .select(lit(s), col("doc_count"), col("sum_dl"), col("id_ceiling")))
        .reduce(_ union _)
        .collect()
      val bySeg = rows.groupBy(_.getString(0))
      segs.map { s =>
        val rs = bySeg.getOrElse(s, Array.empty[Row])
        def longs(i: Int) = rs.filterNot(_.isNullAt(i)).map(_.getLong(i))
        s -> SegmentStats(longs(1).sum, longs(2).sum, longs(3).maxOption)
      }.toMap
    }

  /** Write options for EVERY postings write (build, rebuild merge via
    * the build path, compact merge). Posting rows carry multi-MB blobs,
    * and the read side is Spark's vectorized parquet reader, which
    * materializes a whole row group of a binary column as ONE contiguous
    * on-heap vector per task: at the default 128 MB row groups, 32
    * concurrent scan tasks can demand ~4 GiB of batch vectors and OOM an
    * 8 GiB heap (observed on a 5M-doc positional index). 16 MB row
    * groups cap the reader's per-task batch at ~16 MB with no read
    * amplification for this table — queries are term-pruned and blobs
    * are decoded whole. Dictionary encoding is disabled: blobs are
    * unique byte strings (a dictionary only buffers heap to then fall
    * back) and terms repeat at most a handful of times per part file.
    *
    * `parquet.block.size` alone is NOT enough: parquet-mr only CHECKS
    * the buffered size every `parquet.page.size.row.check.min` records
    * (default 100 — and `checkBlockSizeReached` reuses the page-check
    * cadence), so 100 multi-MB positional blob rows buffer into one
    * row group before the first check fires. The 20M-doc dress hit
    * exactly this: an 82 MB first row group on a 16 MB block.size,
    * and the read-back scan OOM'd 8g at 32 tasks (vector doubling ×
    * whole-group batches). Checking every ≥4 rows bounds the overshoot
    * at ~4 largest rows over the 16 MB target. */
  val postingsWriteOptions: Map[String, String] = Map(
    "parquet.block.size" -> (16L << 20).toString,
    "parquet.page.size.row.check.min" -> "4",
    "parquet.page.size.row.check.max" -> "64",
    "parquet.enable.dictionary" -> "false")

  /** Positional variant: position payloads make blob VALUES ~4-8×
    * bigger, and the read side pays whole-row-group batches on every
    * phrase-term scan — halving the group bound halves the per-task
    * batch memory where it is most precious (the 20M dress's head-term
    * phrase ran 32 concurrent positional blob scans). Everything else
    * matches [[postingsWriteOptions]]. */
  val postingsWriteOptionsPositional: Map[String, String] =
    postingsWriteOptions + ("parquet.block.size" -> (8L << 20).toString)

  def postingsWriteOptionsFor(positional: Boolean): Map[String, String] =
    if (positional) postingsWriteOptionsPositional else postingsWriteOptions

  /** Docstore writes: 32 MB row groups instead of the 128 MB default.
    * Two reasons. (1) Writer memory: each open parquet writer buffers
    * ~a row group of compressed pages; 32 concurrent docstore writers ×
    * up to 128 MB was the 20M-dress compaction OOM (the stack bottoms
    * in CapacityByteArrayOutputStream.addSlab). (2) Read-side S8
    * fetches prune row groups by doc_id range (ids are url-sort
    * ordered), and 4× smaller groups prune 4× tighter for the same
    * footer cost. */
  val docstoreWriteOptions: Map[String, String] = Map(
    "parquet.block.size" -> (32L << 20).toString)

  /** Collection-stats row from the cnt/sdl/mx metrics observed during a
    * segment's docstore write — the single copy of the (doc_count,
    * sum_dl, avgdl, id_ceiling) layout that built AND compacted segments
    * share. `id_ceiling` is the first doc_id safely above every id in
    * the segment — the APPEND base; distinct from doc_count because a
    * compacted segment keeps original ids WITH GAPS where dead docs fell
    * out. Returns (docCount, sumDl, idCeiling). */
  def writeStatsFromObservation(spark: SparkSession, root: String,
                                seg: String, m: Map[String, Any])
      : (Long, Long, Long) = {
    import spark.implicits._
    val docCount = m("cnt").asInstanceOf[Long]
    val sumDl = Option(m("sdl")).map(_.asInstanceOf[Long]).getOrElse(0L)
    val idCeiling = Option(m("mx")).map(_.asInstanceOf[Long] + 1L).getOrElse(0L)
    Seq((docCount, sumDl,
        if (docCount == 0) 0.0 else sumDl.toDouble / docCount, idCeiling))
      .toDF("doc_count", "sum_dl", "avgdl", "id_ceiling")
      .write.mode("overwrite").parquet(statsPath(root, seg))
    (docCount, sumDl, idCeiling)
  }

  /** Segment postings read with the pinned [[postingsSchema]] (an empty
    * corpus's footer-less dir reads as an empty frame), or an empty
    * frame of that schema when the dir is missing. */
  def readPostingsOrEmpty(spark: SparkSession, root: String,
                          seg: String): DataFrame =
    try readPinned(spark, postingsSchema, postingsPath(root, seg))
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](),
          postingsSchema)
    }

  private def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  // --- manifest (per-partition lineage + metrics; the resume key) ---

  def manifestLine(r: ManifestRow): String =
    s"""{"part":${r.part},"rows":${r.rows},"bytes":${r.bytes},""" +
      s""""checksum":${r.checksum},"input_snapshot":"${r.inputSnapshot}",""" +
      s""""wall_ms":${r.wallMs}}"""

  private val partRe = """"part":(\d+)""".r
  private val rowsRe = """"rows":(\d+)""".r
  private val checksumRe = """"checksum":(-?\d+)""".r

  def appendManifest(spark: SparkSession, root: String, seg: String,
                     rows: Seq[ManifestRow]): Unit = {
    val f = fs(spark, root)
    val p = new Path(manifestPath(root, seg))
    val existing = if (f.exists(p)) readString(f, p) else ""
    writeString(f, p, existing + rows.map(manifestLine).mkString("", "\n", "\n"))
  }

  def readManifest(spark: SparkSession, root: String, seg: String): Seq[(Int, Long, Long)] = {
    val f = fs(spark, root)
    val p = new Path(manifestPath(root, seg))
    if (!f.exists(p)) Seq.empty
    else readString(f, p).linesIterator.filter(_.nonEmpty).map { line =>
      val part = partRe.findFirstMatchIn(line).map(_.group(1).toInt).getOrElse(-1)
      val rows = rowsRe.findFirstMatchIn(line).map(_.group(1).toLong).getOrElse(0L)
      val cks = checksumRe.findFirstMatchIn(line).map(_.group(1).toLong).getOrElse(0L)
      (part, rows, cks)
    }.toSeq
  }

  /** Parts already completed in a previous (possibly killed) build —
    * the resume set. */
  def completedParts(spark: SparkSession, root: String, seg: String): Set[Int] =
    readManifest(spark, root, seg).map(_._1).toSet

  // --- snapshots (atomic pointer swap) ---

  def writeSnapshot(spark: SparkSession, root: String, snap: Snapshot): Unit = {
    val f = fs(spark, root)
    val segs = snap.segments.map(s => s""""$s"""").mkString("[", ",", "]")
    val tombs = snap.tombstones.map(s => s""""$s"""").mkString("[", ",", "]")
    // "dead" is written ONLY for sidecar-maintained roots: its absence is
    // the legacy marker that routes a Searcher to the window fallback
    val dead = snap.dead.fold("")(ds =>
      s""","dead":${ds.map(s => s""""$s"""").mkString("[", ",", "]")}""")
    val body =
      s"""{"id":${snap.id},"segments":$segs,"tombstones":$tombs$dead}"""
    val snapPath = new Path(s"$root/snapshots/snap-${snap.id}.json")
    writeString(f, snapPath, body)
    // atomic pointer flip: write tmp, OVERWRITE-rename over LATEST —
    // a delete-then-rename would leave a window where LATEST is missing
    // and a concurrent Searcher constructor fails instead of seeing one
    // of the two snapshots (the hot-swap contract, Searcher.java:527-583)
    val tmp = new Path(s"$root/snapshots/.LATEST.tmp")
    writeString(f, tmp, s"snap-${snap.id}.json")
    val latest = new Path(s"$root/snapshots/LATEST")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      latest.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(fc.makeQualified(tmp), fc.makeQualified(latest),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private val idRe = """"id":(\d+)""".r
  private val segsRe = """"segments":\[([^\]]*)\]""".r
  private val tombsRe = """"tombstones":\[([^\]]*)\]""".r
  private val deadRe = """"dead":\[([^\]]*)\]""".r

  private def parseSnapshot(body: String): Snapshot = {
    val id = idRe.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(0L)
    def parseList(s: String): Seq[String] =
      s.split(',').map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
    val segs = segsRe.findFirstMatchIn(body).map(m => parseList(m.group(1))).getOrElse(Seq.empty)
    val tombs = tombsRe.findFirstMatchIn(body).map(m => parseList(m.group(1))).getOrElse(Seq.empty)
    // key absent (legacy snapshot) → None; present-but-empty → Some(Nil)
    val dead = deadRe.findFirstMatchIn(body).map(m => parseList(m.group(1)))
    Snapshot(id, segs, tombs, dead)
  }

  def readLatestSnapshot(spark: SparkSession, root: String): Option[Snapshot] = {
    val f = fs(spark, root)
    val latest = new Path(s"$root/snapshots/LATEST")
    if (!f.exists(latest)) return None
    val name = readString(f, latest).trim
    Some(parseSnapshot(readString(f, new Path(s"$root/snapshots/$name"))))
  }

  /** TIME TRAVEL (the Iceberg snapshot-read analog): read a specific
    * snapshot by id. Snapshot files are retained — only the LATEST
    * pointer moves — so any still-unexpired snapshot serves exactly the
    * view it committed (its own segment list AND its own tombstone
    * list). None when that snapshot was never written or was expired. */
  def readSnapshotAt(spark: SparkSession, root: String,
                     id: Long): Option[Snapshot] = {
    val f = fs(spark, root)
    val p = new Path(s"$root/snapshots/snap-$id.json")
    if (!f.exists(p)) None else Some(parseSnapshot(readString(f, p)))
  }

  /** All retained snapshot ids, ascending. */
  def listSnapshots(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val dir = new Path(s"$root/snapshots")
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("snap-") && n.endsWith(".json") =>
        n.stripPrefix("snap-").stripSuffix(".json").toLong }
      .sorted
  }

  /** The Iceberg `expire_snapshots` analog: keep the newest `keep`
    * snapshots (the latest always survives), delete older snapshot
    * files plus every segment dir and tombstone batch that an EXPIRED
    * snapshot references and no retained snapshot does. Time travel to
    * an expired snapshot then fails loudly instead of reading
    * half-deleted state. Returns (snapshots deleted, segment dirs
    * deleted).
    *
    * Orphan deletion is scoped to dirs the expired snapshots name — a
    * dir referenced by NO snapshot is left alone, so an in-flight
    * lifecycle op (which writes its segment dir BEFORE committing its
    * snapshot JSON) can never lose its fresh segment to a concurrent
    * expire. The remaining concurrency contract is the reader's: a
    * Searcher opened on a snapshot this call expires reads deleted
    * files mid-query — expire only snapshots no reader still serves. */
  def expireSnapshots(spark: SparkSession, root: String,
                      keep: Int = 1): (Int, Int) = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val f = fs(spark, root)
    val ids = listSnapshots(spark, root)
    if (ids.size <= keep) return (0, 0)
    val (expire, retain) = ids.splitAt(ids.size - keep)
    val retained = retain.flatMap(readSnapshotAt(spark, root, _))
    // the expired snapshots' references must be read BEFORE their JSONs
    // are deleted — they scope the orphan sweep below
    val expired = expire.flatMap(readSnapshotAt(spark, root, _))
    val liveSegs = retained.flatMap(_.segments).toSet
    val liveTombs = retained.flatMap(_.tombstones).toSet
    val liveDead = retained.flatMap(_.dead.getOrElse(Seq.empty)).toSet
    val deadSegs = expired.flatMap(_.segments).toSet -- liveSegs
    val deadTombs = expired.flatMap(_.tombstones).toSet -- liveTombs
    val deadDeadBatches =
      expired.flatMap(_.dead.getOrElse(Seq.empty)).toSet -- liveDead
    // POINTER BEFORE DATA: delete the expired snapshot JSONs first so a
    // crash mid-expire can never leave a readable snap-N.json pointing
    // at already-deleted segment dirs (a time-travel open would then
    // fail mid-query instead of loudly at construction)
    expire.foreach(id =>
      f.delete(new Path(s"$root/snapshots/snap-$id.json"), false))
    var segsDeleted = 0
    val segDir = new Path(s"$root/segments")
    if (f.exists(segDir))
      f.listStatus(segDir).foreach { st =>
        if (deadSegs.contains(st.getPath.getName)) {
          f.delete(st.getPath, true); segsDeleted += 1
        }
      }
    val tombDir = new Path(s"$root/tombstones")
    if (f.exists(tombDir))
      f.listStatus(tombDir).foreach { st =>
        val n = st.getPath.getName
        val base = n.stripSuffix(".count").stripSuffix(".txt")
        if (deadTombs.contains(base)) f.delete(st.getPath, true)
      }
    val deadDir = new Path(s"$root/dead")
    if (f.exists(deadDir))
      f.listStatus(deadDir).foreach { st =>
        val base = st.getPath.getName.stripSuffix(".count")
        if (deadDeadBatches.contains(base)) f.delete(st.getPath, true)
      }
    (expire.size, segsDeleted)
  }

  // --- tombstones (delete-by-PK, S5) ---
  //
  // Stored as PARQUET per deletion batch, never as driver-resident lists:
  // a GDPR-style purge of 1% of 10^12 urls is a 10^10-row table — it must
  // flow executor-to-executor (write from a DataFrame, read as one, join
  // against the docstore) with the driver only tracking the batch NAMES
  // in the snapshot. Legacy `<name>.txt` batches (round ≤2 layouts) are
  // still readable.

  def writeTombstonesDf(spark: SparkSession, root: String, name: String,
                        urls: org.apache.spark.sql.DataFrame): Unit = {
    // observe the row count during the write and store it as a sidecar:
    // every later consumer (Searcher.deadDocs, merge, mergeCompact) needs
    // the count only for its broadcast-vs-shuffle size gate, and reading
    // it back here saves them a count() job per lifecycle op
    val obs = org.apache.spark.sql.Observation()
    urls.toDF("url").select(col("url").cast(StringType))
      .observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))
      .write.mode("overwrite")
      .parquet(s"$root/tombstones/$name")
    writeString(fs(spark, root), new Path(s"$root/tombstones/$name.count"),
      obs.get("cnt").asInstanceOf[Long].toString)
  }

  /** Total row count across the named tombstone batches WITHOUT a Spark
    * job, from the `.count` sidecars written alongside each batch; None
    * when any batch lacks one (legacy layouts) — callers then fall back
    * to a count() action on the unioned frame. */
  def tombstoneCount(spark: SparkSession, root: String,
                     names: Seq[String]): Option[Long] = {
    if (names.isEmpty) return Some(0L)
    val f = fs(spark, root)
    val counts = names.map { n =>
      val p = new Path(s"$root/tombstones/$n.count")
      if (f.exists(p)) readString(f, p).trim.toLongOption else None
    }
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** Union of the named tombstone batches as a 1-column (`url`) frame;
    * None when there are none. Each batch is a parquet dir (current) or a
    * one-url-per-line `.txt` (legacy). */
  def readTombstonesDf(spark: SparkSession, root: String,
                       names: Seq[String]): Option[org.apache.spark.sql.DataFrame] = {
    if (names.isEmpty) return None
    val f = fs(spark, root)
    import spark.implicits._
    val dfs = names.flatMap { n =>
      val dir = new Path(s"$root/tombstones/$n")
      val txt = new Path(s"$root/tombstones/$n.txt")
      if (f.exists(dir)) Some(readPinned(spark, tombstonesSchema, dir.toString))
      else if (f.exists(txt))
        Some(readString(f, txt).linesIterator.filter(_.nonEmpty)
          .toSeq.toDF("url"))
      else None
    }
    if (dfs.isEmpty) None else Some(dfs.reduce(_ unionByName _))
  }

  // --- superseded-doc_id batches (`<root>/dead/<name>/`) ---
  //
  // The incremental liveDocs substrate (SURVEY §8 round-5 item): each
  // APPEND writes the doc_ids its batch superseded (upsert losers across
  // ALL segments, winners included when the incoming doc loses), so a
  // cold Searcher open unions O(appends) small parquet batches instead
  // of paying a full-corpus window shuffle. Same parquet + `.count`
  // sidecar shape as tombstones (invariant 21 applies: the sidecar
  // count feeds broadcast gates — never write a wrong one).

  /** Write a superseded-id batch; returns its row count (from the write
    * observation — no extra job). */
  def writeDeadIdsDf(spark: SparkSession, root: String, name: String,
                     ids: org.apache.spark.sql.DataFrame): Long = {
    val obs = org.apache.spark.sql.Observation()
    ids.toDF("doc_id").select(col("doc_id").cast(LongType))
      .observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))
      .write.mode("overwrite")
      .parquet(s"$root/dead/$name")
    val n = obs.get("cnt").asInstanceOf[Long]
    writeString(fs(spark, root), new Path(s"$root/dead/$name.count"),
      n.toString)
    n
  }

  /** Union of the named superseded-id batches (`doc_id` frame); None
    * when there are none. */
  def readDeadIdsDf(spark: SparkSession, root: String, names: Seq[String])
      : Option[org.apache.spark.sql.DataFrame] =
    if (names.isEmpty) None
    else Some(names.map(n => readPinned(spark, deadIdsSchema, s"$root/dead/$n"))
      .reduce(_ unionByName _))

  /** Total rows across the named dead batches from the `.count`
    * sidecars — no Spark job; None when any batch lacks one. */
  def deadIdsCount(spark: SparkSession, root: String,
                   names: Seq[String]): Option[Long] = {
    if (names.isEmpty) return Some(0L)
    val f = fs(spark, root)
    val counts = names.map { n =>
      val p = new Path(s"$root/dead/$n.count")
      if (f.exists(p)) readString(f, p).trim.toLongOption else None
    }
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }
}
