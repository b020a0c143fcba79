package graft.index

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import graft.analysis.SynonymDict
import graft.query.Searcher
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Engine tables are read through IndexStore's pinned-schema readers:
  * the pinned layouts must match what the writers put on disk, and with
  * no footer inference and one stats job per append, an append's Spark
  * job count must not grow with the number of segments. */
class PinnedReadSpec extends AnyFunSuite with SparkTestBase {

  private val dict = SynonymDict.empty
  private val cfg = IndexBuilder.IndexConfig(
    numParts = 4, rangeParts = 2, saltDf = 50, saltFanout = 2,
    buildFacets = true)
  private val dayMs = 86400000L

  private val base: Seq[WebtextGen.Page] = WebtextGen.pages(11L, 200)

  /** Fresh urls (`tag` keeps batches apart) plus a re-crawl of every
    * 5th base page a day later: both the insert and the upsert path. */
  private def batch(tag: Int, n: Int): Seq[WebtextGen.Page] =
    (0 until n).map(i => WebtextGen.page(1000L + tag, 10000L * tag + i)) ++
      base.zipWithIndex.collect { case (p, i) if i % 5 == tag % 5 =>
        p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + dayMs * tag))
      }

  private def toDf(pages: Seq[WebtextGen.Page]) = {
    import spark.implicits._
    pages.toDF()
  }

  /** Spark jobs started under a job group, counted by a listener. The
    * listener bus delivers events in order, so once a marker job run
    * after `body` is seen, every job `body` ran has been counted. */
  private object Jobs extends SparkListener {
    private val byGroup = new ConcurrentHashMap[String, AtomicInteger]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => byGroup.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet())
    private def count(g: String): Int =
      Option(byGroup.get(g)).map(_.get).getOrElse(0)

    def of(group: String)(body: => Unit): Int = {
      val sc = spark.sparkContext
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      val marker = s"$group-marker"
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000L
      while (count(marker) == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(count(marker) == 1, "listener never saw the marker job")
      count(group)
    }
  }

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(Jobs)
  }

  override protected def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(Jobs)
    super.afterAll()
  }

  private def layout(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.catalogString)

  test("every pinned schema matches the layout its writers put on disk " +
    "(build, append, delete, compaction and rebuild merge)") {
    val root = tmpDir("graft-pinned-")
    IndexBuilder.buildFull(spark, toDf(base), dict, root, cfg, "base")
    IndexBuilder.appendSegment(spark, toDf(batch(1, 30)), dict, root, cfg, "b1")
    IndexBuilder.deleteByPk(spark, root, base.take(3).map(_.url))
    val appended = IndexStore.readLatestSnapshot(spark, root).get
    assert(appended.dead.exists(_.nonEmpty), "the upsert wrote no dead batch")
    val compactRoot = tmpDir("graft-pinned-c-")
    IndexBuilder.buildFull(spark, toDf(base), dict, compactRoot, cfg, "base")
    IndexBuilder.appendSegment(spark, toDf(batch(2, 30)), dict, compactRoot,
      cfg, "b2")
    IndexBuilder.mergeCompact(spark, compactRoot, dict, cfg)
    val mergeRoot = tmpDir("graft-pinned-m-")
    IndexBuilder.buildFull(spark, toDf(base), dict, mergeRoot, cfg, "base")
    IndexBuilder.merge(spark, mergeRoot, dict, cfg)

    def check(path: String, pinned: StructType): Unit =
      assert(layout(spark.read.parquet(path).schema) == layout(pinned), path)
    for (r <- Seq(root, compactRoot, mergeRoot);
         seg <- IndexStore.readLatestSnapshot(spark, r).get.segments) {
      check(IndexStore.docstorePath(r, seg), IndexStore.docstoreSchema)
      check(IndexStore.termStatsPath(r, seg), IndexStore.termStatsSchema)
      check(IndexStore.statsPath(r, seg), IndexStore.statsSchema)
      check(IndexStore.facetsPath(r, seg), IndexStore.facetsSchema)
      check(IndexStore.postingsPath(r, seg), IndexStore.postingsSchema)
    }
    appended.dead.get.foreach(n => check(s"$root/dead/$n", IndexStore.deadIdsSchema))
    appended.tombstones.foreach(n =>
      check(s"$root/tombstones/$n", IndexStore.tombstonesSchema))
  }

  test("an append runs the same number of Spark jobs on a root of 1 " +
    "segment as on a root of 4") {
    val one = tmpDir("graft-jobs-1-")
    val four = tmpDir("graft-jobs-4-")
    IndexBuilder.buildFull(spark, toDf(base), dict, one, cfg, "base")
    IndexBuilder.buildFull(spark, toDf(base), dict, four, cfg, "base")
    (1 to 3).foreach(t =>
      IndexBuilder.appendSegment(spark, toDf(batch(t, 20)), dict, four, cfg, s"b$t"))
    assert(IndexStore.readLatestSnapshot(spark, four).get.segments.size == 4)
    val probe = toDf(batch(4, 20))
    val jobsOne = Jobs.of("append-on-1")(
      IndexBuilder.appendSegment(spark, probe, dict, one, cfg, "probe"))
    val jobsFour = Jobs.of("append-on-4")(
      IndexBuilder.appendSegment(spark, probe, dict, four, cfg, "probe"))
    assert(jobsOne > 0)
    assert(jobsFour == jobsOne,
      s"append ran $jobsOne jobs on 1 segment but $jobsFour on 4")
    // both appends superseded the re-crawled base pages
    for (r <- Seq(one, four))
      assert(IndexStore.readLatestSnapshot(spark, r).get.dead.exists(_.nonEmpty))
  }

  test("an empty-batch append adds the segment, writes no dead batch, " +
    "keeps numDocs and audits clean") {
    val root = tmpDir("graft-empty-append-")
    IndexBuilder.buildFull(spark, toDf(base), dict, root, cfg, "base")
    val before = IndexStore.readLatestSnapshot(spark, root).get
    val numDocs0 = {
      val s = new Searcher(spark, root, dict)
      try s.numDocs finally s.close()
    }
    val report = IndexBuilder.appendSegment(spark, toDf(Seq.empty), dict,
      root, cfg, "empty")
    assert(report.docCount == 0L && report.urlRange.isEmpty)
    val after = IndexStore.readLatestSnapshot(spark, root).get
    assert(after.segments == before.segments :+ report.segment)
    assert(after.dead == Some(Seq.empty))
    assert(!IndexStore.fs(spark, root).exists(new Path(s"$root/dead")),
      "an empty batch must not write a dead-* batch")
    val s = new Searcher(spark, root, dict)
    try assert(s.numDocs == numDocs0 && s.numDocs == base.size.toLong)
    finally s.close()
    assert(IndexCheck.check(spark, root).count() == 0)
  }
}
