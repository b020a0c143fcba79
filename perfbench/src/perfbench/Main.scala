package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.analysis.SynonymDict
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Drives the engine only through its public
  * `graft.*` API and prints every metric it measured, one per line as
  * `perfbench: <name> <value> <unit>`, then one `PERFBENCH_RESULT <json>`
  * line that `perfbench/run.py` turns into the final result.
  *
  * Usage: `Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * --spans FILE --cores C` */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.names.contains(workload),
      s"unknown workload '$workload' (known: ${Workloads.names.mkString(", ")})")
    val cores = arg("cores").toInt
    val work = Paths.get(arg("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the status store would otherwise keep plans of the last 1000 jobs
      // and queries, so the live heap would grow with the request rate
      .config("spark.ui.retainedJobs", 20)
      .config("spark.ui.retainedStages", 20)
      .config("spark.ui.retainedTasks", 1000)
      .config("spark.sql.ui.retainedExecutions", 20)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ok = try {
      val tracer = new Tracer(arg("trace") == "1", spark.sparkContext)
      val probe = new JobProbe(tracer)
      spark.sparkContext.addSparkListener(probe)
      val ctx = new Ctx(spark, tracer, probe, arg("seed").toLong,
        arg("seconds").toDouble, work, cores)
      ctx.put("load_avg_start", Jvm.loadAvg1m, "load")
      Workloads.run(workload, ctx)
      ctx.put("load_avg_end", Jvm.loadAvg1m, "load")
      if (tracer.enabled) {
        val spansPath = Paths.get(arg("spans")).toAbsolutePath
        Files.createDirectories(spansPath.getParent)
        tracer.writeJsonl(spansPath)
      }
      ctx.emit()
      true
    } catch {
      case e: Throwable => e.printStackTrace(); false
    } finally spark.stop()
    // exit explicitly: a stray non-daemon thread must not keep the run alive
    System.exit(if (ok) 0 else 1)
  }
}

/** Per-run state shared by the workloads: the session, the tracer and
  * listener, the seed, every measured value, and the op/failure tally. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val probe: JobProbe, val seed: Long, val seconds: Double,
                val work: Path, val cores: Int) {
  val dict: SynonymDict = {
    val in = getClass.getResourceAsStream("/synonyms.txt")
    try SynonymDict.parse(scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toVector)
    finally in.close()
  }

  private val values = mutable.LinkedHashMap[String, (Double, String)]()
  def put(name: String, v: Double, unit: String): Unit =
    values(name) = (v, unit)
  def get(name: String): Option[Double] = values.get(name).map(_._1)

  private val attemptedN = new java.util.concurrent.atomic.AtomicLong(0)
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Count one attempted operation; a false `ok` counts it as failed. */
  def op(ok: Boolean, what: => String): Unit = {
    attemptedN.incrementAndGet()
    if (!ok) failures.add(what)
  }
  def attempted: Long = attemptedN.get
  def failed: Long = failures.size.toLong

  def dir(name: String): String = work.resolve(name).toString

  private val born = System.nanoTime()
  /** Progress line on stderr (the run log), stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2f s] $msg")

  def emit(): Unit = {
    put("ops_attempted", attempted.toDouble, "count")
    put("ops_failed", failed.toDouble, "count")
    put("ops_failed_ratio", failed.toDouble / math.max(1L, attempted), "ratio")
    values.foreach { case (k, (v, u)) => println(s"perfbench: $k $v $u") }
    failures.forEach(f => println(s"perfbench: FAILED $f"))
    val metrics = values.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
  }
}

object Json {
  def num(v: Double): String =
    if (java.lang.Double.isFinite(v)) java.lang.Double.toString(v) else "null"
}

object Stats {
  /** Linear-interpolated quantile (numpy's default) of unsorted `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** hits / (hits + misses), 0 without lookups. */
  def hitRatio(hits: Long, misses: Long): Double =
    if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses)

  def timeNs[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t0)
  }

  /** Total size of the regular files under a segment directory, by kind
    * (postings / docstore / other). */
  def dirBytes(root: Path): Map[String, Long] = {
    val out = mutable.Map[String, Long]().withDefaultValue(0L)
    if (Files.exists(root)) {
      val it = Files.walk(root).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc")) {
          val kind = root.relativize(p).toString.split('/')(0) match {
            case "postings" => "postings"
            case "docstore" => "docstore"
            case _ => "other"
          }
          out(kind) += Files.size(p)
        }
      }
    }
    out.toMap.withDefaultValue(0L)
  }
}
