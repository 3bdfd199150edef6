package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}

import graft.TimeSeriesService

/** One timed operation: `kind` names its family (`read.rollup`,
  * `read.raw`, `step`), `shape` the stratum it was drawn from. */
final case class Sample(op: Int, kind: String, ms: Double, shape: String = "")

/** State shared by a workload run: the session, the recorder, the run
  * directory and everything the raw result file reports. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long,
    val seconds: Int, val work: Path) {
  val samples = ArrayBuffer.empty[Sample]
  val ops = ArrayBuffer.empty[Int]
  val detail = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val setupRepsS = ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** Record the outcome of one attempted op (after its checks ran). */
  def outcome(op: Int, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      if (failures.size < 20) failures += s"op $op: ${problems.mkString("; ")}"
    }
  }

  /** The service's read log as a map (fact, grouping, tier) → reads. */
  def tiers(svc: TimeSeriesService): Map[(String, String, String), Long] =
    svc.workloadProfile().collect().map { r: Row =>
      (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)
    }.toMap

  /** Reads added between two read-log snapshots, by tier. */
  def tierDelta(before: Map[(String, String, String), Long],
      after: Map[(String, String, String), Long]): Map[String, Long] =
    after.toSeq.map { case (k, n) => k._3 -> (n - before.getOrElse(k, 0L)) }
      .filter(_._2 > 0).groupMapReduce(_._1)(_._2)(_ + _)

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Median of the set-up repetitions' durations, each in seconds. */
  def timeSetup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    setupRepsS += elapsedS(t0)
    out
  }
}

object Main {
  /** Fixed single-thread CPU probe (xorshift fold), in milliseconds: on
    * an idle host it is stable to a few percent, and competing load
    * inflates it, so a contended run can be told from a slow one. */
  def cpuProbeMs(): Double = {
    var x = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < (1 << 26)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e6
    if (x == 42L) System.err.println("")
    dt
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Heap still in use after a full collection, in bytes: what the
    * engine (and the harness's expected-answer arrays) retain. */
  def liveHeapBytes(): Long = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Peak resident set size of this JVM (VmHWM), in KiB. */
  def peakRssKb(): Long = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toInt
    val traced = kv("trace") == "1"
    val out = Paths.get(kv("out"))
    val work = Paths.get(kv("work"))

    val host = scala.collection.mutable.LinkedHashMap[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "load1_start" -> loadAvg(), "cpu_probe_ms_start" -> cpuProbeMs())
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    host ++= Seq("master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "session_tz" -> spark.conf.get("spark.sql.session.timeZone"))
    val rec = new Recorder(spark, traced)
    val ctx = new Ctx(spark, rec, seed, seconds, work)
    ctx.detail("spark_start_s") = ctx.elapsedS(t0)

    workload match {
      case "dashboard" => Dashboard.run(ctx)
      case "ingest_refresh" => IngestRefresh.run(ctx)
      case other =>
        System.err.println(s"unknown workload: $other"); sys.exit(2)
    }
    rec.close()
    ctx.detail("live_heap_bytes") = liveHeapBytes()
    host ++= Seq("load1_end" -> loadAvg(), "cpu_probe_ms_end" -> cpuProbeMs())

    val opRecords = if (!traced) Seq.empty else ctx.ops.map { op =>
      Map("op" -> op, "counters" -> rec.countersOf(op),
        "jobs" -> rec.jobIntervalsOf(op).map { case (a, b) => Seq(a, b) })
    }
    val raw = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "host" -> host, "detail" -> ctx.detail,
      "setup_reps_s" -> ctx.setupRepsS,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures,
      "samples" -> ctx.samples.map(s => Map("op" -> s.op, "kind" -> s.kind, "ms" -> s.ms,
        "shape" -> s.shape)),
      "ops" -> opRecords,
      "spans" -> rec.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs)))
    spark.stop()
    val withRss = raw + ("peak_rss_kb" -> peakRssKb())
    Files.write(out, new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsBytes(withRss))
  }
}
