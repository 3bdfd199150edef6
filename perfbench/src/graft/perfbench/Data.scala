package graft.perfbench

import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.TimeSeriesService
import graft.model.{FactType, Step}

/** The synthetic metrics estate both workloads serve: counter, average
  * and histogram facts, a group-only `region` dimension and a `host`
  * dimension grouped under it (one rollup target per fact),
  * Zipf-skewed series popularity, events spread over `days` UTC days
  * starting on a Sunday (so week-step reads align). */
object Estate {
  val regions = 8
  val hostsPerRegion = 16
  val series: Int = regions * hostsPerRegion
  val days = 28
  /** Day 0 = 2024-01-07, a Sunday: week buckets start on Sundays. */
  val day0: LocalDate = LocalDate.of(2024, 1, 7)
  val day0Sec: Long = day0.atStartOfDay(ZoneOffset.UTC).toEpochSecond
  val hours: Int = days * 24
  val sliceMinutes = 15

  final case class Fact(id: String, ftype: FactType)
  /** Facts with materialized rollups (served from a rollup tier). */
  val rollupFacts = Seq(Fact("requests", FactType.Counter),
    Fact("latency", FactType.Average), Fact("payload", FactType.Histogram))
  /** Facts tracked only after materialization (served by raw scans). */
  val rawFacts = Seq(Fact("errors", FactType.Counter),
    Fact("cpu", FactType.Average), Fact("size", FactType.Histogram))
  val histLo = 0L
  val histHi = 1000L
  val histStep = 100L
  val histBuckets: Int = ((histHi - histLo) / histStep).toInt

  def regionName(r: Int): String = f"r$r%d"
  def hostName(s: Int): String = f"r${s % regions}%d-h${s / regions}%02d"
  def regionOf(s: Int): Int = s % regions
  val hostIndex: Map[String, Int] = (0 until series).map(s => hostName(s) -> s).toMap

  def ts(day: Int, hour: Int = 0, minute: Int = 0): Timestamp =
    new Timestamp((day0Sec + day * 86400L + hour * 3600L + minute * 60L) * 1000L)
  /** Exclusive end of day `day` expressed as the engine's inclusive
    * bucketed finish: the last slice of the previous day. */
  def dayEnd(dayExcl: Int): Timestamp = ts(dayExcl, 0, -sliceMinutes)

  /** Define `facts`; `host` tracks the `tracked` ones. */
  def define(svc: TimeSeriesService, facts: Seq[Fact], tracked: Seq[Fact]): Unit = {
    facts.foreach { f =>
      if (f.ftype == FactType.Histogram)
        svc.defineFact(f.id, f.ftype, slice = sliceMinutes, start = Some(histLo),
          end = Some(histHi), step = Some(histStep))
      else svc.defineFact(f.id, f.ftype, slice = sliceMinutes)
    }
    svc.defineDimension("region", groupOnly = true)
    svc.defineDimension("host", groupedBy = Seq(Seq("region")),
      facts = tracked.map(_.id).toSet)
  }

  /** Track `facts` on `host` after materialization: no rollup exists
    * for them, so their reads route to `raw-scan`. */
  def trackRaw(svc: TimeSeriesService, facts: Seq[Fact]): Unit =
    facts.foreach(f => svc.updateDimension("host", f.id))

  def factType(id: String): FactType =
    (rollupFacts ++ rawFacts).find(_.id == id).get.ftype
}

/** Seeded event generation as Spark columns over `spark.range`: every
  * value is a hash of (row id, seed, salt), so the rows depend on the
  * seed only, not on partitioning. */
object Gen {
  import Estate._

  private def uniform(seed: Long, salt: Int): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1L << 53))
      .cast("double") / lit((1L << 53).toDouble)

  /** `n` events with ids from `idLo` (kept as column `id`), facts drawn
    * uniformly from `facts`, over the days drawn by `day` (a column of
    * day indexes). */
  def events(spark: SparkSession, seed: Long, idLo: Long, n: Long,
      facts: Seq[Fact], day: Column => Column,
      partitions: Int = 0): DataFrame = {
    val factIds = facts.map(_.id)
    val kinds = facts.map(f => f.ftype match {
      case FactType.Counter => 0
      case FactType.Average => 1
      case _ => 2
    })
    val fIdx = floor(uniform(seed, 1) * facts.size).cast("int")
    // Zipf (s = 1) over series ids by the log-uniform inverse CDF:
    // P(s = k) = ln((k + 2) / (k + 1)) / ln(series + 1); series s
    // belongs to region s % regions
    val s = floor(exp(uniform(seed, 2) * math.log(series + 1.0))).cast("int") - 1
    val region = concat(lit("r"), (s % regions).cast("string"))
    val host = concat(region, lit("-h"), lpad((s / regions).cast("int").cast("string"), 2, "0"))
    val kind = element_at(typedlit(kinds), fIdx + 1)
    val u = uniform(seed, 4)
    val value = when(kind === 0, floor(u * 10) + 1)
      .when(kind === 1, floor(u * 500) + 1)
      .otherwise(floor(u * 1200))
    val sec = day(uniform(seed, 5)).cast("long") * 86400L +
      floor(uniform(seed, 6) * 86400).cast("long")
    spark.range(idLo, idLo + n, 1,
        if (partitions > 0) partitions else spark.sparkContext.defaultParallelism)
      .select(col("id"),
        element_at(typedlit(factIds), fIdx + 1).as("fact"),
        timestamp_seconds(lit(day0Sec) + sec).as("ts"),
        value.cast("long").as("value"),
        map(lit("region"), region, lit("host"), host).as("categories"))
  }

  /** Days drawn uniformly from [0, days). */
  def anyDay(u: Column): Column = floor(u * days)
}

/** Expected answers, from a plain Spark aggregation of the generated
  * events per (fact, series, hour [, histogram bucket]) collected into
  * dense driver arrays. Never touches engine code. */
final class Cube(facts: Seq[String]) {
  import Estate._
  private val fIndex = facts.zipWithIndex.toMap
  private val cnt = Array.ofDim[Long](facts.size, series, hours)
  private val sum = Array.ofDim[Long](facts.size, series, hours)
  private val hist = facts.map(f =>
    if (factType(f) == FactType.Histogram) Array.ofDim[Long](series, hours, histBuckets)
    else null).toArray

  def load(events: DataFrame): Unit = Cube.aggregate(events, Seq.empty).foreach(add(_, 0))

  /** Add one [[Cube.aggregate]] row whose cube columns start at `at`. */
  def add(r: Row, at: Int): Unit = {
    val f = fIndex(r.getString(at)); val s = hostIndex(r.getString(at + 1))
    val h = r.getInt(at + 2); val b = r.getInt(at + 3)
    cnt(f)(s)(h) += r.getLong(at + 4); sum(f)(s)(h) += r.getLong(at + 5)
    if (b >= 0) hist(f)(s)(h)(b) += r.getLong(at + 4)
  }

  /** The same read evaluated on the cube: grid rows and per-series
    * value sums (`total` for averages, bucket counts for histograms). */
  def expect(q: Query): Expected = {
    val h0 = q.startDay * 24
    val h1 = (q.startDay + q.days) * 24
    val grid: Set[Int] = q.step match {
      case Step.Hour => (h0 until h1).toSet
      case Step.Day => (q.startDay until q.startDay + q.days).map(_ * 24).toSet
      case Step.Week => (q.startDay until q.startDay + q.days by 7).map(_ * 24).toSet
      case _ => Set.empty
    }
    // bucket of an hour under the step (−1 = the NoStep `:all` bucket);
    // week buckets are the reference's Sunday-before-Monday floor
    def bucket(h: Int): Int = q.step match {
      case Step.Hour => h
      case Step.Day => h / 24 * 24
      case Step.Week =>
        val d = h / 24
        val dow = java.time.DayOfWeek.from(day0.plusDays(d.toLong)).getValue
        (d - dow) * 24
      case _ => -1
    }
    var rows = 0L
    var fillRows = 0L
    val sums = scala.collection.mutable.Map.empty[String, Long]
    // every read routes to the (region, host) grouping: one series per host
    for (fid <- q.facts; s <- 0 until series if q.admits(s)) {
      val f = fIndex(fid)
      val key = s"${regionName(regionOf(s))}|${hostName(s)}"
      val k = if (q.api == "multi") s"$fid|$key" else key
      if (factType(fid) == FactType.Histogram) {
        // no fill: one row per populated (bucket, histogram bucket) cell
        val cells = scala.collection.mutable.Set.empty[(Int, Int)]
        var total = 0L
        for (h <- h0 until h1; b <- 0 until histBuckets if hist(f)(s)(h)(b) > 0) {
          cells += ((bucket(h), b)); total += hist(f)(s)(h)(b)
        }
        if (cells.nonEmpty) { rows += cells.size; sums(k) = total }
      } else {
        // a series present anywhere in the scan window gets the whole
        // grid; buckets off the grid (a week floor before the start)
        // are dropped by the fill
        var present = false
        var total = 0L
        val hit = scala.collection.mutable.Set.empty[Int]
        for (h <- h0 until h1 if cnt(f)(s)(h) > 0) {
          present = true
          val bk = bucket(h)
          if (q.step == Step.NoStep || grid.contains(bk)) {
            total += sum(f)(s)(h); hit += bk
          }
        }
        if (present) {
          sums(k) = total
          if (q.step == Step.NoStep) rows += 1
          else { rows += grid.size; fillRows += grid.size - hit.size }
        }
      }
    }
    Expected(rows, sums.toMap, fillRows)
  }
}

object Cube {
  import Estate._

  /** Events counted and summed per (`keys`…, fact, host, hour,
    * histogram bucket or −1), collected to the driver. */
  def aggregate(events: DataFrame, keys: Seq[String]): Array[Row] = {
    val hb = least(greatest(floor((col("value") - histLo) / histStep), lit(0L)),
      lit(histBuckets - 1L))
    val isHist = col("fact").isin((rollupFacts ++ rawFacts)
      .filter(_.ftype == FactType.Histogram).map(_.id): _*)
    events
      .select(keys.map(col) ++ Seq(col("fact"),
        col("categories").getItem("host").as("host"),
        ((unix_timestamp(col("ts")) - day0Sec) / 3600).cast("int").as("h"),
        when(isHist, hb).otherwise(lit(-1L)).cast("int").as("b"),
        col("value")): _*)
      .groupBy((keys ++ Seq("fact", "host", "h", "b")).map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .collect()
  }
}

/** What a checked read must return: grid row count, per-series sums and
  * how many of the grid rows are zero-fill. */
final case class Expected(rows: Long, sums: Map[String, Long], fillRows: Long)

/** One dashboard read. `family` is `rollup` or `raw`; `api` one of
  * `ts` (getTimeseries), `multi` (getTimeseriesMulti) and `hist`
  * (getHistogram). `filter` None is the nil (all-series) filter on
  * `region`. */
final case class Query(family: String, api: String, facts: Seq[String],
    filter: Option[(String, String)], startDay: Int, days: Int, step: Step) {
  import Estate._
  def filters: Map[String, Option[String]] = filter match {
    case Some((k, v)) => Map(k -> Some(v))
    case None => Map("region" -> None)
  }
  def admits(s: Int): Boolean = filter match {
    case Some(("region", v)) => regionName(regionOf(s)) == v
    case Some(("host", v)) => hostName(s) == v
    case _ => true
  }
  /** The mix stratum: api and window kind. */
  def shape: String = s"$api.${if (step == Step.Hour) "narrow" else "wide"}"
  def start: Timestamp = ts(startDay)
  def finish: Timestamp = dayEnd(startDay + days)
  def label: String =
    s"$family/$api ${facts.mkString("+")} ${filter.getOrElse("nil")} " +
      s"days $startDay+$days step ${step.name}"

  def run(svc: TimeSeriesService): org.apache.spark.sql.DataFrame = api match {
    case "ts" => svc.getTimeseries(facts.head, "host", filters, start, finish, step)
    case "multi" => svc.getTimeseriesMulti(facts, "host", filters, start, finish, step)
    case "hist" => svc.getHistogram(facts.head, "host", filters, start, finish, step)
  }

  /** Row count and per-series sums of a collected result. */
  def observe(rows: Array[Row]): (Long, Map[String, Long]) = {
    val sums = scala.collection.mutable.Map.empty[String, Long]
    rows.foreach { r =>
      val key = s"${r.getAs[String]("region")}|${r.getAs[String]("host")}"
      val fid = if (api == "multi") r.getAs[String]("fact") else facts.head
      val k = if (api == "multi") s"$fid|$key" else key
      val v = factType(fid) match {
        case FactType.Average => r.getAs[Long]("total")
        case _ => r.getAs[Long]("value")
      }
      sums(k) = sums.getOrElse(k, 0L) + v
    }
    (rows.length.toLong, sums.toMap)
  }
}

object Query {
  import Estate._

  /** The dashboard mix, in rounds of twelve reads: each api (`ts`,
    * `multi`, `hist`) × each window kind — an hour-step 1-day window
    * (slice tier) or a midnight-aligned 7–28-day day- or week-step window
    * (day tier) — × each family (rollup, raw), interleaved so that any
    * prefix of a round reads both families and both window kinds about
    * equally: a run cut by its deadline keeps the proportions. What a
    * read costs cycles the same way for every seed (counter or average,
    * day or week step, a 7/14/21/28-day wide window, a nil/region/host
    * filter in the ratio 3:2:1), so runs of any seed read the same
    * sequence of shapes; the seed draws the window positions and which
    * region or host is read. */
  def mix(seed: Long, rounds: Int): Seq[Query] = {
    val rnd = new scala.util.Random(seed * 7919L + 17L)
    val shapes = for {
      _ <- 1 to rounds; api <- Seq("ts", "multi", "hist"); wide <- Seq(false, true)
      family <- Seq("rollup", "raw")
    } yield (family, api, wide)
    val seen = scala.collection.mutable.Map.empty[(String, String, Boolean), Int]
    shapes.map { case key @ (family, api, wide) =>
      val i = seen.getOrElse(key, 0)
      seen(key) = i + 1
      val facts = if (family == "rollup") rollupFacts else rawFacts
      val chosen = api match {
        case "ts" => Seq(facts(i % 2).id) // counter, then average
        case "multi" => Seq(facts(0).id, facts(1).id)
        case _ => Seq(facts(2).id)
      }
      val filter = Seq(0, 1, 0, 2, 0, 1)(i % 6) match {
        case 0 => None
        case 1 => Some("region" -> regionName(rnd.nextInt(regions)))
        case _ => Some("host" -> hostName(rnd.nextInt(series)))
      }
      val weeks = 1 + (i / 2) % 4
      val (startDay, len, step) =
        if (!wide) (rnd.nextInt(days), 1, Step.Hour)
        else if (api != "hist" && i % 2 == 1)
          (7 * rnd.nextInt(days / 7 - weeks + 1), 7 * weeks, Step.Week)
        else (rnd.nextInt(days - 7 * weeks + 1), 7 * weeks, Step.Day)
      Query(family, api, chosen, filter, startDay, len, step)
    }
  }
}
