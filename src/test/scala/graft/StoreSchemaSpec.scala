package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, to_date}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.functions.TimeKernel.ts
import graft.model.{Event, FactType, Step}

/** The service opens the stores it writes with their declared schemas:
  * the declarations match what parquet inference finds on disk, a read
  * builds without launching a Spark job, a store with no data yet reads
  * as empty, every write lands in the declared shape, and a restart
  * over a store of another shape fails loudly. */
class StoreSchemaSpec extends SparkTestBase {
  import spark.implicits._

  private val rolled = Seq("reqs", "lat", "pay", "uniq")
  private val raw = Seq("errs", "cpu", "size")

  /** Facts of all four types on `host` (grouped by the group-only
    * `region`), so each fact has one rollup target. With
    * `trackRaw = false` the raw family is defined but not yet tracked:
    * [[trackRawFamily]] after materializing leaves it on raw scans. */
  private def service(trackRaw: Boolean = true): TimeSeriesService = {
    val svc = new TimeSeriesService(spark)
    def hist(id: String) = svc.defineFact(id, FactType.Histogram, slice = 15,
      start = Some(0L), end = Some(1000L), step = Some(100L))
    svc.defineFact("reqs", FactType.Counter, slice = 15)
    svc.defineFact("lat", FactType.Average, slice = 15)
    hist("pay")
    svc.defineFact("uniq", FactType.Distinct, slice = 15)
    svc.defineFact("errs", FactType.Counter, slice = 15)
    svc.defineFact("cpu", FactType.Average, slice = 15)
    hist("size")
    svc.defineDimension("region", groupOnly = true)
    svc.defineDimension("host", groupedBy = Seq(Seq("region")),
      facts = (if (trackRaw) rolled ++ raw else rolled).toSet)
    svc
  }

  private def trackRawFamily(svc: TimeSeriesService): Unit =
    raw.foreach(svc.updateDimension("host", _))

  /** `n` events per fact on 2024-01-`day`, over 4 hosts in 2 regions. */
  private def events(day: Int, n: Int, shift: Long = 0L): DataFrame =
    (0 until n).flatMap { i =>
      val at = ts(f"2024-01-$day%02dT${i % 24}%02d:${i * 7 % 60}%02d")
      val cats = Map("region" -> s"r${i % 2}", "host" -> s"h${i % 4}")
      (rolled ++ raw).map(f => Event(f, at, (i * 37L + shift) % 1200L, cats))
    }.toDF()

  private def withTmp(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-store-schema")
    try body(dir.toString)
    finally {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }

  private def columns(s: StructType): Seq[(String, DataType)] =
    s.fields.toSeq.map(f => (f.name, f.dataType))

  /** Spark jobs `body` launches. The jobs run under a fresh job group;
    * a sentinel job follows `body`, and the listener bus delivers job
    * starts in order, so every group job before the sentinel has been
    * seen once the sentinel has. */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"store-schema-${java.util.UUID.randomUUID()}"
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        Option(s.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => starts.put(
            Option(p.getProperty("spark.job.description")).getOrElse("")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "body")
    try {
      body
      sc.setJobDescription("sentinel")
      sc.parallelize(Seq(1), 1).count()
      var n = 0
      var d = starts.poll(60, TimeUnit.SECONDS)
      while (d != null && d != "sentinel") {
        n += 1
        d = starts.poll(60, TimeUnit.SECONDS)
      }
      assert(d == "sentinel", "the listener never saw the sentinel job")
      n
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("declared store schemas equal the inferred ones: event store and " +
      "every tier of all four fact types, through materialize, refresh, " +
      "applyAdvice and compaction") {
    withTmp { tmp =>
      val svc = service()
      svc.attachEventStore(s"$tmp/events")
      svc.ingest(events(7, 48), batchId = 0L)
      svc.ingest(events(8, 48), batchId = 1L)
      def check(stage: String, stores: Int): Unit = {
        val declared = svc.declaredStoreSchemas
        assert(declared.size == stores, s"$stage: ${declared.map(_._1)}")
        declared.foreach { case (dir, schema) =>
          assert(columns(schema) == columns(spark.read.parquet(dir).schema),
            s"$stage: $dir")
        }
      }
      // the event store, then slice + day tier of each of the 7 facts
      val all = 1 + 2 * (rolled ++ raw).size
      check("ingest", 1)
      svc.materializeRollups(s"$tmp/rollups")
      check("materializeRollups", all)
      val paths = svc.declaredStoreSchemas.map(_._1)
      (rolled ++ raw).foreach { f =>
        assert(paths.contains(s"$tmp/rollups/region_host_$f"))
        assert(paths.contains(s"$tmp/rollups/region_host_${f}__day"))
      }
      svc.ingest(events(9, 48), batchId = 2L)
      check("ingest invalidates the rollups", 1)
      svc.refreshRollups(s"$tmp/rollups", ts("2024-01-09T00:00"),
        ts("2024-01-09T23:45"))
      check("refreshRollups", all)
      svc.ingest(events(9, 8, shift = 5L), batchId = 3L)
      svc.applyAdvice(s"$tmp/advised", minCompactionE4 = 0L)
      check("applyAdvice", all)
      svc.compactEventStore(s"$tmp/compacted")
      check("compactEventStore", 1)
      svc.materializeRollups(s"$tmp/rollups2")
      check("materializeRollups after compaction", all)
    }
  }

  test("building a read launches no Spark job on the raw-scan, " +
      "rollup-slice and rollup-day tiers") {
    withTmp { tmp =>
      val svc = service(trackRaw = false)
      svc.attachEventStore(s"$tmp/events")
      Seq(7, 8, 9).foreach(d => svc.ingest(events(d, 48), batchId = d.toLong))
      svc.materializeRollups(s"$tmp/rollups")
      trackRawFamily(svc)
      val hosts = Map("host" -> Option.empty[String])
      val hourly = (ts("2024-01-08T00:00"), ts("2024-01-08T12:00"), Step.Hour)
      val daily = (ts("2024-01-07T00:00"), ts("2024-01-09T23:45"), Step.Day)
      Seq(("raw-scan", raw, hourly), ("raw-scan", raw, daily),
          ("rollup-slice", rolled, hourly), ("rollup-day", rolled, daily))
        .foreach { case (tier, facts, (start, finish, step)) =>
          val Seq(counter, average, histogram) = facts.take(3)
          val served = svc.explainRoute(facts.take(3), "host", hosts,
            start, finish, step).collect().map(_.getString(2)).toSet
          assert(served == Set(tier), s"$tier window routes to $served")
          var frames = Seq.empty[DataFrame]
          val jobs = jobsLaunchedBy {
            frames = Seq(
              svc.getTimeseries(counter, "host", hosts, start, finish, step),
              svc.getTimeseriesMulti(Seq(counter, average), "host", hosts,
                start, finish, step),
              svc.getHistogram(histogram, "host", hosts, start, finish, step))
          }
          assert(jobs == 0, s"$tier $step: building the reads ran $jobs job(s)")
          frames.foreach(f => assert(f.collect().nonEmpty, s"$tier $step"))
        }
    }
  }

  test("reading before the first ingest returns the normal empty result") {
    withTmp { tmp =>
      val attached = service()
      attached.attachEventStore(s"$tmp/events")
      val bare = service()
      val (start, finish) = (ts("2024-01-07T00:00"), ts("2024-01-08T00:00"))
      val hosts = Map("host" -> Option.empty[String])
      def reads(s: TimeSeriesService): Seq[DataFrame] = Seq(
        s.getTimeseries("reqs", "host", hosts, start, finish, Step.Hour),
        s.getTimeseriesMulti(Seq("reqs", "lat"), "host", hosts, start,
          finish, Step.Day),
        s.getHistogram("pay", "host", hosts, start, finish),
        s.getSliceSeries("uniq", "host", hosts, start, finish))
      reads(attached).zip(reads(bare)).foreach { case (got, want) =>
        assert(got.columns.toSeq == want.columns.toSeq)
        assert(got.collect().isEmpty && want.collect().isEmpty)
      }
      assert(attached.eventsDF.count() == 0L)
      assert(attached.eventsAsOf(10L).count() == 0L)
    }
  }

  test("an ingest with an extra column and an INT value reads back " +
      "correctly, from the store and pooled in memory") {
    withTmp { tmp =>
      val cats = Map("region" -> "r0", "host" -> "h0")
      val odd = Seq(("reqs", ts("2024-01-07T10:05"), 3, cats, "junk"),
          ("reqs", ts("2024-01-07T11:05"), 5, cats, "more"))
        .toDF("fact", "ts", "value", "categories", "extra")
      val canonical =
        Seq(Event("reqs", ts("2024-01-07T10:20"), 4L, cats)).toDF()
      Seq(Some(s"$tmp/events"), None).foreach { store =>
        val svc = service()
        store.foreach(svc.attachEventStore(_))
        svc.ingest(odd)
        svc.ingest(canonical)
        assert(svc.eventsDF.columns.toSeq ==
          Seq("fact", "ts", "value", "categories", "__event_date"))
        val got = svc.getTimeseries("reqs", "host", Map("host" -> None),
            ts("2024-01-07T00:00"), ts("2024-01-07T23:45"), Step.Hour)
          .where(col("value") =!= 0L)
          .collect().map(r => (r.getAs[Timestamp]("bucket"),
            r.getAs[Long]("value"))).toSet
        assert(got == Set((ts("2024-01-07T10:00"), 7L),
          (ts("2024-01-07T11:00"), 5L)), s"store = $store")
      }
    }
  }

  test("restart over a store of another shape fails loudly, naming the " +
      "store, before taking its lease") {
    withTmp { tmp =>
      def write(df: DataFrame, dir: String, part: String): Unit =
        df.write.mode("overwrite").partitionBy(part).parquet(dir)
      val at = ts("2024-01-07T10:05")
      val cats = Map("region" -> "r0", "host" -> "h0")
      // an event store whose value column another build wrote as STRING
      val retyped = s"$tmp/retyped"
      write(Seq(("reqs", at, "3", cats)).toDF("fact", "ts", "value",
          "categories").withColumn("__event_date", to_date(col("ts"))),
        s"$retyped/__batch_id=b0", "__event_date")
      val e1 = intercept[IllegalStateException](
        service().attachEventStore(retyped, takeover = true))
      assert(e1.getMessage.contains(s"event store at $retyped"))
      assert(e1.getMessage.contains("column value is STRING, declared BIGINT"))
      assert(!new java.io.File(retyped, "__writer.lock").exists())
      // an event store missing the categories column
      val partial = s"$tmp/partial"
      write(Seq(("reqs", at, 3L)).toDF("fact", "ts", "value")
          .withColumn("__event_date", to_date(col("ts"))),
        s"$partial/__batch_id=b0", "__event_date")
      val e2 = intercept[IllegalStateException](
        service().attachEventStore(partial, takeover = true))
      assert(e2.getMessage.contains("column categories is missing"))
      // a rollup slice store rewritten without its measure column
      val svc = service()
      svc.ingest(events(7, 24))
      svc.materializeRollups(s"$tmp/rollups")
      write(Seq(("r0", "h0", at)).toDF("region", "host", "bucket")
          .withColumn("bucket_date", to_date(col("bucket"))),
        s"$tmp/rollups/region_host_reqs", "bucket_date")
      val e3 = intercept[IllegalStateException](
        new TimeSeriesService(spark, svc.catalog)
          .attachRollups(s"$tmp/rollups"))
      assert(e3.getMessage.contains("rollup store of (reqs, region,host)"))
      assert(e3.getMessage.contains("column value is missing"))
      // intact stores of every fact type pass the check and serve what
      // their writer served
      svc.materializeRollups(s"$tmp/intact")
      val restarted = new TimeSeriesService(spark, svc.catalog)
      assert(restarted.attachRollups(s"$tmp/intact").size ==
        (rolled ++ raw).size)
      def daily(s: TimeSeriesService, f: String) = s.getTimeseries(f,
          "host", Map("host" -> None), ts("2024-01-07T00:00"),
          ts("2024-01-07T23:45"), Step.Day).collect().toSet
      Seq("reqs", "lat", "uniq").foreach { f =>
        assert(daily(restarted, f).nonEmpty)
        assert(daily(restarted, f) == daily(svc, f), f)
      }
    }
  }
}
