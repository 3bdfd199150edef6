package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.TimeSeriesService
import graft.model.Step
import graft.sources.EventSource
import graft.streaming.StreamingIngest

/** `ingest_refresh`: one producer in a closed loop. Each step lands one
  * seeded micro-batch file, lets the file stream feed it to the service
  * (`processAllAvailable`), reads the touched window at once (served by
  * a raw scan: the ingest invalidated the rollups), refreshes the
  * rollups over the touched days and reads the window again (served
  * from the refreshed rollups). Both reads are checked against the
  * events landed so far. History enters through the same stream as
  * batch 0, so stream batch ids and service batch ids never collide. */
object IngestRefresh {
  import Estate._

  val historyEvents = 150000L
  val batchEvents = 20000L
  val maxBatches = 16
  val lateFraction = 0.1
  val lateDays = 3
  val newestDay: Int = days - 1
  val setupReps = 3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // two rollup targets (a counter and a histogram): the refresh cost per
    // target shows without letting the refresh take a whole run
    val facts = rollupFacts.filter(f => f.id == "requests" || f.id == "payload")
    val staging = ctx.dir("staging/batches")
    val tg = System.nanoTime()
    Gen.events(spark, ctx.seed, 0L, historyEvents, facts, Gen.anyDay, partitions = 1)
      .withColumn("batch", lit(0)).drop("id")
      .write.partitionBy("batch").parquet(staging)
    // most events fall in the newest day, a seeded fraction late into
    // the `lateDays` days before it; one range partition per batch
    val late: org.apache.spark.sql.Column => org.apache.spark.sql.Column = u =>
      when(u < lateFraction, lit(newestDay - lateDays) + floor(u / lateFraction * lateDays))
        .otherwise(lit(newestDay))
    Gen.events(spark, ctx.seed, historyEvents, maxBatches * batchEvents, facts, late,
        partitions = maxBatches)
      .withColumn("batch", (floor((col("id") - historyEvents) / batchEvents) + 1).cast("int"))
      .drop("id")
      .write.mode("append").partitionBy("batch").parquet(staging)
    ctx.detail("gen_s") = ctx.elapsedS(tg)

    val te = System.nanoTime()
    // the checked reads cover the requests fact from the earliest late day on
    val agg = Cube.aggregate(spark.read.parquet(staging)
        .where(col("fact") === "requests" && col("ts") >= ts(newestDay - lateDays)),
        Seq("batch"))
      .groupBy(_.getInt(0))
    ctx.detail("expected_s") = ctx.elapsedS(te)
    def file(b: Int) = {
      val d = Paths.get(staging, s"batch=$b")
      val s = Files.list(d)
      try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally s.close()
    }

    var svc: TimeSeriesService = null
    var query: StreamingQuery = null
    var landing = ""
    var store = ""
    var rollups = ""
    for (r <- 1 to setupReps) {
      if (query != null) {
        query.stop(); svc.dropSchema(); Main.deleteTree(rollups)
      }
      landing = ctx.dir(s"landing$r"); store = ctx.dir(s"store$r")
      rollups = ctx.dir(s"rollups$r")
      Files.createDirectories(Paths.get(landing))
      val (s, q) = ctx.timeSetup {
        val s = TimeSeriesService(spark)
        define(s, facts, facts)
        s.attachEventStore(store)
        val tmp = Paths.get(landing, ".history.parquet")
        Files.copy(file(0), tmp)
        Files.move(tmp, Paths.get(landing, "batch-0.parquet"), StandardCopyOption.ATOMIC_MOVE)
        val q = StreamingIngest.foreachBatchInto(EventSource.stream(spark, landing), s)
          .option("checkpointLocation", ctx.dir(s"checkpoint$r"))
          .start()
        q.processAllAvailable()
        s.materializeRollups(rollups)
        (s, q)
      }
      svc = s; query = q
    }

    val cube = new Cube(facts.map(_.id))
    agg(0).foreach(cube.add(_, 1))
    // every batch touches the newest day and the late days before it;
    // both checked reads cover exactly those days
    val loDay = newestDay - lateDays
    val raw = Query("raw", "ts", Seq("requests"), None, loDay, days - loDay, Step.Day)
    val rolled = raw.copy(family = "rollup")
    var landed = historyEvents
    var stepMs = 0.0
    var deadline = Long.MaxValue
    var b = 1
    // batch 1 warms the step (untimed); then steps run until the deadline
    while (b <= maxBatches && System.nanoTime() < deadline) {
      val op = if (b == 1) -1 else b
      agg.getOrElse(b, Array.empty).foreach(cube.add(_, 1))
      if (op >= 0) ctx.ops += op
      val storeBefore = if (ctx.rec.traced) storeStats(store) else (0L, 0L)
      val tiers0 = ctx.tiers(svc)
      var rawMs, rollMs = 0.0
      val t0 = System.nanoTime()
      val result = try {
        Right(ctx.rec.op(op, "step") {
          ctx.rec.span("land") {
            Files.move(file(b), Paths.get(landing, s"batch-$b.parquet"),
              StandardCopyOption.ATOMIC_MOVE)
          }
          ctx.rec.span("stream.process")(query.processAllAvailable())
          val tr = System.nanoTime()
          val rawRows = ctx.rec.span("read.raw") {
            val df = ctx.rec.span("service.call")(raw.run(svc))
            ctx.rec.span("action.collect")(df.collect())
          }
          rawMs = (System.nanoTime() - tr) / 1e6
          ctx.rec.span("rollups.refresh")(
            svc.refreshRollups(rollups, ts(loDay), dayEnd(days)))
          val tl = System.nanoTime()
          val rolledRows = ctx.rec.span("read.rollup") {
            val df = ctx.rec.span("service.call")(rolled.run(svc))
            ctx.rec.span("action.collect")(df.collect())
          }
          rollMs = (System.nanoTime() - tl) / 1e6
          (rawRows, rolledRows)
        })
      } catch { case e: Exception => Left(e.toString) }
      val ms = (System.nanoTime() - t0) / 1e6
      landed += batchEvents
      // both reads are logged in one step: one raw-scan, one rollup tile
      val delta = ctx.tierDelta(tiers0, ctx.tiers(svc))
      val count: (String, Double) => Unit = (k, v) => if (op >= 0) ctx.rec.count(op, k, v)
      val problems = result match {
        case Left(err) => Seq(s"failed: $err")
        case Right((rawRows, rolledRows)) =>
          val split = delta.partition(_._1 == "raw-scan")
          Checks.read(raw, cube, Right(rawRows), split._1, count).map(p => s"raw read: $p") ++
            Checks.read(rolled, cube, Right(rolledRows), split._2, count)
              .map(p => s"rollup read: $p")
      }
      if (op >= 0) {
        stepMs += ms
        if (ctx.rec.traced) {
          val (bytes, files) = storeStats(store)
          count("eventstore.bytes_written", (bytes - storeBefore._1).toDouble)
          count("eventstore.files_written", (files - storeBefore._2).toDouble)
          count("eventstore.events_landed", batchEvents.toDouble)
        }
        ctx.samples ++= Seq(Sample(op, "step", ms), Sample(op, "read.raw", rawMs),
          Sample(op, "read.rollup", rollMs))
        ctx.outcome(op, problems)
      } else if (problems.nonEmpty)
        throw new IllegalStateException(s"warm-up step: ${problems.mkString("; ")}")
      else deadline = System.nanoTime() + ctx.seconds * 1000000000L
      b += 1
    }
    query.stop()
    ctx.detail("batches_exhausted") = b > maxBatches
    ctx.detail("events") = landed
    ctx.detail("batch_events") = batchEvents
    ctx.detail("ingest_events_per_s") = (landed - historyEvents - batchEvents) / (stepMs / 1000)
    ctx.detail("stored_bytes") = Main.dirBytes(store) + Main.dirBytes(rollups)
  }

  /** (bytes, data files) under the event store. */
  private def storeStats(dir: String): (Long, Long) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val files = s.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      (files.map(Files.size(_)).sum, files.length.toLong)
    } finally s.close()
  }
}
