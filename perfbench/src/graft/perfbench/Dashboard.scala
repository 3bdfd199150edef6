package graft.perfbench

import graft.TimeSeriesService

/** `dashboard`: one client in a closed loop reading routed, collapsed,
  * zero-filled series. Half the reads hit facts with materialized
  * rollups (`read.rollup`, served from the slice or day tier), half hit
  * facts tracked after materialization (`read.raw`, served by raw
  * scans of the event store). */
object Dashboard {
  import Estate._

  val historyEvents = 100000L
  val setupReps = 3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val facts = rollupFacts ++ rawFacts
    // generation is lazy: each set-up repetition computes the same
    // seeded rows inside its ingest
    val events = Gen.events(spark, ctx.seed, 0L, historyEvents, facts, Gen.anyDay).drop("id")
    ctx.detail("events") = historyEvents

    val te = System.nanoTime()
    val cube = new Cube(facts.map(_.id))
    cube.load(events)
    ctx.detail("expected_s") = ctx.elapsedS(te)

    // set up several times from the same seeded events; serve from the last
    var svc: TimeSeriesService = null
    for (r <- 1 to setupReps) {
      if (svc != null) {
        svc.dropSchema()
        Main.deleteTree(ctx.dir(s"rollups${r - 1}"))
      }
      svc = ctx.timeSetup {
        val s = TimeSeriesService(spark)
        define(s, facts, rollupFacts)
        s.attachEventStore(ctx.dir(s"store$r"))
        s.ingest(events)
        s.materializeRollups(ctx.dir(s"rollups$r"))
        trackRaw(s, rawFacts)
        s
      }
    }
    ctx.detail("stored_bytes") =
      Main.dirBytes(ctx.dir(s"store$setupReps")) + Main.dirBytes(ctx.dir(s"rollups$setupReps"))

    // warm JIT and codegen on one round (every shape) of a mix of its own
    Query.mix(ctx.seed + 1, 1).foreach(q => read(ctx, svc, cube, -1, q))

    val mix = Query.mix(ctx.seed, 1000)
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline) {
      ctx.ops += i
      read(ctx, svc, cube, i, mix(i))
      i += 1
    }
  }

  /** One checked read; `op` < 0 marks a warm-up read (not recorded). */
  private def read(ctx: Ctx, svc: TimeSeriesService, cube: Cube, op: Int,
      q: Query): Unit = {
    val before = ctx.tiers(svc)
    val t0 = System.nanoTime()
    val result = try {
      Right(ctx.rec.op(op, "read") {
        val df = ctx.rec.span("service.call")(q.run(svc))
        ctx.rec.span("action.collect")(df.collect())
      })
    } catch { case e: Exception => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    val problems = Checks.read(q, cube, result, ctx.tierDelta(before, ctx.tiers(svc)),
      (k, v) => if (op >= 0) ctx.rec.count(op, k, v))
    if (op >= 0) {
      ctx.samples += Sample(op, s"read.${q.family}", ms, q.shape)
      ctx.outcome(op, problems.map(p => s"${q.label}: $p"))
    } else if (problems.nonEmpty)
      throw new IllegalStateException(s"warm-up read ${q.label}: ${problems.mkString("; ")}")
  }
}

/** Answer and tier checks shared by both workloads. */
object Checks {
  /** Problems with one read: exception, grid row count, per-series
    * sums, and the tier the service's read log says served it. */
  def read(q: Query, cube: Cube,
      result: Either[String, Array[org.apache.spark.sql.Row]],
      tierDelta: Map[String, Long], count: (String, Double) => Unit): Seq[String] =
    result match {
      case Left(err) => Seq(s"failed: $err")
      case Right(rows) =>
        val exp = cube.expect(q)
        val (n, sums) = q.observe(rows)
        count("service.rows_returned", n.toDouble)
        count("operators.fill_rows", exp.fillRows.toDouble)
        tierDelta.foreach { case (t, k) =>
          count(s"service.tier_reads@${q.family}@$t", k.toDouble)
        }
        count(s"service.fact_reads@${q.family}", q.facts.size.toDouble)
        answer(exp, n, sums) ++ tier(q.family, q.facts.size, tierDelta)
    }

  def answer(exp: Expected, rows: Long, sums: Map[String, Long]): Seq[String] = {
    val p = Seq.newBuilder[String]
    if (rows != exp.rows) p += s"rows $rows != expected ${exp.rows}"
    if (sums != exp.sums) {
      val bad = (sums.keySet ++ exp.sums.keySet).toSeq.sorted
        .filter(k => sums.get(k) != exp.sums.get(k)).take(3)
        .map(k => s"$k=${sums.getOrElse(k, "-")} vs ${exp.sums.getOrElse(k, "-")}")
      p += s"series sums differ (${bad.mkString(", ")})"
    }
    p.result()
  }

  /** Every fact tile of a `rollup`-family read must be logged on a
    * `rollup-*` tier, every tile of a `raw` one on `raw-scan`: a silent
    * invalidation would otherwise turn rollup reads into raw scans. */
  def tier(family: String, tiles: Int, delta: Map[String, Long]): Seq[String] = {
    val onFamily = delta.filter { case (t, _) =>
      if (family == "raw") t == "raw-scan" else t.startsWith("rollup-")
    }.values.sum
    if (onFamily == tiles && delta.values.sum == tiles) Seq.empty
    else Seq(s"served by ${delta.toSeq.sorted.mkString(",")}, " +
      s"expected $tiles $family-tier reads")
  }
}
