package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructField, StructType}

import graft.functions.TimeKernel
import graft.model.{FactDef, FactType, Step}

/** Materialized slice-level rollups — the reference's storage strategy
  * (one pre-aggregated table per fact × dimension × grouping path,
  * `postgres/schema.clj:220-241`, upserted per event
  * `postgres/update.clj:39-81`) as an OPTIONAL optimization layer over
  * the compute-on-read engine.
  *
  * A rollup holds the finest-granularity partial aggregates:
  * `(dims…, bucket = slice floor, value)` for counters,
  * `(dims…, bucket, counter, total)` for averages — exactly the
  * re-aggregable shapes the reference keeps (sums of sums; averages as
  * (count,total) pairs, `query.clj:66-72`), so any calendar collapse
  * can be answered from the rollup without touching raw events.
  *
  * Scale design: the rollup parquet is partitioned by `date(bucket)` —
  * a time-range query prunes whole partitions before reading a byte,
  * and the rollup is smaller than raw events by the events-per-slice
  * compaction factor. Refresh is idempotent per (fact, grouping): a
  * full overwrite per run, or per-date-partition overwrite for
  * incremental loads (dynamic partition overwrite); the streaming
  * variant is [[graft.streaming.StreamingIngest.sliceAggregation]],
  * which emits the same shape continuously.
  */
object Rollups {

  /** Compact a prepared frame (dims + ts + value) into slice-level
    * partial aggregates. Events missing any grouping value are skipped,
    * as the reference's write path does (`event-key`,
    * postgres/update.clj:11-26) — so rollup contents match what
    * [[Timeseries.scan]]'s non-null filter yields from raw events. */
  def build(prepared: DataFrame, fact: FactDef, sliceMinutes: Int,
      grouping: Seq[String]): DataFrame = {
    val nonNull = grouping.map(col(_).isNotNull)
      .foldLeft(lit(true))(_ && _)
    Timeseries.sliceBuckets(prepared.where(nonNull), fact, sliceMinutes,
      grouping)
  }

  /** Consistency AUDIT of a counter rollup store against its raw
    * events — the read-repair check a production TSDB runs after
    * incidents (partial writes, replayed batches, manual surgery):
    * recompute the slice partials from raw, collapse BOTH sides to
    * one value per (grouping, bucket) key (a maintained store may
    * legitimately hold several re-aggregable partial rows per key),
    * and full-outer-diff. Output is the per-date audit summary:
    * bucket count and mismatch count (keys missing on either side
    * count as mismatches).
    *
    * One shuffle per side on the same (grouping, bucket) key plus the
    * diff join — O(series × slices), never event volume, and the
    * store side is partition-prunable by date if the caller
    * pre-filters. Scalar-partial facts (Counter's `value`, Average's
    * `(counter, total)` pair — every partial column must match);
    * tall distinct/histogram stores use [[auditTall]]. */
  def audit(store: DataFrame, raw: DataFrame, fact: FactDef,
      sliceMinutes: Int, grouping: Seq[String]): DataFrame = {
    import graft.model.FactType
    val valueCols: Seq[String] = fact.ftype match {
      case FactType.Counter => Seq("value")
      case FactType.Average => Seq("counter", "total")
      case other => throw new IllegalArgumentException(
        s"Rollups.audit covers scalar-partial facts (Counter/Average); " +
          s"use auditTall for $other")
    }
    val key = grouping.map(col) :+ col("bucket")
    def side(df: DataFrame, tag: String) = df.groupBy(key: _*)
      .agg(valueCols.map(c => sum(col(c)).as(s"__${tag}_$c")).head,
        valueCols.map(c => sum(col(c)).as(s"__${tag}_$c")).tail: _*)
    val sSide = side(store, "s")
    val rSide = side(build(raw, fact, sliceMinutes, grouping), "r")
    val bad = valueCols.map(c =>
        col(s"__s_$c").isNull || col(s"__r_$c").isNull ||
          col(s"__s_$c") =!= col(s"__r_$c"))
      .reduce(_ || _)
    sSide.join(rSide, grouping :+ "bucket", "full_outer")
      .select(to_date(col("bucket")).cast("string").as("bucket_date"),
        when(bad, 1L).otherwise(0L).as("__bad"))
      .groupBy(col("bucket_date"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("__bad")).as("n_mismatched"))
  }

  /** [[audit]] for TALL partial stores (Distinct `dval` /
    * Histogram `hist_bucket` rows): identical recompute-and-diff with
    * the tall column joining the key — per-date tall-row and
    * mismatch counts. */
  def auditTall(store: DataFrame, raw: DataFrame, fact: FactDef,
      sliceMinutes: Int, grouping: Seq[String], tallCol: String): DataFrame = {
    require(store.columns.contains(tallCol),
      s"store has no tall column '$tallCol'")
    val keyNames = grouping ++ Seq("bucket", tallCol)
    val key = keyNames.map(col)
    val sSide = store.groupBy(key: _*).agg(sum(col("value")).as("__vs"))
    val rSide = build(raw, fact, sliceMinutes, grouping)
      .groupBy(key: _*).agg(sum(col("value")).as("__vr"))
    sSide.join(rSide, keyNames, "full_outer")
      .select(to_date(col("bucket")).cast("string").as("bucket_date"),
        when(col("__vs").isNull || col("__vr").isNull ||
          col("__vs") =!= col("__vr"), 1L).otherwise(0L).as("__bad"))
      .groupBy(col("bucket_date"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__bad")).as("n_mismatched"))
  }

  /** Materialize to parquet, partitioned by the bucket's date for
    * partition-pruned range scans. */
  def materialize(prepared: DataFrame, fact: FactDef, sliceMinutes: Int,
      grouping: Seq[String], path: String): Unit =
    build(prepared, fact, sliceMinutes, grouping)
      .withColumn("bucket_date", to_date(col("bucket")))
      .write.mode("overwrite")
      .partitionBy("bucket_date")
      .parquet(path)

  /** Read a materialized rollup. `bucket_date` (the partition column)
    * is KEPT so [[run]] and the routing rule can derive partition
    * predicates from bucket bounds; it is dropped before aggregation.
    *
    * `schema` is the store's declared schema ([[storeSchema]]) when
    * the caller wrote the store itself: the read then opens with it
    * and launches no job. None infers it from a parquet footer — one
    * Spark job per call — which is right only for a store whose
    * writer owns its schema (an external or retained store). */
  def read(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(s => spark.read.schema(s)).parquet(path)

  /** The schema a date-partitioned store written from `writer` reads
    * back with: the writer's analyzed columns, in order, then the
    * `bucket_date` partition column the write appends. Analysis only —
    * no job, no file listing. */
  def storeSchema(writer: DataFrame): StructType =
    StructType(writer.schema.fields :+ StructField("bucket_date", DateType))

  /** Incrementally refresh ONE window of a materialized rollup: the
    * slice partials for every day touched by `[start, finish]` are
    * recomputed from `prepared` and their `bucket_date` partitions
    * replaced via DYNAMIC partition overwrite — partitions outside the
    * window are not rewritten (or even read). This is the maintenance
    * mode for a 100 TB store whose history is far larger than its
    * daily delta: a full [[materialize]] re-aggregates all of history,
    * a refresh costs O(window).
    *
    * The recompute window is SNAPPED OUTWARD to whole UTC days because
    * a `bucket_date` partition is replaced atomically — recomputing a
    * half-day and overwriting its whole partition would silently drop
    * the other half. Assumes events are append-only (a day losing
    * events keeps its old partition if the new window has none). */
  def refreshWindow(prepared: DataFrame, fact: FactDef, sliceMinutes: Int,
      grouping: Seq[String], path: String,
      start: Timestamp, finish: Timestamp): Unit = {
    // bucket_date partitions were written with session-zone
    // to_date(bucket); the recompute window below snaps to UTC days.
    // In a non-UTC session those disagree and the dynamic partition
    // overwrite would replace a date partition with a HALF-day
    // recompute — silent data loss. Same guard as RollupRouting.
    require(graft.plans.RollupRouting.isUtcZone(
        prepared.sparkSession.sessionState.conf.sessionLocalTimeZone),
      "Rollups.refreshWindow requires spark.sql.session.timeZone=UTC: " +
        "the day-snapped recompute window and the bucket_date " +
        "partition values must agree or a partition overwrite loses data")
    val utc = java.time.ZoneOffset.UTC
    val loDay = TimeKernel.sliceFloorLocal(start, sliceMinutes)
      .toInstant.atZone(utc).toLocalDate
    val hiExcl = TimeKernel.sliceFloorLocal(finish, sliceMinutes)
      .toInstant.plusSeconds(sliceMinutes * 60L)
    val hiDayExcl = hiExcl.minusNanos(1000).atZone(utc).toLocalDate.plusDays(1)
    val dayStart = Timestamp.from(loDay.atStartOfDay(utc).toInstant)
    // scan finish such that the inclusive bucketed upper bound lands
    // exactly on the day boundary: finish = hiDayExcl - slice
    val dayFinish = Timestamp.from(
      hiDayExcl.atStartOfDay(utc).toInstant.minusSeconds(sliceMinutes * 60L))
    val scanned = Timeseries.scan(prepared, sliceMinutes, grouping,
      Map.empty, dayStart, dayFinish)
    Timeseries.sliceBuckets(scanned, fact, sliceMinutes, grouping)
      .withColumn("bucket_date", to_date(col("bucket")))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket_date")
      .parquet(path)
  }

  /** Generic re-aggregable partials for the Catalyst routing rule
    * ([[graft.plans.RollupRouting]]): per (dims…, slice bucket) keep
    * every partial that common SQL aggregates re-derive from —
    * `cnt`/`cntv`/`total`/`mn`/`mx` cover count(*), count(v), sum(v),
    * min/max(v) and avg(v) (= total/cntv). One map-side-combined hash
    * aggregation over raw events; output is smaller than the input by
    * the events-per-slice compaction factor. */
  def partials(raw: DataFrame, dims: Seq[String], tsCol: String = "ts",
      valueCol: String = "value", sliceMinutes: Int = 15): DataFrame =
    raw.groupBy(dims.map(col) :+
        TimeKernel.sliceFloor(col(tsCol), sliceMinutes).as("bucket"): _*)
      .agg(count(lit(1L)).as("cnt"), count(col(valueCol)).as("cntv"),
        sum(col(valueCol)).as("total"), min(col(valueCol)).as("mn"),
        max(col(valueCol)).as("mx"))

  /** Materialize [[partials]] partitioned by the bucket's date, so a
    * routed time-range query prunes whole partitions. */
  def materializePartials(raw: DataFrame, dims: Seq[String], path: String,
      tsCol: String = "ts", valueCol: String = "value",
      sliceMinutes: Int = 15): Unit =
    partials(raw, dims, tsCol, valueCol, sliceMinutes)
      .withColumn("bucket_date", to_date(col("bucket")))
      .write.mode("overwrite")
      .partitionBy("bucket_date")
      .parquet(path)

  /** Coarsen generic [[partials]] to DAY grain — the hierarchical
    * rollup tier: built FROM the slice partials (never re-reading raw
    * events), one row per (dims…, day) where the slice tier has up to
    * 96. A year-long dashboard query served from the day tier scans
    * ~96× fewer rows than the slice tier and ~events-per-day× fewer
    * than raw; the routing rule prefers the coarsest registered tier
    * that can serve a query exactly
    * ([[graft.plans.RollupRouting.registerDayGrain]]). Scalar partials
    * re-aggregate losslessly (sums of sums, min of mins), so the
    * coarse tier answers day/week/month/quarter/year truncations
    * bit-identically. */
  def coarsenPartialsToDay(partials: DataFrame): DataFrame = {
    val measures = Map[String, Column => Column](
      "cnt" -> (c => sum(c)), "cntv" -> (c => sum(c)),
      "total" -> (c => sum(c)), "mn" -> (c => min(c)), "mx" -> (c => max(c)))
    val present = partials.columns.filter(measures.contains)
    require(present.nonEmpty, "not a generic-partials frame")
    val dims = partials.columns.filterNot(c =>
      measures.contains(c) || c == "bucket" || c == "bucket_date")
    val keys = dims.map(col) :+ date_trunc("day", col("bucket")).as("bucket")
    val aggs = present.map(c => measures(c)(col(c)).as(c))
    partials.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Materialize the day tier from an existing slice-partials frame,
    * date-partitioned like every rollup store. */
  def materializeDayPartials(partials: DataFrame, path: String): Unit =
    coarsenPartialsToDay(partials)
      .withColumn("bucket_date", to_date(col("bucket")))
      .write.mode("overwrite")
      .partitionBy("bucket_date")
      .parquet(path)

  /** The fact-typed twin of [[coarsenPartialsToDay]] for the SERVICE's
    * rollup shapes ([[build]] output): re-aggregate slice partials to
    * day grain while KEEPING the partial shape (this is a STORE, not a
    * read — `collapsePartials` is the read): counter sums, average
    * sums component-wise, histogram and distinct tall rows sum their
    * counts per retained key (hist_bucket / dval stay keys, so any
    * later calendar collapse — including exact COUNT DISTINCT — still
    * works from the day tier). */
  def coarsenFactPartialsToDay(rollup: DataFrame, fact: FactDef,
      grouping: Seq[String]): DataFrame = {
    val day = date_trunc("day", col("bucket")).as("bucket")
    val keys = grouping.map(col) :+ day
    fact.ftype match {
      case FactType.Average =>
        rollup.groupBy(keys: _*)
          .agg(sum("counter").as("counter"), sum("total").as("total"))
      case FactType.Histogram =>
        rollup.groupBy(keys :+ col("hist_bucket"): _*)
          .agg(sum("value").as("value"))
      case FactType.Distinct =>
        rollup.groupBy(keys :+ col("dval"): _*)
          .agg(sum("value").as("value"))
      case _ =>
        rollup.groupBy(keys: _*).agg(sum("value").as("value"))
    }
  }

  /** Materialize the fact-typed day tier from an existing slice store,
    * date-partitioned like every rollup store. */
  def materializeFactDayTier(rollup: DataFrame, fact: FactDef,
      grouping: Seq[String], path: String): Unit =
    coarsenFactPartialsToDay(rollup, fact, grouping)
      .withColumn("bucket_date", to_date(col("bucket")))
      .write.mode("overwrite")
      .partitionBy("bucket_date")
      .parquet(path)

  /** Incremental day-tier maintenance: after [[refreshWindow]]
    * refreshed the SLICE store for `[start, finish]`, re-coarsen only
    * the touched whole UTC days from it and replace only those
    * `bucket_date` partitions of the day tier (dynamic partition
    * overwrite — same outward day-snap and UTC requirement as the
    * slice refresh, same O(window) cost). `sliceSchema` is the slice
    * store's declared schema, as for [[read]]. */
  def refreshDayTierWindow(spark: SparkSession, slicePath: String,
      fact: FactDef, grouping: Seq[String], dayPath: String,
      start: Timestamp, finish: Timestamp, sliceMinutes: Int,
      sliceSchema: Option[StructType]): Unit = {
    require(graft.plans.RollupRouting.isUtcZone(
        spark.sessionState.conf.sessionLocalTimeZone),
      "refreshDayTierWindow requires spark.sql.session.timeZone=UTC")
    val utc = java.time.ZoneOffset.UTC
    val loDay = TimeKernel.sliceFloorLocal(start, sliceMinutes)
      .toInstant.atZone(utc).toLocalDate
    val hiExcl = TimeKernel.sliceFloorLocal(finish, sliceMinutes)
      .toInstant.plusSeconds(sliceMinutes * 60L)
    val hiDayExcl = hiExcl.minusNanos(1000).atZone(utc).toLocalDate.plusDays(1)
    val lo = Timestamp.from(loDay.atStartOfDay(utc).toInstant)
    val hi = Timestamp.from(hiDayExcl.atStartOfDay(utc).toInstant)
    // Restate the bucket range on the store's partition column first:
    // date is monotone in bucket, so whole bucket_date directories
    // outside the window prune from the partition index — without
    // this the "O(window)" refresh silently scans the store's entire
    // history (the between is day-inclusive; the bucket range below
    // trims the edge days exactly).
    val window = read(spark, slicePath, sliceSchema)
      .where(col("bucket_date").between(to_date(lit(lo)), to_date(lit(hi))))
      .drop("bucket_date")
      .where(col("bucket") >= lit(lo) && col("bucket") < lit(hi))
    coarsenFactPartialsToDay(window, fact, grouping)
      .withColumn("bucket_date", to_date(col("bucket")))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket_date")
      .parquet(dayPath)
  }

  /** DISTINCT tall partials for the Catalyst routing rule: one row per
    * (dims…, slice bucket, distinct value `dval`) with its occurrence
    * count. Unlike [[build]] (the service write path, which skips
    * null-dimension events to match the reference's `event-key`
    * semantics), this KEEPS null dimension groups — the routing rule
    * rewrites arbitrary user SQL, and a raw `GROUP BY dim` emits the
    * NULL-dim group, so a routed plan served from null-dropping
    * partials would silently lose it. [[partials]] already keeps nulls
    * for the scalar shapes; this is its distinct-valued sibling.
    * Null VALUES are also kept as a null `dval` group — `COUNT
    * (DISTINCT v)` ignores nulls on both the raw and rollup side, so
    * the translation stays exact either way. */
  def distinctPartials(raw: DataFrame, dims: Seq[String],
      tsCol: String = "ts", valueCol: String = "value",
      sliceMinutes: Int = 15): DataFrame =
    raw.groupBy(dims.map(col) :+
        TimeKernel.sliceFloor(col(tsCol), sliceMinutes).as("bucket") :+
        col(valueCol).as("dval"): _*)
      .agg(count(lit(1L)).as("value"))

  /** Coarsen DISTINCT tall partials to DAY grain — the hierarchical
    * tier on the distinct plane: one row per (dims…, day, value)
    * where the slice tier holds up to 96, built FROM the slice
    * partials (never re-reading raw). The compaction factor is the
    * slices-per-day a value recurs in — highest exactly for the
    * sticky values (daily-active users) a distinct read targets.
    * Occurrence counts sum so the tier stays further coarsenable;
    * COUNT DISTINCT itself only needs the retained value rows. */
  def coarsenDistinctPartialsToDay(partials: DataFrame): DataFrame = {
    require(partials.columns.contains("dval") &&
      partials.columns.contains("value"), "not a distinct-partials frame")
    val dims = partials.columns.filterNot(c =>
      Set("bucket", "bucket_date", "dval", "value").contains(c))
    partials
      .groupBy(dims.map(col) :+
        date_trunc("day", col("bucket")).as("bucket") :+ col("dval"): _*)
      .agg(sum(col("value")).as("value"))
  }

  /** Materialize the distinct day tier from an existing slice-partials
    * frame, date-partitioned like every rollup store. */
  def materializeDistinctDayPartials(partials: DataFrame, path: String): Unit =
    coarsenDistinctPartialsToDay(partials)
      .withColumn("bucket_date", to_date(col("bucket")))
      .write.mode("overwrite")
      .partitionBy("bucket_date")
      .parquet(path)

  /** Materialize [[distinctPartials]] partitioned by the bucket's date. */
  def materializeDistinctPartials(raw: DataFrame, dims: Seq[String],
      path: String, tsCol: String = "ts", valueCol: String = "value",
      sliceMinutes: Int = 15): Unit =
    distinctPartials(raw, dims, tsCol, valueCol, sliceMinutes)
      .withColumn("bucket_date", to_date(col("bucket")))
      .write.mode("overwrite")
      .partitionBy("bucket_date")
      .parquet(path)

  /** HISTOGRAM tall partials for the Catalyst routing rule: one row
    * per (dims…, slice bucket, histogram bucket) with the bucket's
    * COUNT — the [[Timeseries.sliceBuckets]] Histogram shape, but
    * null-KEEPING like [[distinctPartials]] (the routing rule serves
    * arbitrary user GROUP BYs, which emit null dim groups and the
    * null-value bucket). `histCol` is the bucketing expression
    * (canonically [[Timeseries.histBucket]]); it is re-aliased to the
    * `hist_bucket` column the rule translates onto. */
  def histogramPartials(raw: DataFrame, dims: Seq[String],
      histCol: Column, tsCol: String = "ts",
      sliceMinutes: Int = 15): DataFrame =
    raw.groupBy(dims.map(col) :+
        TimeKernel.sliceFloor(col(tsCol), sliceMinutes).as("bucket") :+
        histCol.as("hist_bucket"): _*)
      .agg(count(lit(1L)).as("value"))

  /** Coarsen HISTOGRAM tall partials to DAY grain — counts re-sum
    * losslessly per (dims…, day, hist_bucket), built FROM the slice
    * partials; compaction is the slices-per-day each bucket receives
    * events in (up to 96×). */
  def coarsenHistogramPartialsToDay(partials: DataFrame): DataFrame = {
    require(partials.columns.contains("hist_bucket") &&
      partials.columns.contains("value"), "not a histogram-partials frame")
    val dims = partials.columns.filterNot(c =>
      Set("bucket", "bucket_date", "hist_bucket", "value").contains(c))
    partials
      .groupBy(dims.map(col) :+
        date_trunc("day", col("bucket")).as("bucket") :+
        col("hist_bucket"): _*)
      .agg(sum(col("value")).as("value"))
  }

  /** Materialize the histogram day tier from an existing
    * slice-partials frame, date-partitioned like every rollup store. */
  def materializeHistogramDayPartials(partials: DataFrame,
      path: String): Unit =
    coarsenHistogramPartialsToDay(partials)
      .withColumn("bucket_date", to_date(col("bucket")))
      .write.mode("overwrite")
      .partitionBy("bucket_date")
      .parquet(path)

  /** APPROXIMATE distinct partials: one HLL sketch (DataSketches
    * HllSketch via `hll_sketch_agg`) per (dims…, slice bucket) — the
    * scale alternative to [[distinctPartials]] for facts whose values
    * are unique-per-event (request ids, UUIDs), where exact tall
    * partials degenerate to a copy of the event stream (SCALE.md §8).
    * A sketch partial is FIXED-SIZE (≈ 2^lgK bytes, ~4 KB at the
    * default lgK=12 for ~±1.6% RSE) regardless of per-slice
    * cardinality, and sketches UNION losslessly — any calendar
    * collapse stays a partial-merge, values seen in many slices of
    * the same day count once ([[collapseSketchPartials]]).
    *
    * Approximation is strictly OPT-IN at the call site: these
    * partials are deliberately NOT registrable with the Catalyst
    * routing rule — user SQL asking COUNT(DISTINCT x) must never be
    * silently served an estimate. */
  def sketchPartials(raw: DataFrame, dims: Seq[String],
      tsCol: String = "ts", valueCol: String = "value",
      sliceMinutes: Int = 15, lgK: Int = 12): DataFrame =
    raw.groupBy(dims.map(col) :+
        TimeKernel.sliceFloor(col(tsCol), sliceMinutes).as("bucket"): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Collapse sketch partials to a calendar bucket: union the slice
    * sketches per (dims…, calendar bucket) and estimate. Returns
    * `value` as the BIGINT estimate — same shape as the exact
    * distinct read, explicitly approximate by provenance. */
  def collapseSketchPartials(rollup: DataFrame, grouping: Seq[String],
      step: Step, offsetHours: Int = 0): DataFrame = {
    val keys = grouping.map(col) :+
      TimeKernel.timeDimension(col("bucket"), step, offsetHours).as("bucket")
    rollup.groupBy(keys: _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(false)))
        .as("value"))
  }

  /** APPROXIMATE quantile partials: one KLL sketch
    * (DataSketches `KllLongsSketch`) per (dims…, slice bucket) — the
    * scale path for VALUE-DISTRIBUTION reads where the exact options
    * both break down: exact percentiles need a per-series sort of raw
    * events, and histogram partials ([[histogramPartials]]) need the
    * bucket layout declared up front. A KLL partial is ~3 KB at the
    * default k=200 (~±1.65% normalized rank error) at ANY per-slice
    * cardinality, needs no a-priori value range, and sketches MERGE
    * losslessly — any calendar collapse stays a partial-merge
    * ([[collapseKllQuantiles]]).
    *
    * Shape: per-partition sketch build in one `mapPartitions` pass
    * (the manual map-side combine — only (key × partition) sketch
    * blobs ever shuffle, never values), then a per-key merge. Like
    * [[sketchPartials]], approximation is strictly OPT-IN at the call
    * site and deliberately NOT registrable with the routing rule.
    * Sketch compaction draws random bits, so two builds can differ at
    * the error margin — gate reads with a rank-band verdict (the
    * `ts_pct_sketch` driver query pins ±5 rank points), never with
    * byte equality. */
  def kllPartials(raw: DataFrame, dims: Seq[String], tsCol: String = "ts",
      valueCol: String = "value", sliceMinutes: Int = 15,
      k: Int = 200): DataFrame = {
    import org.apache.datasketches.kll.KllLongsSketch
    import org.apache.datasketches.memory.Memory
    val spark = raw.sparkSession
    import spark.implicits._
    val keyed = raw.select(
        array(dims.map(d => col(d).cast("string")): _*).as("ks"),
        TimeKernel.sliceFloor(col(tsCol), sliceMinutes).as("bucket"),
        col(valueCol).cast("long").as("v"))
      .as[(Seq[String], Timestamp, Long)]
    val partial = keyed.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap
        .empty[(Seq[String], Timestamp), KllLongsSketch]
      it.foreach { case (ks, b, v) =>
        m.getOrElseUpdate((ks, b),
          KllLongsSketch.newHeapInstance(k)).update(v)
      }
      m.iterator.map { case ((ks, b), sk) => (ks, b, sk.toByteArray) }
    }
    val merged = partial
      .groupByKey { case (ks, b, _) => (ks, b) }
      .mapGroups { (key: (Seq[String], Timestamp),
          it: Iterator[(Seq[String], Timestamp, Array[Byte])]) =>
        val sk = KllLongsSketch.newHeapInstance(k)
        it.foreach { case (_, _, bytes) =>
          sk.merge(KllLongsSketch.heapify(Memory.wrap(bytes)))
        }
        (key._1, key._2, sk.toByteArray)
      }
      .toDF("ks", "bucket", "qsketch")
    merged.select(dims.zipWithIndex.map { case (d, i) =>
      col("ks")(i).as(d) } :+ col("bucket") :+ col("qsketch"): _*)
  }

  /** Collapse KLL partials to a calendar bucket and read quantile
    * estimates: merge the slice sketches per (dims…, calendar bucket),
    * then one `est_p<q>` LONG column per requested percentile
    * (inclusive-rank rule — the estimate is always one of the inserted
    * values). Merge cost is O(rollup rows), never O(events). */
  def collapseKllQuantiles(rollup: DataFrame, grouping: Seq[String],
      qs: Seq[Int], step: Step, offsetHours: Int = 0,
      k: Int = 200): DataFrame = {
    import org.apache.datasketches.kll.KllLongsSketch
    import org.apache.datasketches.memory.Memory
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100),
      "percentiles must be in 1..100")
    val spark = rollup.sparkSession
    import spark.implicits._
    val keyed = rollup.select(
        array(grouping.map(d => col(d).cast("string")): _*).as("ks"),
        TimeKernel.timeDimension(col("bucket"), step, offsetHours)
          .as("bucket"),
        col("qsketch"))
      .as[(Seq[String], Timestamp, Array[Byte])]
    val qsLocal = qs
    val est = keyed
      .groupByKey { case (ks, b, _) => (ks, b) }
      .mapGroups { (key: (Seq[String], Timestamp),
          it: Iterator[(Seq[String], Timestamp, Array[Byte])]) =>
        val sk = KllLongsSketch.newHeapInstance(k)
        it.foreach { case (_, _, bytes) =>
          sk.merge(KllLongsSketch.heapify(Memory.wrap(bytes)))
        }
        (key._1, key._2, qsLocal.map(q => sk.getQuantile(q / 100.0)))
      }
      .toDF("ks", "bucket", "est")
    val outCols: Seq[Column] =
      grouping.zipWithIndex.map { case (d, i) => col("ks")(i).as(d) } ++
        Seq(col("bucket")) ++
        qsLocal.zipWithIndex.map { case (q, i) =>
          col("est")(i).as(s"est_p$q") }
    est.select(outCols: _*)
  }

  /** Materialize [[sketchPartials]] partitioned by the bucket's date —
    * the standing store form: a year of per-slice sketches for a
    * billion-cardinality fact is ~35k × 4 KB per series, where exact
    * tall partials would be the event stream itself. */
  def materializeSketchPartials(raw: DataFrame, dims: Seq[String],
      path: String, tsCol: String = "ts", valueCol: String = "value",
      sliceMinutes: Int = 15, lgK: Int = 12): Unit =
    sketchPartials(raw, dims, tsCol, valueCol, sliceMinutes, lgK)
      .withColumn("bucket_date", to_date(col("bucket")))
      .write.mode("overwrite")
      .partitionBy("bucket_date")
      .parquet(path)

  /** Materialize [[histogramPartials]] partitioned by the bucket's
    * date. */
  def materializeHistogramPartials(raw: DataFrame, dims: Seq[String],
      histCol: Column, path: String, tsCol: String = "ts",
      sliceMinutes: Int = 15): Unit =
    histogramPartials(raw, dims, histCol, tsCol, sliceMinutes)
      .withColumn("bucket_date", to_date(col("bucket")))
      .write.mode("overwrite")
      .partitionBy("bucket_date")
      .parquet(path)

  /** ROLLUP ADVISOR — decide which groupings PAY for materialization
    * before spending the storage: for every candidate grouping, the
    * rollup's size is `distinct(dims × slice)` rows, so its benefit
    * is the events-per-slice compaction ratio. All candidates measure
    * in ONE grouping-sets aggregation over the raw events (Spark
    * expands each row into its |candidates| grouping combinations —
    * one shuffle, map-side combined, never one scan per candidate),
    * then a tiny per-set re-aggregation. At 100 TB this is the
    * difference between "measure 10 candidate layouts" costing one
    * pass vs ten.
    *
    * Output, one row per candidate: (`grouping` = comma-joined dims,
    * `n_series_slices` = the would-be rollup's row count, `n_events`,
    * `compaction_e4` = 10⁴·events/rows, integral). A candidate near
    * 10⁴ (ratio 1) compacts nothing — its "rollup" is the event
    * stream re-keyed (the SCALE.md §8 distinct-partials failure mode,
    * measured here BEFORE it is built). Null dimension values count
    * as groups, matching [[partials]]' null-keeping semantics. */
  def adviseRollups(raw: DataFrame, candidates: Seq[Seq[String]],
      tsCol: String = "ts", sliceMinutes: Int = 15): DataFrame = {
    require(candidates.nonEmpty && candidates.forall(_.nonEmpty),
      "adviseRollups needs at least one non-empty candidate grouping")
    require(candidates.forall(c => c.distinct == c),
      "a candidate grouping repeats a dimension")
    require(candidates.map(_.toSet).distinct.size == candidates.size,
      "duplicate candidate groupings")
    val allDims = candidates.flatten.distinct
    val base = raw.select(allDims.map(col) :+
      TimeKernel.sliceFloor(col(tsCol), sliceMinutes).as("__bucket"): _*)
    val gCols = allDims.map(col) :+ col("__bucket")
    val sets = candidates.map(c => c.map(col) :+ col("__bucket"))
    val perKey = base.groupingSets(sets, gCols: _*)
      .agg(count(lit(1)).as("__cnt"), grouping_id().as("__gid"))
    // grouping_id bit i (from the LEFT of gCols) is set when that
    // column is aggregated away in the set — recompute each
    // candidate's id the same way to label the output
    val n = allDims.length
    val labelOf = candidates.map { c =>
      val gid = allDims.zipWithIndex.collect {
        case (d, i) if !c.contains(d) => 1L << (n - i)
      }.sum
      gid -> c.mkString(",")
    }
    val labelExpr = labelOf.foldLeft(lit(null).cast("string")) {
      case (acc, (g, lbl)) => when(col("__gid") === g, lit(lbl)).otherwise(acc)
    }
    perKey.groupBy(col("__gid"))
      .agg(count(lit(1)).as("n_series_slices"), sum(col("__cnt")).as("n_events"))
      .select(labelExpr.as("grouping"), col("n_series_slices"),
        col("n_events"),
        expr("(10000L * n_events) div n_series_slices").as("compaction_e4"))
  }

  /** Compact an append-maintained rollup (multiple partial rows per
    * key, e.g. from [[graft.streaming.StreamingIngest.maintainRollup]]'s
    * per-batch appends) into one row per (dims…, bucket). Partials are
    * re-aggregable, so queries are correct WITHOUT compaction — this
    * only bounds file/row counts over time. Writes to a NEW path (no
    * self-overwrite); measure columns are dispatched by name. */
  def compact(spark: SparkSession, inPath: String, outPath: String): Unit =
    compactFrame(spark.read.parquet(inPath))
      .withColumn("bucket_date", to_date(col("bucket")))
      .write.mode("overwrite")
      .partitionBy("bucket_date")
      .parquet(outPath)

  /** [[compact]]'s frame-level core: one row per key set, measure
    * columns re-aggregated by the standard partial-merge convention
    * (sums sum, min/max re-extremize) — dispatched by column NAME, so
    * it works for every partial shape (counter, average, histogram,
    * distinct — whose `dval` is a non-measure column and therefore a
    * key). Also the merge step of the retention path
    * ([[graft.TimeSeriesService.expireEvents]]): unioned partial
    * frames from different stores compact into one. */
  private[graft] def compactFrame(df: DataFrame): DataFrame = {
    // KLL quantile partials (`qsketch`, [[kllPartials]]) are a
    // DIFFERENT sketch family from the HLL distinct partials below —
    // Spark has no SQL merge aggregate for them, so they take the
    // typed merge path. The two names must stay distinct: feeding a
    // KLL blob to `hll_union_agg` is a runtime heapify failure.
    if (df.columns.contains("qsketch")) return compactKllFrame(df)
    val measures: Map[String, Column => Column] = Map(
      "value" -> (c => sum(c)), "counter" -> (c => sum(c)),
      "total" -> (c => sum(c)), "cnt" -> (c => sum(c)),
      "cntv" -> (c => sum(c)), "mn" -> (c => min(c)), "mx" -> (c => max(c)),
      // HLL partials merge by sketch union (NOT a grouping key — a
      // binary sketch as a key would silently break compaction)
      "sketch" -> (c => hll_union_agg(c, lit(false))))
    val present = df.columns.filter(measures.contains)
    require(present.nonEmpty,
      s"compactFrame: no known measure column in ${df.columns.mkString(",")}")
    // bucket_date is re-derived; __batch_id is maintainRollup's
    // idempotency partition — both are storage artifacts, not keys.
    val keys = df.columns.filterNot(c =>
      measures.contains(c) || c == "bucket_date" || c == "__batch_id")
    val aggs = present.map(c => measures(c)(col(c)).as(c))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** [[compactFrame]]'s KLL branch: merge `qsketch` blobs per key set
    * (dims are strings by [[kllPartials]] construction; `bucket` is
    * the slice timestamp). Lossless for quantile reads — KLL merge is
    * the sketch's own combine — so a streaming-maintained KLL store's
    * per-batch files compact exactly like the scalar partials do. */
  private def compactKllFrame(df: DataFrame, k: Int = 200): DataFrame = {
    import org.apache.datasketches.kll.KllLongsSketch
    import org.apache.datasketches.memory.Memory
    val spark = df.sparkSession
    import spark.implicits._
    val dims = df.columns.filterNot(c =>
      c == "qsketch" || c == "bucket" || c == "bucket_date" ||
        c == "__batch_id").toSeq
    val keyed = df.select(
        array(dims.map(d => col(d).cast("string")): _*).as("ks"),
        col("bucket"), col("qsketch"))
      .as[(Seq[String], Timestamp, Array[Byte])]
    val merged = keyed
      .groupByKey { case (ks, b, _) => (ks, b) }
      .mapGroups { (key: (Seq[String], Timestamp),
          it: Iterator[(Seq[String], Timestamp, Array[Byte])]) =>
        val sk = KllLongsSketch.newHeapInstance(k)
        it.foreach { case (_, _, bytes) =>
          sk.merge(KllLongsSketch.heapify(Memory.wrap(bytes)))
        }
        (key._1, key._2, sk.toByteArray)
      }
      .toDF("ks", "bucket", "qsketch")
    merged.select(dims.zipWithIndex.map { case (d, i) =>
      col("ks")(i).as(d) } :+ col("bucket") :+ col("qsketch"): _*)
  }

  /** Re-aggregate slice partials into a calendar bucket — the rollup
    * counterpart of [[Timeseries.collapse]] (which aggregates raw
    * events): counter/histogram partials sum; average partials sum
    * component-wise. */
  def collapsePartials(rollup: DataFrame, fact: FactDef, grouping: Seq[String],
      step: Step, offsetHours: Int): DataFrame = {
    val keys = grouping.map(col) :+
      TimeKernel.timeDimension(col("bucket"), step, offsetHours).as("bucket")
    fact.ftype match {
      case FactType.Average =>
        rollup.groupBy(keys: _*)
          .agg(sum("counter").as("counter"), sum("total").as("total"))
      case FactType.Histogram =>
        // partials carry hist_bucket; re-aggregation preserves it
        rollup.groupBy(keys :+ col("hist_bucket"): _*)
          .agg(sum("value").as("value"))
      case FactType.Distinct =>
        // tall distinct partials carry the value itself (`dval`):
        // counting DISTINCT dval per calendar bucket is exact across
        // any slice→calendar collapse — a value seen in three slices
        // of the same day counts once for that day
        rollup.groupBy(keys: _*)
          .agg(count_distinct(col("dval")).as("value"))
      case _ =>
        rollup.groupBy(keys: _*).agg(sum("value").as("value"))
    }
  }

  /** The full read path served from a rollup instead of raw events:
    * routed-grouping filter → inclusive bucketed range scan (both
    * endpoints slice-floored, `postgres/query.clj:16-17`) → collapse →
    * gap fill. Result is IDENTICAL to [[Timeseries.run]] over the raw
    * events the rollup was built from (pinned by RollupsSpec). */
  /** Shared partial-scan fragment: date-partition pruning + inclusive
    * bucketed range + equality filters (postgres/query.clj:10-17
    * semantics over partials). */
  private def scanPartials(rollup: DataFrame, sliceMinutes: Int,
      grouping: Seq[String], filters: Map[String, Option[String]],
      start: Timestamp, finish: Timestamp): DataFrame = {
    val lo = TimeKernel.sliceFloorLocal(start, sliceMinutes)
    val hi = TimeKernel.sliceFloorLocal(finish, sliceMinutes)
    val eq = filters.collect {
      case (k, Some(v)) if grouping.contains(k) => col(k) === lit(v)
    }.foldLeft(lit(true))(_ && _)
    // The bucket range implies a partition range on bucket_date (date
    // is monotone in bucket): whole date partitions are pruned before a
    // byte of parquet is read — the 100 TB path where a narrow query
    // window touches a sliver of the rollup's history.
    val pruned = {
      val p =
        if (rollup.columns.contains("bucket_date"))
          rollup.where(col("bucket_date").between(to_date(lit(lo)), to_date(lit(hi))))
            .drop("bucket_date")
        else rollup
      // streaming-maintained rollups carry a __batch_id partition dir
      // (idempotent per-batch overwrite) — a storage artifact, dropped
      p.drop("__batch_id")
    }
    pruned
      .where(col("bucket") >= lit(lo) && col("bucket") <= lit(hi))
      .where(eq)
  }

  /** The finest-granularity read served FROM the store:
    * [[Timeseries.sliceBuckets]]'s shape directly from slice partials
    * — pruned scan + partial-merge (appended/maintained stores may
    * hold several rows per key; a one-shot materialization is already
    * one row per key and the merge is a cheap no-op aggregation).
    * What [[graft.TimeSeriesService.getSliceSeries]] serves when a
    * store is registered: the slice read IS the rollup contents, so
    * compute-on-read would re-aggregate raw events only to
    * reconstruct exactly these rows. */
  def sliceSeries(rollup: DataFrame, fact: FactDef, sliceMinutes: Int,
      grouping: Seq[String], filters: Map[String, Option[String]],
      start: Timestamp, finish: Timestamp): DataFrame =
    compactFrame(scanPartials(rollup, sliceMinutes, grouping, filters,
      start, finish))

  def run(rollup: DataFrame, fact: FactDef, sliceMinutes: Int,
      grouping: Seq[String], filters: Map[String, Option[String]],
      start: Timestamp, finish: Timestamp, step: Step,
      offsetHours: Int = 0): DataFrame = {
    val scanned = scanPartials(rollup, sliceMinutes, grouping, filters,
      start, finish)
    val collapsed = collapsePartials(scanned, fact, grouping, step, offsetHours)
    Timeseries.fillRange(collapsed, fact, grouping, start, finish, step)
  }

  /** [[Timeseries.runHistogram]] served from histogram slice partials
    * (tall (series × slice × hist_bucket) rows) instead of raw events
    * — identical results by re-aggregability of counts, with the same
    * partition-pruned scan as [[run]]. At 100 TB this is what makes
    * histogram queries O(rollup) instead of O(events). */
  def runHistogram(rollup: DataFrame, fact: FactDef, sliceMinutes: Int,
      grouping: Seq[String], filters: Map[String, Option[String]],
      start: Timestamp, finish: Timestamp, step: Step = Step.NoStep,
      offsetHours: Int = 0): DataFrame = {
    val scanned = scanPartials(rollup, sliceMinutes, grouping, filters,
      start, finish)
    val coll = collapsePartials(scanned, fact, grouping, step, offsetHours)
    if (step == Step.NoStep)
      coll.groupBy(grouping.map(col) :+ col("hist_bucket"): _*)
        .agg(sum("value").as("value"))
    else coll
  }
}
