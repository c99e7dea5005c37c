package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface: event-time windowed aggregation with a
  * watermark over the events table, consumed as a file stream.
  *
  * The reference is batch-only (SURVEY.md §1.1: no streaming abstractions),
  * so this is a beyond-parity capability: the same hourly rollup the batch
  * query computes, expressed as readStream → watermark → window agg →
  * writeStream. At scale this runs continuously against arriving files with
  * bounded state (the watermark expires windows); here it is driven to
  * completion with Trigger.AvailableNow so the result is a checkable batch
  * DataFrame with the SAME DuckDB oracle as the batch rollup.
  */
object EventStream {

  /** The events table staged as a file stream (`n` copies of the file). */
  private def eventsSource(spark: SparkSession, dir: String, n: Int = 1) =
    StreamRun.copies(spark, s"$dir/events.parquet", n)

  private def complete(df: DataFrame, src: StreamRun.Source): DataFrame =
    StreamRun.toMemory(df, src.dir, OutputMode.Complete())._1

  private def append(df: DataFrame, src: StreamRun.Source): DataFrame =
    StreamRun.toMemory(df, src.dir, OutputMode.Append())._1

  def hourlyRollup(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsSource(spark, dir)
    val events = graft.queries.T.normTs(src.stream())

    val agg = events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("h"),
        col("event_type"), col("n"), col("sum_value"))

    complete(agg, src).orderBy("h", "event_type")
  }

  /** Stream-static enrichment: the event stream joins a STATIC dimension
    * table (customers) that Spark re-broadcasts per micro-batch — the
    * standard shape for enriching a firehose with slowly-changing
    * reference data. No stream state beyond the running aggregate; the
    * static side never shuffles the stream. Driven to completion with
    * AvailableNow; oracle = the equivalent batch join + rollup.
    */
  def enrichRollup(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsSource(spark, dir)
    val events = graft.queries.T.normTs(src.stream())
    val dim = broadcast(spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey")))

    val agg = events.join(dim, events("user_id") === dim("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

    complete(agg, src).orderBy("nation", "event_type")
  }

  /** Streaming ingestion dedup: the source delivers every file TWICE
    * (at-least-once delivery), and `dropDuplicatesWithinWatermark` on the
    * event key collapses redelivery before the windowed rollup — the
    * standard exactly-once-ish ingestion shape for a training-data feed.
    * State is bounded by the watermark (keys older than the delay are
    * dropped from the dedup map). Driven to completion with AvailableNow;
    * the result equals the batch hourly rollup over the UNduplicated
    * events, so it shares that DuckDB oracle.
    */
  def dedupRollup(spark: SparkSession, dir: String): DataFrame = {
    // duplicate delivery: same payload, two files
    val src = eventsSource(spark, dir, n = 2)
    val events = graft.queries.T.normTs(src.stream())

    val agg = events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("h"),
        col("event_type"), col("n"), col("sum_value"))

    complete(agg, src).orderBy("h", "event_type")
  }

  /** Streaming Count-Min per hour: each window's state is the FIXED
    * depth×width counter matrix (8 KB at 4×256), not a per-user map, and
    * CMS merge is element-wise sum — exactly batch- and partition-
    * invariant, so the streamed sketch equals the batch one bit-for-bit.
    * The md5-chunk hash family means an oracle engine rebuilds the same
    * sketches, so the per-hour estimates of the top users hash-match
    * EXACTLY (the stats_cms_counts pattern, inside a watermarked window).
    */
  def hourlyCmsTopUsers(spark: SparkSession, dir: String): DataFrame = {
    val cms = udaf(graft.operators.CountMin.agg(4, 256)).withName("cms_user_stream")
    val src = eventsSource(spark, dir)
    val events = graft.queries.T.normTs(src.stream())
    val agg = events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(cms(col("user_id").cast("string")).as("cms"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("h"),
        col("cms"))
    val sketches = complete(agg, src)

    // probe each window's sketch with that hour's exact top-3 users
    import org.apache.spark.sql.expressions.Window
    val ev = graft.queries.T.events(spark, dir).select(
      date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("h"),
      col("user_id").cast("string").as("u"))
    val w = Window.partitionBy("h").orderBy(col("exact_n").desc, col("u"))
    val top = ev.groupBy("h", "u").agg(count(lit(1)).as("exact_n"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= 3).drop("rk")
    top.join(sketches, "h")
      .withColumn("est_n", expr(
        """aggregate(transform(sequence(0, 3), d ->
          |  element_at(cms, d * 256 + int(conv(substring(md5(concat(u, ':', cast(d AS STRING))), 1, 4), 16, 10) % 256) + 1)),
          |  9223372036854775807L, (acc, x) -> least(acc, x))""".stripMargin))
      .select(col("h"), col("u").as("user_id"), col("exact_n"),
        col("est_n"), (col("est_n") - col("exact_n")).as("over_by"))
      .orderBy(col("h"), col("exact_n").desc, col("user_id"))
  }

  /** Streaming sketch aggregation: approx distinct users per hour via the
    * HLL Aggregator INSIDE the stream — per-window state is the fixed 4 KB
    * register array, not a user set, so hot windows can't grow state.
    * HLL merge is register-max (exactly partition- and batch-invariant),
    * so the streamed estimate equals the batch twin BIT FOR BIT
    * (EventStreamSpec asserts it); the count can't be DuckDB-exact, so
    * the registered query is rows-only.
    */
  def hourlyDistinctUsers(spark: SparkSession, dir: String,
                          streaming: Boolean = true): DataFrame = {
    val hll = udaf(graft.operators.Hll.hll).withName("hll_distinct_stream")
    val src = if (streaming) Some(eventsSource(spark, dir)) else None
    val events =
      if (!streaming) graft.queries.T.events(spark, dir)
      else graft.queries.T.normTs(src.get.stream())
    val agg = events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(hll(col("user_id").cast("string")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("h"),
        col("approx_users"), col("n_events"))
    if (!streaming) return agg.orderBy("h")

    complete(agg, src.get).orderBy("h")
  }

  /** Streaming file sink (S5's layout, streaming-side): the duplicated
    * file feed is deduped within the watermark and APPENDED to a
    * partitioned parquet sink — row-level ops emit immediately in append
    * mode, so nothing waits on watermark advance (a windowed agg would
    * hold its tail windows back under AvailableNow). The sink directory is
    * then read back batch-side and rolled up, so the result shares the
    * batch rollup's DuckDB oracle — proving the file-sink path writes
    * exactly-once under redelivery.
    */
  def dedupToParquetSink(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsSource(spark, dir, n = 2)
    val events = graft.queries.T.normTs(src.stream())
    val outDir = StreamRun.toParquet(events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "ts", "user_id", "event_type", "value"),
      src.dir, "event_type")

    spark.read.parquet(outDir.toString)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("h", "event_type")
  }

  /** Streaming quantile sketch: per-hour value quantiles via the KLL
    * Aggregator INSIDE the stream — per-window state is the sketch's
    * bounded buffer, not the window's values, so heavy windows can't grow
    * state. Quantile arrays are exploded to scalar rows (the dump/compare
    * contract). Rows-only as a registered query (approx values have no
    * DuckDB twin); GeoStreamSpec asserts the streamed result equals the
    * batch-twin sketch at spec scale, where windows fit the buffer and the
    * sketch is exact.
    */
  def hourlyValueQuantiles(spark: SparkSession, dir: String,
                           streaming: Boolean = true): DataFrame = {
    val quantiles = udaf(graft.operators.QuantileSketch.agg(Array(0.1, 0.5, 0.9)))
      .withName("approx_quantiles_stream")
    val src = if (streaming) Some(eventsSource(spark, dir)) else None
    val events =
      if (!streaming) graft.queries.T.events(spark, dir)
      else graft.queries.T.normTs(src.get.stream())
    val agg = events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(quantiles(col("value")).as("qs"),
        count(lit(1)).as("n_events"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("h"),
        posexplode(col("qs")).as(Seq("q_idx", "q_value")), col("n_events"))
      .select("h", "q_idx", "q_value", "n_events")
    if (!streaming) return agg.orderBy("h", "q_idx")

    complete(agg, src.get).orderBy("h", "q_idx")
  }

  /** Stream-stream interval join: clicks matched to the views they
    * followed within `windowMinutes`, per user. Both sides carry
    * watermarks, so each side's join state is bounded by the interval +
    * watermark delay — the canonical attribution-join shape. Driven
    * AvailableNow; equals the equivalent batch self-join, which is the
    * DuckDB oracle.
    */
  def viewClickJoin(spark: SparkSession, dir: String, windowMinutes: Int): DataFrame = {
    val src = eventsSource(spark, dir)

    def side(tag: String) = {
      val ev = graft.queries.T.normTs(src.stream())
      ev.where(col("event_type") === (if (tag == "v") "view" else "click"))
        .select(col("event_id").as(s"${tag}_id"), col("user_id").as(s"${tag}_user"),
          col("ts").as(s"${tag}_ts"))
        .withWatermark(s"${tag}_ts", "1 hour")
    }

    val joined = side("v").join(side("c"),
      expr(s"""v_user = c_user AND c_ts >= v_ts AND
              |c_ts <= v_ts + interval $windowMinutes minutes""".stripMargin))
      .select(col("v_id").as("view_id"), col("c_id").as("click_id"),
        col("v_user").as("user_id"))

    append(joined, src).orderBy("view_id", "click_id")
  }

  // ------------------------------------------------- stateful sessionization

  final case class Ev(user_id: Long, event_id: Long, tsu: Long,
                      v: java.math.BigDecimal)
  final case class OpenSess(startUs: Long, endUs: Long, n: Long,
                            sum: java.math.BigDecimal)
  final case class SessState(nextIdx: Long, open: Option[OpenSess])
  final case class SessOut(user_id: Long, session_idx: Long, n_events: Long,
                           start_us: Long, end_us: Long, sum_value: Double)

  /** Custom per-key streaming state machine (flatMapGroupsWithState): keeps
    * each user's open session in state, emits a session the moment a gap
    * larger than `gapMicros` is observed. State per key is O(1) (one open
    * session + a counter) regardless of history length — the 100 TB-safe
    * shape; the watermark/timeout bounds how long an idle key is retained.
    *
    * Here the stream is driven to completion with AvailableNow; per-user
    * sentinel events 10 gaps past the global max timestamp flush every
    * still-open session through the same gap rule (sentinels never start a
    * session), so the emitted set equals the batch window-function query
    * events_sessionize and shares its DuckDB oracle.
    */
  private[streaming] case class AnomEv(event_type: String, hr: Long, sentinel: Boolean)
  private[streaming] case class AnomState(counts: Map[Long, Long])
  private[streaming] case class AnomOut(event_type: String, hr: Long, cnt: Long,
      trail_sum: Long, trail_hours: Long, spike: Boolean)

  /** Streaming twin of events_anomaly_trailing: per-event_type hourly
    * counts accumulate in flatMapGroupsWithState; the trailing-6-hour
    * spike test for hour H needs H−6..H−1 final, so rows emit once no
    * earlier data can arrive — signaled here by the staged sentinel (the
    * whole corpus replays in one AvailableNow pass), in production by an
    * event-time timeout at watermark > H, after which hours older than
    * H−6 evict and state is O(watermark horizon) per key. State is a
    * hour→count map — |distinct hours| entries per event_type, never raw
    * events.
    */
  private def anomFn(
      key: String, events: Iterator[AnomEv],
      state: GroupState[AnomState]): Iterator[AnomOut] = {
    var counts = state.getOption.map(_.counts).getOrElse(Map.empty[Long, Long])
    var flush = false
    events.foreach { e =>
      if (e.sentinel) flush = true
      else counts = counts.updated(e.hr, counts.getOrElse(e.hr, 0L) + 1L)
    }
    if (!flush) {
      state.update(AnomState(counts))
      Iterator.empty
    } else {
      state.remove()
      counts.keys.toArray.sorted.iterator.map { h =>
        val trail = (h - 6 to h - 1).flatMap(counts.get)
        AnomOut(key, h, counts(h), trail.sum, trail.size.toLong,
          counts(h) * trail.size > trail.sum * 2)
      }.filter(_.trail_hours >= 3)
    }
  }

  /** Spec harness: run the anomaly gate with events SPLIT across
    * micro-batches (one file per trigger, mtime-pinned order, sentinel
    * last) to prove the hour→count state accumulates across batches —
    * the cross-batch property the single-pass driver run can't
    * distinguish from a within-batch accumulate. Returns (rows,
    * non-empty micro-batches).
    */
  private[streaming] def anomalyMultiBatch(
      spark: SparkSession, events: DataFrame): (DataFrame, Long) = {
    val typed = events.select(col("event_type"), col("hr").cast("long"),
      lit(false).as("sentinel"))
    val src = StreamRun.parts(spark, Seq(
      typed.where(col("hr") % 2 === 0),
      typed.where(col("hr") % 2 =!= 0),
      anomSentinels(typed)), oneFilePerTrigger = true)
    val (out, nBatches) = StreamRun.toMemory(anomalies(spark, src), src.dir,
      OutputMode.Append())
    (out.orderBy("event_type", "hr"), nBatches)
  }

  /** One flush sentinel per event_type, after every real hour. */
  private def anomSentinels(typed: DataFrame): DataFrame =
    typed.select("event_type").distinct()
      .select(col("event_type"), lit(Long.MaxValue).as("hr"), lit(true).as("sentinel"))

  private def anomalies(spark: SparkSession, src: StreamRun.Source): DataFrame = {
    import spark.implicits._
    src.stream().as[AnomEv].groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(anomFn)
      .toDF()
  }

  def anomalyTrailing(spark: SparkSession, dir: String): DataFrame = {
    val batch = graft.queries.T.normTs(spark.read.parquet(s"$dir/events.parquet"))
    val normalized = batch.select(col("event_type"),
      expr("unix_micros(ts) div 3600000000").as("hr"), lit(false).as("sentinel"))
    val src = StreamRun.parts(spark, Seq(normalized, anomSentinels(normalized)))
    append(anomalies(spark, src), src).orderBy("event_type", "hr")
  }

  private def sessionFn(gapMicros: Long)(
      user: Long, events: Iterator[Ev], state: GroupState[SessState]): Iterator[SessOut] = {
    val evs = events.toArray.sortBy(e => (e.tsu, e.event_id))
    var st = state.getOption.getOrElse(SessState(1L, None))
    val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
    evs.foreach { e =>
      val sentinel = e.event_id < 0
      st.open match {
        case Some(o) if !sentinel && e.tsu - o.endUs <= gapMicros =>
          st = st.copy(open = Some(OpenSess(o.startUs, math.max(o.endUs, e.tsu),
            o.n + 1, o.sum.add(e.v))))
        case Some(o) =>
          out += SessOut(user, st.nextIdx, o.n, o.startUs, o.endUs, o.sum.doubleValue)
          st = SessState(st.nextIdx + 1,
            if (sentinel) None else Some(OpenSess(e.tsu, e.tsu, 1L, e.v)))
        case None =>
          if (!sentinel) st = st.copy(open = Some(OpenSess(e.tsu, e.tsu, 1L, e.v)))
      }
    }
    state.update(st)
    out.iterator
  }

  def sessionize(spark: SparkSession, dir: String, gapMicros: Long): DataFrame = {
    import spark.implicits._
    val batchRaw = spark.read.parquet(s"$dir/events.parquet")
    val batch = graft.queries.T.normTs(batchRaw)
    // stage source dir in a uniform normalized schema (the driver's
    // events.parquet ts encoding varies by round — NANOS-as-long, µs-NTZ —
    // and a file stream can't mix those with the µs sentinels): the real
    // events, plus one sentinel per user far past the global max timestamp
    // (flushes the final open sessions through the ordinary gap rule)
    val normalized = batch.select(col("user_id").cast("long"),
      col("event_id").cast("long"), col("ts"), col("value").cast("double"))
    val maxTs = batch.agg(max(expr("unix_micros(ts)"))).head().getLong(0)
    val src = StreamRun.parts(spark, Seq(normalized,
      normalized.select("user_id").distinct()
        .select(col("user_id"), lit(-1L).as("event_id"),
          expr(s"timestamp_micros(${maxTs + 10 * gapMicros}L)").as("ts"),
          lit(0.0).as("value"))))
    val evs = src.stream().select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("tsu"),
        col("value").cast("decimal(18,2)").as("v"))
      .as[Ev]

    val sessions = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        sessionFn(gapMicros))

    append(sessions.toDF(), src).orderBy("user_id", "session_idx")
  }

  final case class Scd2Ev(user_id: Long, event_id: Long, tsu: Long, event_type: String)
  final case class Scd2State(nextVersion: Long, openType: String,
      openFromUs: Long, hasOpen: Boolean)
  final case class Scd2Out(user_id: Long, version: Long, status: String,
      valid_from_us: Long, valid_to_us: Option[Long], is_current: Boolean)

  /** Incremental SCD2 maintenance: the same change-point collapse the
    * batch window query does, as an O(1)-per-user state machine — a
    * version row is emitted the moment the NEXT change closes it, and the
    * sentinel flushes the open (current) version. Within a batch events
    * are sorted by (tsu, event_id); across batches correctness relies on
    * event-time-ordered arrival (the staged file layout guarantees it
    * here; a production deployment would bound disorder with a watermark
    * and buffer inside the state, as the anomaly machine does).
    */
  private def scd2Fn(
      user: Long, events: Iterator[Scd2Ev],
      state: GroupState[Scd2State]): Iterator[Scd2Out] = {
    val evs = events.toArray.sortBy(e => (e.tsu, e.event_id))
    var st = state.getOption.getOrElse(Scd2State(1L, "", 0L, hasOpen = false))
    val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
    evs.foreach { e =>
      if (e.event_id < 0) { // sentinel: flush the current version
        if (st.hasOpen) {
          out += Scd2Out(user, st.nextVersion, st.openType, st.openFromUs,
            None, is_current = true)
          st = st.copy(hasOpen = false)
        }
      } else if (!st.hasOpen) {
        st = Scd2State(st.nextVersion, e.event_type, e.tsu, hasOpen = true)
      } else if (e.event_type != st.openType) {
        out += Scd2Out(user, st.nextVersion, st.openType, st.openFromUs,
          Some(e.tsu), is_current = false)
        st = Scd2State(st.nextVersion + 1, e.event_type, e.tsu, hasOpen = true)
      } // same type: continuation, SCD2 tracks changes only
    }
    state.update(st)
    out.iterator
  }

  /** One flush sentinel per user, after every real event. */
  private def scd2Sentinels(normalized: DataFrame, afterUs: Long): DataFrame =
    normalized.select("user_id").distinct()
      .select(col("user_id"), lit(-1L).as("event_id"),
        expr(s"timestamp_micros(${afterUs + 1000000L}L)").as("ts"),
        lit("~sentinel").as("event_type"))

  private def scd2Versions(spark: SparkSession, src: StreamRun.Source): DataFrame = {
    import spark.implicits._
    src.stream().select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("tsu"), col("event_type"))
      .as[Scd2Ev].groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(scd2Fn)
      .toDF()
  }

  private def scd2Ordered(versions: DataFrame): DataFrame =
    versions.select("user_id", "version", "status", "valid_from_us", "valid_to_us",
        "is_current")
      .orderBy("user_id", "version")

  def scd2Dimension(spark: SparkSession, dir: String): DataFrame = {
    val batch = graft.queries.T.events(spark, dir)
    val normalized = batch.select(col("user_id").cast("long"),
      col("event_id").cast("long"), col("ts"), col("event_type"))
    val maxTs = batch.agg(max(expr("unix_micros(ts)"))).head().getLong(0)
    val src = StreamRun.parts(spark, Seq(normalized, scd2Sentinels(normalized, maxTs)))
    scd2Ordered(append(scd2Versions(spark, src), src))
  }

  /** Spec hook: the SCD2 machine driven across FORCED multiple batches
    * (maxFilesPerTrigger=1 over time-split files with pinned ascending
    * mtimes, so arrival respects event time) — proves open-version state
    * survives batch boundaries. Returns (result, batches-with-input).
    */
  private[streaming] def scd2MultiBatch(
      spark: SparkSession, dir: String): (DataFrame, Long) = {
    val batch = graft.queries.T.events(spark, dir)
      .withColumn("us", expr("unix_micros(ts)"))
    val bounds = batch.agg(min("us"), max("us")).head()
    val split = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val normalized = batch.select(col("user_id").cast("long"),
      col("event_id").cast("long"), col("ts"), col("event_type"), col("us"))
    val src = StreamRun.parts(spark, Seq(
      normalized.where(col("us") < split).drop("us"),
      normalized.where(col("us") >= split).drop("us"),
      scd2Sentinels(normalized, bounds.getLong(1))), oneFilePerTrigger = true)
    val (out, nBatches) = StreamRun.toMemory(scd2Versions(spark, src), src.dir,
      OutputMode.Append())
    (scd2Ordered(out), nBatches)
  }

  /** Lambda-architecture unification: BATCH partial aggregates over the
    * base half of the event log merged with partials STREAMED over the
    * delta half — counts sum, DECIMAL sums sum, min/max fold — under the
    * same DuckDB oracle as the all-batch `events_incremental_agg` (a full
    * recompute), so a hash match proves batch and streaming paths land on
    * identical state. The temporal split point is a bounded two-long
    * driver pull (needed literally, to stage the delta files the stream
    * source reads); at scale the delta would BE the arriving files.
    */
  def incrementalMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.queries.T.events(spark, dir)
      .withColumn("us", expr("unix_micros(ts)"))
    val bounds = ev.agg(min("us"), max("us")).head()
    val split = (bounds.getLong(0) + bounds.getLong(1)) / 2

    def partials(df: DataFrame) = df.groupBy("event_type")
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast("decimal(18,2)")).as("psum"),
        min("us").as("pmin"), max("us").as("pmax"))

    val base = partials(ev.where(col("us") < split))

    val src = StreamRun.parts(spark, Seq(ev.where(col("us") >= split)))
    base.unionByName(complete(partials(src.stream()), src), allowMissingColumns = false)
      .groupBy("event_type")
      .agg(sum("pn").as("n_events"),
        sum("psum").cast("double").as("sum_value"),
        min("pmin").as("min_us"), max("pmax").as("max_us"))
      .orderBy("event_type")
  }
}
