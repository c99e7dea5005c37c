package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming document-pipeline gates — the training-data curation passes a
  * continuously-arriving corpus needs, expressed as stateful Structured
  * Streaming (beyond-parity: the reference is batch-only, SURVEY.md §1.1).
  *
  * The segment-dedup gate keeps each 10-token segment only at its FIRST
  * occurrence across the whole stream (C4-style exact segment dedup,
  * Raffel et al. 2020 §2.2): per-key state (one presence bit per segment
  * hash) suppresses every later arrival, and within a micro-batch the
  * lexicographically smallest (doc_id, seg_idx) wins — so when files
  * arrive in doc-id band order the emitted set equals the batch
  * `dedup_segments` survivor pick and shares its DuckDB oracle.
  *
  * Scale shape: state is keyed by the segment HASH (bounded per segment,
  * no document text retained), the stream shuffles once on that key, and
  * suppression is O(1) per arrival. In production the presence state
  * would be bounded by a TTL/watermark (dedup horizon); the test driver
  * runs to completion with AvailableNow.
  */
object DocStream {

  final case class SegRow(doc_id: Long, seg_idx: Long, seg: String, seg_h: String)

  /** First-occurrence gate: earlier micro-batch wins outright; within a
    * batch the smallest (doc_id, seg_idx) wins.
    */
  private def firstOccurrenceFn(key: String, rows: Iterator[SegRow],
      state: GroupState[Boolean]): Iterator[SegRow] = {
    if (state.exists) Iterator.empty
    else {
      var best: SegRow = null
      rows.foreach { r =>
        if (best == null || r.doc_id < best.doc_id ||
          (r.doc_id == best.doc_id && r.seg_idx < best.seg_idx)) best = r
      }
      state.update(true)
      if (best == null) Iterator.empty else Iterator.single(best)
    }
  }

  /** Stage a frame as one parquet file per 100000-wide doc-id band, in
    * band order, as a one-file-per-trigger stream (one file per band: a
    * band split across files could process out of order WITHIN the band
    * and break min-pick determinism).
    */
  private def stageByBand(spark: SparkSession, typed: DataFrame,
                          width: Long = 100000L): StreamRun.Source = {
    import spark.implicits._
    val bands = typed.select(expr(s"doc_id div ${width}L").as("b"))
      .distinct().orderBy("b").as[Long].collect()
    val parts = bands.toSeq.map(b => typed.where(expr(s"doc_id div ${width}L = $b")))
    // an empty corpus still stages one (empty) part, for its schema
    StreamRun.parts(spark, if (parts.isEmpty) Seq(typed) else parts,
      oneFilePerTrigger = true)
  }

  /** Drive the gate over `src` to completion; returns the kept rows plus
    * the number of non-empty micro-batches.
    */
  private def run(df: DataFrame, src: StreamRun.Source): (DataFrame, Long) =
    StreamRun.toMemory(df, src.dir, OutputMode.Append())

  /** Stateless streaming quality gate: the Gopher rule projection over a
    * band-ordered document stream — map-only (no state, no watermark),
    * the same rule columns per doc as the batch text_gopher_rules, so
    * the two share one oracle. Narrow 200-id bands force ≥2
    * micro-batches at every SF, proving the incremental path actually
    * increments.
    */
  def gopherGate(spark: SparkSession, docs: DataFrame): (DataFrame, Long) = {
    val typed = docs.select(col("doc_id").cast("long"), col("text"))
    val src = stageByBand(spark, typed, width = 200L)
    val scored = src.stream()
      .withColumn("words", split(trim(col("text")), "\\s+"))
      .withColumn("n_words", expr("CAST(size(words) AS BIGINT)"))
      .withColumn("char_sum",
        expr("CAST(length(regexp_replace(text, '\\\\s+', '')) AS BIGINT)"))
      .withColumn("mean_wl_milli", expr("char_sum * 1000L DIV n_words"))
      .withColumn("stop_hits",
        expr("CAST(size(filter(words, w -> w IN ('the','a','of','to','and','in'))) AS BIGINT)"))
      .withColumn("keep", expr(
        """CAST(n_words BETWEEN 10 AND 100000
          |  AND mean_wl_milli BETWEEN 2000 AND 10000
          |  AND stop_hits >= 2 AS INT)""".stripMargin))
      .select("doc_id", "n_words", "mean_wl_milli", "stop_hits", "keep")
    run(scored, src)
  }

  /** Run the gate over `segs` (doc_id, seg_idx, seg, seg_h). Returns the
    * kept segment rows plus the number of micro-batches processed.
    */
  def segmentDedup(spark: SparkSession, segs: DataFrame): (DataFrame, Long) = {
    import spark.implicits._
    val typed = segs.select(col("doc_id").cast("long"),
      col("seg_idx").cast("long"), col("seg"), col("seg_h"))
    val src = stageByBand(spark, typed)
    val kept = src.stream().as[SegRow].groupByKey(_.seg_h)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        firstOccurrenceFn)
    run(kept.toDF(), src)
  }

  // -------------------------------------------- CDC chunk-level gate

  final case class ChunkRow(doc_id: Long, ch: String)

  /** First-occurrence gate on the chunk hash: earlier micro-batch wins
    * outright; within a batch the smallest doc_id wins.
    */
  private def chunkFirstFn(key: String, rows: Iterator[ChunkRow],
      state: GroupState[Boolean]): Iterator[ChunkRow] = {
    if (state.exists) Iterator.empty
    else {
      var best: ChunkRow = null
      rows.foreach { r => if (best == null || r.doc_id < best.doc_id) best = r }
      state.update(true)
      if (best == null) Iterator.empty else Iterator.single(best)
    }
  }

  /** Incremental chunk-level dedup: admit each content-defined chunk
    * hash only at its first occurrence across the stream — the
    * continuous-ingest form of CDC dedup (rsync/FastCDC chunking, here
    * over `PipelineOps2.cdcChunks` output). Same state shape as the
    * segment gate: one presence bit per chunk hash, one shuffle on the
    * hash, O(1) per arrival. Narrow 200-id bands force ≥3 micro-batches
    * at every SF.
    */
  def cdcChunkGate(spark: SparkSession, chunks: DataFrame): (DataFrame, Long) = {
    import spark.implicits._
    val typed = chunks.select(col("doc_id").cast("long"), col("ch"))
    val src = stageByBand(spark, typed, width = 200L)
    val kept = src.stream().as[ChunkRow].groupByKey(_.ch)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        chunkFirstFn)
    run(kept.toDF(), src)
  }

  // -------------------------------------------------------- TTL'd gate
  // The NoTimeout gate above grows state forever — correct for a bounded
  // backfill, impossible for an unbounded 100 TB stream. The production
  // variant bounds state with a DEDUP HORIZON: a segment's presence bit
  // lives ttl past its FIRST occurrence (fixed window, not sliding — the
  // C4-style "first occurrence within the horizon wins" semantic), evicted
  // by event-time timeout once the watermark passes. A re-arrival after
  // eviction is admitted as first-in-its-horizon again, by design.

  final case class SegRowT(doc_id: Long, seg_idx: Long, seg: String,
                           seg_h: String, ts: java.sql.Timestamp)

  private def ttlGateFn(ttlMs: Long)(key: String, rows: Iterator[SegRowT],
      state: GroupState[Long]): Iterator[SegRowT] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      // a key can receive data in the same batch its timer would have
      // fired — then hasTimedOut is false and the state still exists, so
      // horizon expiry must ALSO be checked against the watermark here
      val wm = state.getCurrentWatermarkMs()
      val alive = state.exists && state.get + ttlMs > wm
      if (alive) Iterator.empty
      else {
        var best: SegRowT = null
        rows.foreach { r =>
          if (best == null || r.doc_id < best.doc_id ||
            (r.doc_id == best.doc_id && r.seg_idx < best.seg_idx)) best = r
        }
        if (best == null) { if (state.exists) state.remove(); Iterator.empty }
        else {
          val firstMs = best.ts.getTime
          state.update(firstMs)
          // evict once the watermark passes first occurrence + horizon
          // (clamped above the watermark — late first arrivals otherwise
          // request a timer in the past, which Spark rejects)
          state.setTimeoutTimestamp(math.max(firstMs + ttlMs, wm + 1))
          Iterator.single(best)
        }
      }
    }
  }

  /** First-occurrence gate with a dedup horizon: state for each segment
    * hash is evicted `ttl` past its first occurrence (event time), so
    * state size is bounded by the horizon's segment arrival rate instead
    * of stream history. `segs` needs (doc_id, seg_idx, seg, seg_h, ts);
    * `delayThreshold` is the watermark lateness bound.
    */
  def segmentDedupTtl(spark: SparkSession, segs: DataFrame,
                      ttlMillis: Long, delayThreshold: String): (DataFrame, Long) = {
    import spark.implicits._
    val typed = segs.select(col("doc_id").cast("long"),
      col("seg_idx").cast("long"), col("seg"), col("seg_h"),
      col("ts").cast("timestamp"))
    val src = stageByBand(spark, typed)
    val raw = src.stream().withWatermark("ts", delayThreshold)
    val kept = raw.as[SegRowT].groupByKey(_.seg_h)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(ttlGateFn(ttlMillis))
    run(kept.toDF(), src)
  }

  final case class CurSeg(doc_id: Long, source: String, seg_idx: Long, seg_h: String)

  private def curFirstFn(key: String, rows: Iterator[CurSeg],
      state: GroupState[Boolean]): Iterator[CurSeg] = {
    if (state.exists) Iterator.empty
    else {
      var best: CurSeg = null
      rows.foreach { r =>
        if (best == null || r.doc_id < best.doc_id ||
          (r.doc_id == best.doc_id && r.seg_idx < best.seg_idx)) best = r
      }
      state.update(true)
      if (best == null) Iterator.empty else Iterator.single(best)
    }
  }

  /** The full streaming curation pipeline over an arriving corpus
    * (doc_id, source, text): a STATELESS per-document repetition gate
    * (2-gram duplicate fraction via HOFs — no shuffle, no state), segment
    * explode, then the stateful first-occurrence segment gate. The
    * repetition fraction is computed with the exact arithmetic of the
    * batch corpus_curation_v3 stage (sum of over-1 gram counts over total
    * = total minus exactly-once grams), so the streamed survivor set
    * answers the same oracle.
    */
  def curationGate(spark: SparkSession, docs: DataFrame): (DataFrame, Long) = {
    import spark.implicits._
    val typed = docs.select(col("doc_id").cast("long"), col("source"), col("text"))
    val src = stageByBand(spark, typed)
    val segs = src.stream()
      .withColumn("ws", expr("filter(split(text, ' +'), x -> x != '')"))
      .where(expr("size(ws) >= 2"))
      .withColumn("g", expr(
        "transform(sequence(1, size(ws) - 1), i -> concat_ws(' ', slice(ws, i, 2)))"))
      .withColumn("dupf", expr(
        """CAST(size(g) - size(filter(array_distinct(g),
          |  d -> size(filter(g, x -> x = d)) = 1)) AS DOUBLE) / size(g)""".stripMargin))
      .where(col("dupf") <= 0.08)
      .select(col("doc_id"), col("source"), posexplode(expr(
        "transform(sequence(0, (size(ws) - 1) div 10), k -> concat_ws(' ', slice(ws, k * 10 + 1, 10)))"))
        .as(Seq("seg_idx", "seg")))
      .select(col("doc_id"), col("source"), col("seg_idx").cast("long").as("seg_idx"),
        md5(col("seg")).as("seg_h"))
    val kept = segs.as[CurSeg].groupByKey(_.seg_h)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        curFirstFn)
    run(kept.toDF(), src)
  }
}
