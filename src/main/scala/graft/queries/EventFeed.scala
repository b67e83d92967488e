package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.Attribution

/** Shared machinery for the streaming-attribution queries (c32/c33):
  * the events table becomes a deterministic file feed —
  * [[dataChunks]] ts-range chunks with pinned ascending mtimes (house
  * discipline from c31) —
  * optionally followed by watermark-bearing SENTINEL files (single
  * `user_id = -1` rows far past the data range). Sentinels model the
  * heartbeat a production pipeline always has (event time never stops
  * at 100 TB): they advance the watermark past the data so
  * EventTimeTimeout state eviction fires deterministically, and the
  * final drain enumerates surviving state — making the state-store
  * SIZE part of the judged output instead of an assertion.
  *
  * [[runStream]] is the bounded drain every streaming c-query runs
  * through unless it judges a choreography of its own (restarts,
  * redelivery, poll cycles).
  */
object EventFeed {
  /** Number of DATA chunks (micro-batches) the feed splits the events
    * table into; sentinels add [[build]]'s `sentinelGaps.size` more.
    * Folded into the fixture digest — changing it can never serve a
    * stale staged feed. r19's streaming-floor experiment measured
    * 2 vs 3 (see SCALE.md round-19 notes).
    */
  private[queries] val dataChunks = 2

  /** Schema of the feed files = [[Attribution.EvW]]: `ts` carries the
    * event-time watermark, `ts_us` the same instant as a long for
    * exact integer arithmetic.
    */
  val schema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("k", LongType),
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("ts_us", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** A built feed: chunk/sentinel files under `feed`, data ts bounds
    * and the attribution window.
    */
  case class Built(feed: String, loUs: Long, hiUs: Long, windowUs: Long)

  /** Stage the chunked feed (+ sentinels) with pinned mtimes.
    *
    * @param perCampaign entity = (user, props.k) when true, else
    *                    (user) with k pinned to 0
    * @param windowOf    attribution window in µs from (loUs, hiUs)
    * @param sentinelGaps for each gap g, one sentinel file at
    *                    ts = hi + g·window (empty = no eviction audit)
    */
  def build(s: SparkSession, dir: String,
      perCampaign: Boolean, windowOf: (Long, Long) => Long,
      sentinelGaps: Seq[Long]): Built = {
    // The feed is DURABLY staged (Stage.durableChunkFeed): building it
    // costs a filtered single-file write per chunk over the events
    // table (the dominant cost of the whole query at scale — 46.5 s of
    // c33's 68 s at ×100 was feed construction), while the feed itself
    // is a pure function of the source table and the query's static
    // parameters. The ts bounds are durable scalars, so a reuse runs
    // no Spark job; the sentinel rows carry their timestamps as
    // literals, so the chunk-plan digest covers perCampaign,
    // dataChunks, sentinelGaps and windowOf exactly — callers with the
    // same parameters share one feed. Checkpoints/output
    // stay per-run in [[Stage.tempDir]] — only the input files are
    // shared.
    val tsUs = Tables.events(s, dir).select(unix_micros(col("ts")).as("ts_us"))
    val lo0 = Stage.durableScalar("events-ts-lo", dir)(tsUs.agg(min("ts_us")))
    val hi0 = Stage.durableScalar("events-ts-hi", dir)(tsUs.agg(max("ts_us")))
    val w = windowOf(lo0, hi0)
    val kCol =
      if (perCampaign) get_json_object(col("props"), "$.k").cast("long")
      else lit(0L)
    val ev = Tables.events(s, dir).select(col("user_id"),
      kCol.as("k"), col("event_id"), col("ts"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"),
      col("value"))
    val step = (hi0 - lo0) / dataChunks + 1
    val cuts = Long.MinValue +:
      Seq.tabulate(dataChunks - 1)(i => lo0 + (i + 1) * step) :+ Long.MaxValue
    val feed = Stage.durableChunkFeed("feed-events", dir)(
      cuts.zip(cuts.tail).map { case (lo, hi) =>
        ev.where(col("ts_us") > lo && col("ts_us") <= hi)
      } ++ sentinelGaps.map { g =>
        val ts = hi0 + g * w
        s.range(1).select(lit(-1L).as("user_id"), lit(0L).as("k"),
          lit(-1L).as("event_id"), timestamp_micros(lit(ts)).as("ts"),
          lit(ts).as("ts_us"), lit("noop").as("event_type"),
          lit(0.0).as("value"))
      })
    Built(feed, lo0, hi0, w)
  }

  /** The built feed as a stream: one file per micro-batch, event
    * time `ts` watermarked with zero delay.
    */
  def stream(s: SparkSession, b: Built): Dataset[Attribution.EvW] = {
    import s.implicits._
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(b.feed).withWatermark("ts", "0 seconds").as[Attribution.EvW]
  }

  /** Session conf for a stateful [[runStream]]: every stateful operator
    * opens one state store per shuffle partition per micro-batch (a
    * stream-stream join opens four), and each store pays checkpoint
    * file I/O per batch. The per-deployment knob is exactly
    * `spark.sql.shuffle.partitions` at stream start — thousands on a
    * real cluster, 8 for these ~10⁵-row judged feeds. Results are
    * partition-count invariant (that invariance IS what the oracle hash
    * checks); only the fixed per-store overhead changes.
    */
  val statePartitions: Seq[(String, String)] =
    Seq("spark.sql.shuffle.partitions" -> "8")

  /** [[statePartitions]] on the RocksDB state-store provider, which
    * transformWithState requires (multiple column families); the other
    * RocksDB twins keep it to exercise the durable provider.
    */
  val rocksDbState: Seq[(String, String)] = statePartitions :+
    ("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Where a [[runStream]]'s micro-batches go. */
  sealed trait Sink
  /** Spark's parquet file sink at `out` (append mode). */
  case object FileSink extends Sink
  /** foreachBatch appending each batch to `out` as parquet. */
  case object AppendBatches extends Sink
  /** foreachBatch calling `f(batch, batchId, out)`. */
  final case class EachBatch(f: (DataFrame, Long, String) => Unit)
    extends Sink
  /** The noop sink: the run's product is its checkpoint's state. */
  case object NoSink extends Sink

  /** A finished [[runStream]]: its sink and checkpoint dirs. */
  final case class Run(s: SparkSession, out: String, ckpt: String) {
    /** The parquet the sink left under `out`. */
    def output: DataFrame = s.read.parquet(out)
  }

  /** Drain `query` once as a real micro-batch stream (`Trigger
    * .AvailableNow`) into `sink` in output `mode`, with `conf` in force
    * on the session for the run and restored exactly after it (`Nil`
    * for a stateless drain, or one whose foreachBatch runs batch jobs at
    * the session's own partition count). Output and checkpoint live in
    * a fresh [[Stage.tempDir]] named by `tmpPrefix`.
    */
  def runStream[T](s: SparkSession, tmpPrefix: String,
      conf: Seq[(String, String)], mode: String, sink: Sink)(
      query: => Dataset[T]): Run = {
    val tmp = Stage.tempDir(tmpPrefix).toString
    val run = Run(s, s"$tmp/out", s"$tmp/ckpt")
    graft.Graft.withConf(s, conf: _*) {
      val w = query.writeStream
      (sink match {
        case FileSink => w.format("parquet").option("path", run.out)
        case AppendBatches => w.foreachBatch { (b: Dataset[T], _: Long) =>
          b.toDF().write.mode("append").parquet(run.out); () }
        case EachBatch(f) => w.foreachBatch { (b: Dataset[T], id: Long) =>
          f(b.toDF(), id, run.out) }
        case NoSink => w.format("noop")
      }).option("checkpointLocation", run.ckpt)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow)
        .start().awaitTermination()
    }
    run
  }

  /** Feed → [[Attribution.attributeWindowed]] → per-touch-type rollup. */
  def windowedAttributionRollup(s: SparkSession, dir: String,
      tmpPrefix: String, perCampaign: Boolean,
      windowOf: (Long, Long) => Long,
      sentinelGaps: Seq[Long]): DataFrame = {
    val b = build(s, dir, perCampaign, windowOf, sentinelGaps)
    runStream(s, tmpPrefix, statePartitions, "append", AppendBatches)(
      Attribution.attributeWindowed(stream(s, b), b.windowUs,
        drainAfterMs = b.hiUs / 1000L)).output
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("conversions"),
        Tables.dsum(col("value"), 2).as("attributed_value"))
  }

  /** Feed → [[Attribution.multiTouch]] → exact-integer µ-share rollup
    * with the single double division at report time (shared with the
    * batch `q110_multitouch` and its oracle).
    */
  def multiTouchRollup(s: SparkSession, dir: String,
      tmpPrefix: String): DataFrame = {
    val b = build(s, dir, perCampaign = false,
      windowOf = (_, _) => 0L, sentinelGaps = Seq.empty)
    runStream(s, tmpPrefix, statePartitions, "append", AppendBatches)(
      Attribution.multiTouch(stream(s, b))).output
      .groupBy(col("touch_type"))
      .agg((sum(col("w")).cast("double") / lit(1000000.0))
          .as("conversions"),
        (sum(col("mc")).cast("double") / lit(100000000.0))
          .as("attributed_value"))
  }
}
