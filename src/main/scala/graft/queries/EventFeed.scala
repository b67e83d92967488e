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

  /** Write the chunked feed (+ sentinels) with pinned mtimes.
    *
    * @param perCampaign entity = (user, props.k) when true, else
    *                    (user) with k pinned to 0
    * @param windowOf    attribution window in µs from (loUs, hiUs)
    * @param sentinelGaps for each gap g, one sentinel file at
    *                    ts = hi + g·window (empty = no eviction audit)
    */
  def build(s: SparkSession, dir: String, tmpPrefix: String,
      perCampaign: Boolean, windowOf: (Long, Long) => Long,
      sentinelGaps: Seq[Long]): Built = {
    // The feed is DURABLY staged per (query prefix × sf × testdata
    // fingerprint): building it costs a ts-bounds pass plus one
    // filtered single-file write per chunk over the events table (the
    // dominant cost of the whole query at scale — 46.5 s of c33's
    // 68 s at ×100 was feed construction), while the feed itself is a
    // pure function of the source table and the query's static
    // parameters. Pinned mtimes are part of the staged content (the
    // publish rename preserves them), so arrival order is identical
    // on every reuse. Checkpoints/output stay per-run in [[Stage
    // .tempDir]] — only the input files are shared.
    // the fixture key folds in a digest of the STATIC parameters the
    // staged bytes depend on (perCampaign changes the data, windowOf
    // and sentinelGaps the sentinel rows) — editing a caller's
    // parameters can never silently serve the stale feed. windowOf is
    // a function, so it is characterized by probing it at FOUR spans:
    // two small fixed ones, one at the realistic multi-day scale an
    // actual events feed spans, and one with a NONZERO lo (a formula
    // that reads lo is invisible to lo=0 probes). A non-affine edit
    // would have to agree at all four probe points to slip through,
    // and the digest is a truncated MD5, not a 32-bit String.hashCode,
    // so accidental collisions between candidate formulas are out.
    val probeStr = s"n$dataChunks|$perCampaign|${sentinelGaps.mkString(",")}|" +
      Seq((0L, 3000000L), (0L, 86400000000L),
        (0L, 30L * 86400000000L),
        (1700000000000000L, 1700000000000000L + 7L * 86400000000L))
        .map { case (lo, hi) => windowOf(lo, hi) }.mkString("|")
    val pdig = java.security.MessageDigest.getInstance("MD5")
      .digest(probeStr.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    val fix = Stage.durableDir(
        s"feed-${tmpPrefix.stripSuffix("-")}-p$pdig",
        dir, "_FEED_OK") { stage =>
      val kCol =
        if (perCampaign) get_json_object(col("props"), "$.k").cast("long")
        else lit(0L)
      val ev = Tables.events(s, dir).select(col("user_id"),
        kCol.as("k"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"),
        col("value"))
      val feed = stage.resolve("feed").toString
      val bounds = ev.agg(min("ts_us"), max("ts_us")).head()
      val (lo0, hi0) = (bounds.getLong(0), bounds.getLong(1))
      val w = windowOf(lo0, hi0)
      val step = (hi0 - lo0) / dataChunks + 1
      val feedDir = new java.io.File(feed)
      val stamped = scala.collection.mutable.Set[String]()
      var fileIdx = 0
      def pinNew(): Unit = feedDir.listFiles().foreach { f =>
        val n = f.getName
        if (!n.startsWith("_") && !n.startsWith(".") &&
            !stamped.contains(n)) {
          require(f.setLastModified(1700000000000L + fileIdx * 600000L),
            s"mtime pin failed for $f — arrival order would race")
          stamped += n
        }
      }
      var lo = Long.MinValue
      (Seq.tabulate(dataChunks - 1)(i => lo0 + (i + 1) * step)
        :+ Long.MaxValue).foreach { hi =>
        ev.where(col("ts_us") > lo && col("ts_us") <= hi)
          .coalesce(1).write.mode("append").parquet(feed)
        pinNew(); fileIdx += 1; lo = hi
      }
      sentinelGaps.foreach { g =>
        val ts = hi0 + g * w
        s.range(1).select(lit(-1L).as("user_id"), lit(0L).as("k"),
            lit(-1L).as("event_id"), timestamp_micros(lit(ts)).as("ts"),
            lit(ts).as("ts_us"), lit("noop").as("event_type"),
            lit(0.0).as("value"))
          .coalesce(1).write.mode("append").parquet(feed)
        pinNew(); fileIdx += 1
      }
      java.nio.file.Files.write(stage.resolve("_FEED_OK"),
        s"$lo0 $hi0".getBytes("UTF-8"))
    }
    val Array(lo0, hi0) = new String(java.nio.file.Files.readAllBytes(
      fix.resolve("_FEED_OK")), "UTF-8").split(" ").map(_.toLong)
    Built(fix.resolve("feed").toString, lo0, hi0, windowOf(lo0, hi0))
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
    val b = build(s, dir, tmpPrefix, perCampaign, windowOf, sentinelGaps)
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
    val b = build(s, dir, tmpPrefix, perCampaign = false,
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
