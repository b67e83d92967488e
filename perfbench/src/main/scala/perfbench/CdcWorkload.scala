package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.cdc.Debezium
import graft.sinks.Sinks
import graft.streaming.Pipeline

/** `cdc_pipeline`: Debezium envelopes for sf `lineitem` (creates, a
  * seeded share of updates, a seeded share of redelivered duplicates) are
  * pre-built into parquet files during set-up. A generator thread, which
  * does no Spark work, lands them by atomic rename into the directory a
  * file stream watches; the stream runs `Pipeline.tableStream` into
  * `Sinks.idempotentBatchWriter` with `ProcessingTime(0)` and at most
  * eight files per trigger. One query, three phases:
  *
  *  1. warm-up (`cold_pass_s`): three 1000-envelope files, one at a
  *     time, so later phases do not pay the first sink calls of a fresh
  *     JVM;
  *  2. drain (`throughput_per_s`): 24 files of 5000 envelopes land at
  *     once and drain eight per trigger — per-row work dominates;
  *  3. paced, an open loop (`latency_*`): a 1000-envelope file every
  *     200 ms for `--seconds` (5k rows/s) — fixed per-batch costs
  *     dominate.
  *
  * Then `Sinks.sinkState` is read over the whole sink log. A file's
  * latency runs from its due time to the end of the sink call of the
  * micro-batch that took it.
  */
final class CdcWorkload(spark: SparkSession, args: Main.Args, tracer: Tracer) {
  import CdcWorkload._

  private val dir = java.nio.file.Paths.get("cdc").toAbsolutePath
  private val warm = 0 until WarmFiles
  private val drain = warm.end until warm.end + DrainFiles
  private val paced = drain.end until drain.end + args.seconds * 1000 / IntervalMs
  private val nFiles = paced.end
  /** Size of each file in units of 1000 envelopes. */
  private val units: IndexedSeq[Int] =
    (0 until nFiles).map(i => if (drain.contains(i)) DrainUnits else 1)

  // (l_orderkey, l_linenumber) repeats in the test data, so the row key
  // is a hash of the whole row: equal keys then mean equal rows
  private val lineitem = {
    val li = spark.read.parquet(s"${args.sfDir}/lineitem.parquet")
    li.withColumn("id", xxhash64(li.columns.map(col).toIndexedSeq: _*))
  }
  private val rowCols: Seq[String] = lineitem.columns.toSeq
  private val route = Pipeline.TableRoute("lineitem", lineitem.schema,
    rowCols.map(c => c -> c), Seq("id"), Seq("ts_ms"))
  private val sinkCols = (rowCols :+ "ts_ms").map(col)

  private def h(salt: Int, cs: Column*): Column =
    xxhash64((lit(args.seed) +: lit(salt) +: cs): _*)

  /** The offered row images with their envelope metadata, before JSON:
    * one create per selected key, an update for a seeded share of them.
    * The timestamps are expressions over `id`, so the envelope side
    * (`Debezium.wrap`) derives the very same `ts_ms`.
    */
  private val createTs = lit(T0) + pmod(h(2, col("id")), lit(Hour))
  private val updateTs = lit(T0 + Hour) + pmod(h(4, col("id")), lit(Hour))
  private def truth(keyShare: Double): (DataFrame, DataFrame) = {
    val keys = lineitem.where(pmod(h(1, col("id")), lit(1000000L)) < lit((keyShare * 1e6).toLong))
    val updates = keys.where(pmod(h(3, col("id")), lit(100L)) < lit(UpdatePct))
      .withColumn("l_quantity", col("l_quantity") + 1)
    (keys, updates)
  }
  private def withTs(creates: DataFrame, updates: DataFrame): DataFrame =
    creates.withColumn("ts_ms", createTs).unionByName(updates.withColumn("ts_ms", updateTs))
  private lazy val keyShare: Double = {
    val perKey = (1 + UpdatePct / 100.0) * (1 + DupPct / 100.0)
    math.min(1.0, units.sum * 1000.0 / perKey / lineitem.count())
  }

  /** Build every envelope file under `staging`: `Debezium.wrap` per op,
    * a seeded duplicate copy for DupPct% of envelopes, and a seeded file
    * per copy (a seeded slot among the files' 1000-envelope units).
    * Returns the file of each index.
    */
  private def stage(staging: Path): IndexedSeq[Path] = {
    val (creates, updates) = truth(keyShare)
    val envelopes = Debezium.wrap(creates, lit("c"), "lineitem", createTs)
      .unionByName(Debezium.wrap(updates, lit("u"), "lineitem", updateTs))
    val owner = typedLit(units.zipWithIndex.flatMap { case (u, i) => Seq.fill(u)(i) })
    val copies = envelopes
      .withColumn("copy", explode(sequence(lit(0),
        when(pmod(h(5, col("value")), lit(100L)) < lit(DupPct), 1).otherwise(0))))
      .withColumn("file_idx", element_at(owner,
        (pmod(h(6, col("value"), col("copy")), lit(units.sum.toLong)) + 1).cast("int")))
      .select(col("value"), lit(Debezium.topicFor("lineitem")).as("topic"), col("file_idx"))
    copies.repartition(16, col("file_idx"))
      .write.partitionBy("file_idx").parquet(staging.toString)
    (0 until nFiles).map { i =>
      val d = staging.resolve(s"file_idx=$i")
      val ls = Files.list(d)
      try ls.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq match {
        case Seq(f) => f
        case fs => sys.error(s"file_idx=$i has ${fs.size} parquet files")
      } finally ls.close()
    }
  }

  def run(): Outcome = {
    val watch = dir.resolve("watch"); val sink = dir.resolve("sink")
    Files.createDirectories(watch)
    val setupT0 = tracer.nowMs
    val files = tracer.span("setup.stage")(stage(dir.resolve("staging")))
    val setupS = (tracer.nowMs - setupT0) / 1e3
    val landed = (0 until nFiles).map(i => watch.resolve(f"env-$i%05d.parquet"))

    // the pipeline, with a timer around every sink call
    val phase = new AtomicReference("warmup")
    val sinkCalls = new ConcurrentHashMap[Long, (Double, Double)]()
    val writer = Sinks.idempotentBatchWriter(route.keys, route.orderCols, sink.toString)
    val sinkCall: (Dataset[Row], Long) => Unit = { (ds, id) =>
      tracer.phase(phase.get)
      val t0 = tracer.nowMs
      writer(ds, id)
      sinkCalls.put(id, (t0, tracer.nowMs))
    }
    val raw = spark.readStream.format("parquet").schema(RawSchema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .load(watch.toString)
    val buildT0 = tracer.nowMs
    val stream = tracer.span("build")(Pipeline.tableStream(raw, route))
    val buildMs = tracer.nowMs - buildT0

    // 1. warm-up (the cold pass): one file at a time
    val cg0 = tracer.codegen
    val coldT0 = tracer.nowMs
    val query = stream.writeStream.queryName("perfbench_cdc")
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .foreachBatch(sinkCall).start()
    warm.foreach { i =>
      Files.move(files(i), landed(i), StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
    }
    val coldS = (tracer.nowMs - coldT0) / 1e3

    // 2. drain and 3. paced: the generator lands each file at its due time
    val due = new Array[Double](nFiles)
    val actual = new Array[Double](nFiles)
    def generate(range: Range, t0: Double, intervalMs: Double): Unit = {
      range.foreach(i => due(i) = t0 + (i - range.start) * intervalMs)
      val gen = new Thread(() => range.foreach { i =>
        var wait = due(i) - tracer.nowMs
        while (wait > 0) { LockSupport.parkNanos((wait * 1e6).toLong); wait = due(i) - tracer.nowMs }
        Files.move(files(i), landed(i), StandardCopyOption.ATOMIC_MOVE)
        actual(i) = tracer.nowMs
      }, "perfbench-generator")
      gen.start(); gen.join()
      query.processAllAvailable()
    }
    val gc0 = tracer.gcMs
    tracer.resetHeapPeak()
    phase.set("drain")
    val drainT0 = tracer.nowMs + 20
    generate(drain, drainT0, 0)
    val drainEnd = tracer.nowMs
    phase.set("paced")
    val pacedT0 = tracer.nowMs + 50
    generate(paced, pacedT0, IntervalMs)
    val pacedEnd = tracer.nowMs
    val cg1 = tracer.codegen
    val fixtures = Layers.fixtureTier()
    phase.set("check")
    val progress = query.recentProgress.map(Tracer.toBatch).toSeq
    query.stop()
    tracer.record("drain", drainT0, drainEnd)
    tracer.record("paced", pacedT0, pacedEnd)

    // file -> micro-batch, from the source log and each batch's offsets
    val logBatch = sourceLog(dir.resolve("ckpt/sources/0"))
    val microOf: Map[Long, Long] = progress.filter(_.rows > 0).flatMap { b =>
      (logOffset(b.sourceStart).getOrElse(-1L) + 1 to logOffset(b.sourceEnd).get).map(_ -> b.batchId)
    }.toMap
    val fileBatch: Map[Int, Long] = logBatch.flatMap { case (name, lb) =>
      fileIndex(name).flatMap(i => microOf.get(lb).map(i -> _)) }
    def visible(i: Int): Option[Double] =
      fileBatch.get(i).flatMap(b => Option(sinkCalls.get(b))).map(_._2)
    val latencies = paced.flatMap(i => visible(i).map(_ - due(i)))

    // the state read (timed; its digest feeds the state check), then the
    // untimed checks
    tracer.phase("state_read")
    val sr0 = tracer.nowMs
    val stateObs = Observation("sink_state")
    tracer.span("state_read")(Digest.observe(
      Sinks.sinkState(spark, sink.toString, route.keys, route.orderCols).select(sinkCols: _*),
      stateObs).write.format("noop").mode("overwrite").save())
    val stateReadMs = tracer.nowMs - sr0
    tracer.phase("check")
    val check = tracer.span("check")(verify(landed, fileBatch, Digest.of(stateObs)))

    val rows = footerRows(landed)
    val drainRows = drain.map(rows).sum.toDouble
    val pacedRows = paced.map(rows).sum.toDouble
    val drainS = (drain.flatMap(visible).foldLeft(drainT0)(math.max) - drainT0) / 1e3
    val (tail, tailPct, tailN) = Stats.tail(latencies)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "cold_pass_s" -> coldS,
      "latency_p50_ms" -> Stats.median(latencies),
      "latency_tail_ms" -> tail,
      "throughput_per_s" -> drainRows / drainS)

    val batchesIn = (a: Double, b: Double) => progress.filter(p => p.rows > 0 && p.startMs >= a && p.startMs <= b)
    val layers = Layers.common(tracer,
      catalystWindow = (coldT0, pacedEnd),
      buildMs = buildMs,
      codegen = cg1 - cg0,
      execPhase = _ == "drain",
      streamWindow = (pacedT0, pacedEnd),
      streamQuery = _ == "perfbench_cdc",
      fixtures = fixtures,
      gcMs = tracer.gcMs - gc0,
      wallMs = pacedEnd - drainT0)
    val drainSinkMs = sinkCalls.asScala.values.filter(c => c._1 >= drainT0 && c._1 < drainEnd)
      .map(c => c._2 - c._1).toSeq
    val lates = paced.map(i => actual(i) - due(i))
    val (sinkFiles, sinkBytes) = parquetFiles(sink)
    val drainRowsIn = batchesIn(drainT0, drainEnd).map(_.rows).sum.toDouble
    val traced = if (!tracer.enabled) Map.empty[String, Double] else {
      val map = tracer.tasksWhere(_ == "drain", _ == "ShuffleMapTask")
      val red = tracer.tasksWhere(_ == "drain", _ == "ResultTask")
      val cover = tracer.batches.filter(b => b.query == "perfbench_cdc" && b.rows > 0 &&
        b.startMs >= drainT0).map(_.coverage)
      Map("cdc.map_task_ms" -> map.runMs, "cdc.map_cpu_ms" -> map.cpuMs,
        "sinks.reduce_task_ms" -> red.runMs,
        "sinks.shuffle_write_bytes" -> map.shuffleWriteBytes.toDouble,
        "sinks.rows_written" -> red.recordsWritten.toDouble,
        "sinks.useful_ratio" -> check.drainKeys / drainRowsIn,
        "trace.streaming_coverage_min" -> cover.min,
        "trace.streaming_coverage_p50" -> Stats.median(cover))
    }
    val detail = Map(
      "gen.late_ms_max" -> lates.max,
      "gen.offered_rows_per_s" -> pacedRows / (paced.size * IntervalMs / 1e3),
      "paced.delivered_rows_per_s" ->
        pacedRows / ((paced.flatMap(visible).foldLeft(pacedT0)(math.max) - pacedT0) / 1e3),
      "drain.batches" -> batchesIn(drainT0, drainEnd).size.toDouble,
      "drain.wall_s" -> drainS,
      "sources.backlog_files_max" -> fileBatch.filter(f => paced.contains(f._1)).groupBy(_._2)
        .values.map(_.size).maxOption.getOrElse(0).toDouble,
      "sinks.write_ms_p50" -> Stats.median(drainSinkMs),
      "sinks.write_ms_sum" -> drainSinkMs.sum,
      "sinks.rows_in" -> drainRowsIn,
      "sinks.files_written" -> sinkFiles.toDouble,
      "sinks.bytes_written" -> sinkBytes.toDouble,
      "sinks.state_read_ms" -> stateReadMs,
      "latency_tail_pct" -> tailPct,
      "latency_tail_n" -> tailN.toDouble) ++ traced

    Outcome(nFiles, check.failedFiles, check.correct, endToEnd, layers, detail,
      Map("state_hash" -> check.stateNote, "audit" -> check.auditNote,
        "mix" -> s"creates, $UpdatePct% of keys updated, $DupPct% of envelopes redelivered (assumed)"))
  }

  final case class Check(correct: Boolean, failedFiles: Long, drainKeys: Double,
                         stateNote: String, auditNote: String)

  /** Output checks:
    *  1. `Sinks.sinkState` over the sink log equals `Sinks.upsertLastWins`
    *     over every offered row image (order-insensitive hash + count);
    *     the expected side is computed from the rows before JSON.
    *  2. Delivered-once audit of the log: for each micro-batch, the rows
    *     it must have appended are the last-wins survivors per key among
    *     the envelopes of the files it took. The log must equal their
    *     union as a multiset — no loss, no row never offered, no batch
    *     written twice. A file is failed if it was never taken or any of
    *     its survivors is missing. The multisets are compared by hash
    *     first; a row-level diff runs only when the hashes differ.
    */
  private def verify(landed: Seq[Path], fileBatch: Map[Int, Long], got: String): Check = {
    def digest(df: DataFrame): String = {
      val obs = Observation()
      Digest.observe(df.select(sinkCols: _*), obs).write.format("noop").mode("overwrite").save()
      Digest.of(obs)
    }
    val sinkPath = dir.resolve("sink").toString
    val offered = (withTs _).tupled(truth(keyShare))
    val want = digest(Sinks.upsertLastWins(offered, route.keys, route.orderCols))

    val fb = spark.createDataFrame(fileBatch.toSeq).toDF("file_idx", "micro_batch")
    val envs = spark.read.schema(RawSchema).parquet(landed.map(_.toString): _*)
      .withColumn("file_idx", regexp_extract(input_file_name(), "env-(\\d+)\\.parquet", 1).cast("int"))
      .select(from_json(col("value"), Debezium.envelopeSchema(lineitem.schema)).as("e"), col("file_idx"))
      .select(col("e.after.*"), col("e.ts_ms"), col("file_idx"))
    val w = Window.partitionBy("micro_batch", "id").orderBy(col("ts_ms").desc)
    val expected = envs.join(fb, "file_idx")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
    val log = spark.read.parquet(sinkPath)
    val (missing, phantom, missingFiles) =
      if (digest(expected) == digest(log)) (0L, 0L, Set.empty[Int])
      else {
        // rows whose copy counts differ between the two multisets
        val diff = expected.groupBy(sinkCols: _*)
          .agg(count(lit(1)).as("n_want"), min("file_idx").as("file_idx"))
          .join(log.groupBy(sinkCols: _*).agg(count(lit(1)).as("n_got")),
            rowCols :+ "ts_ms", "full_outer")
          .select(coalesce(col("n_want"), lit(0L)), coalesce(col("n_got"), lit(0L)), col("file_idx"))
          .collect().filter(r => r.getLong(0) != r.getLong(1))
        (diff.map(r => math.max(0L, r.getLong(0) - r.getLong(1))).sum,
          diff.map(r => math.max(0L, r.getLong(1) - r.getLong(0))).sum,
          diff.filter(r => r.getLong(0) > r.getLong(1)).map(_.getInt(2)).toSet)
      }
    val drainKeys = if (!tracer.enabled) Double.NaN
      else envs.where(col("file_idx").between(drain.start, drain.end - 1))
        .select("id").distinct().count().toDouble
    val undelivered = (0 until nFiles).filterNot(fileBatch.contains).toSet
    val failedFiles = (missingFiles ++ undelivered).size.toLong
    val stateOk = want == got
    Check(stateOk && failedFiles == 0 && missing == 0 && phantom == 0, failedFiles, drainKeys,
      s"${if (stateOk) "match" else "MISMATCH"} (rows:hash $got, expected $want)",
      s"missing $missing phantom $phantom undelivered ${undelivered.size}")
  }

  /** Envelopes per file, from the parquet footers. */
  private def footerRows(files: Seq[Path]): IndexedSeq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getRecordCount finally r.close()
    }.toIndexedSeq
  }

  private def parquetFiles(d: Path): (Long, Long) = {
    val walk = Files.walk(d)
    try {
      val fs = walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      (fs.size.toLong, fs.map(Files.size(_)).sum)
    } finally walk.close()
  }
}

object CdcWorkload {
  val RawSchema: StructType = StructType(Seq(
    StructField("value", StringType), StructField("topic", StringType)))
  val WarmFiles = 3
  val DrainFiles = 24
  /** Drain files hold this many 1000-envelope units; the others one. */
  val DrainUnits = 5
  val IntervalMs = 200
  /** Three drain batches of 40000 envelopes; while paced, a trigger sees
    * about two files, so the cap leaves room to catch up after a stall.
    */
  val MaxFilesPerTrigger = 8
  val T0 = 1700000000000L
  val Hour = 3600000L
  /** The traffic mix is an assumption, not taken from the reference: the
    * reference's Debezium stream carries inserts only (every poll
    * appends), and it records no redelivery rate for its at-least-once
    * hops. A fifth of the keys get an update so the sink's last-wins path
    * does work, and a tenth of the envelopes are redelivered so its
    * dedup does.
    */
  val UpdatePct = 20
  val DupPct = 10

  private val offsetRe = "\"logOffset\"\\s*:\\s*(-?\\d+)".r
  def logOffset(json: String): Option[Long] =
    Option(json).flatMap(offsetRe.findFirstMatchIn(_)).map(_.group(1).toLong)

  private val fileRe = "env-(\\d+)\\.parquet".r
  def fileIndex(path: String): Option[Int] =
    fileRe.findFirstMatchIn(path).map(_.group(1).toInt)

  private val entryRe = "\"path\"\\s*:\\s*\"([^\"]+)\".*\"batchId\"\\s*:\\s*(\\d+)".r
  /** File name -> file-source log batch, from the source's metadata log
    * (plain and compacted batch files alike).
    */
  def sourceLog(d: Path): Map[String, Long] = {
    val ls = Files.list(d)
    try ls.iterator().asScala.filter(_.getFileName.toString.matches("\\d+(\\.compact)?"))
      .toSeq.flatMap { f =>
      Files.readAllLines(f).asScala.flatMap(l => entryRe.findFirstMatchIn(l)
        .map(m => m.group(1) -> m.group(2).toLong))
    }.toMap finally ls.close()
  }
}
