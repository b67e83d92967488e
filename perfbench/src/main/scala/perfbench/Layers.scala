package perfbench

import java.nio.file.{Files, Paths}

/** The per-layer metrics every workload reports on a traced run, named
  * by the engine module (or Spark layer) they time. Workload-specific
  * layers (`sinks.*`, `cdc.*`, `gen.*`, per-query and per-family times)
  * go to each workload's detail map instead.
  */
object Layers {
  def common(t: Tracer,
             catalystWindow: (Double, Double),
             buildMs: Double,
             codegen: Codegen,
             execPhase: String => Boolean,
             streamWindow: (Double, Double),
             streamQuery: String => Boolean,
             fixtures: (Long, Long),
             gcMs: Double,
             wallMs: Double): Map[String, Double] = {
    if (!t.enabled) return Map.empty
    val cat = (t.catalystIn _).tupled(catalystWindow)
    val ex = t.tasksWhere(execPhase)
    val bs = t.batches.filter(b => streamQuery(b.query) &&
      b.startMs >= streamWindow._1 && b.startMs <= streamWindow._2)
    def p50(k: String) = Stats.median(bs.map(_.durations.getOrElse(k, 0L).toDouble))
    def sum(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    Map(
      "sources.latest_offset_ms" -> sum("latestOffset"),
      "sources.get_batch_ms" -> sum("getBatch"),
      "streaming.batches" -> bs.size.toDouble,
      "streaming.rows_per_batch_p50" -> Stats.median(bs.map(_.rows.toDouble)),
      "streaming.trigger_ms_p50" -> p50("triggerExecution"),
      "streaming.planning_ms_p50" -> p50("queryPlanning"),
      "streaming.wal_commit_ms_p50" -> p50("walCommit"),
      "streaming.commit_ms_p50" -> p50("commitOffsets"),
      "catalyst.build_ms" -> buildMs,
      "catalyst.analysis_ms" -> cat.getOrElse("analysis", 0.0),
      "catalyst.optimization_ms" -> cat.getOrElse("optimization", 0.0),
      "catalyst.planning_ms" -> cat.getOrElse("planning", 0.0),
      "codegen.compile_ms" -> codegen.compileMs,
      "codegen.classes" -> codegen.classes.toDouble,
      "codegen.source_kb" -> codegen.sourceBytes / 1024,
      "stage.fixture_builds" -> fixtures._1.toDouble,
      "stage.fixture_bytes" -> fixtures._2.toDouble,
      "exec.run_ms" -> ex.runMs,
      "exec.cpu_ms" -> ex.cpuMs,
      "exec.gc_ms" -> ex.gcMs,
      "exec.shuffle_read_bytes" -> ex.shuffleReadBytes.toDouble,
      "exec.shuffle_write_bytes" -> ex.shuffleWriteBytes.toDouble,
      "exec.spill_bytes" -> ex.spillBytes.toDouble,
      "exec.jobs" -> t.jobsWhere(execPhase).toDouble,
      "exec.tasks" -> ex.tasks.toDouble,
      "jvm.heap_peak_mb" -> t.heapPeakMb,
      "jvm.gc_ms" -> gcMs,
      // listener callback time (see Tracer) against the measured wall
      "trace.overhead_pct" -> 100.0 * t.overheadMs / wallMs)
  }

  /** The engine's fixture tier (`target/graft-fixtures` under the run
    * directory, which starts empty): (stage directories, bytes).
    */
  def fixtureTier(): (Long, Long) = {
    val root = Paths.get("target", "graft-fixtures")
    if (!Files.isDirectory(root)) (0L, 0L)
    else {
      val top = Files.list(root)
      val n = try top.count() finally top.close()
      val walk = Files.walk(root)
      val bytes = try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally walk.close()
      (n, bytes)
    }
  }
}
