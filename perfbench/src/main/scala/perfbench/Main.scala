package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** Benchmark harness entry point: one JVM runs one workload and writes
  * its measurements to a JSON result file, which `run.py` turns into the
  * printed metric lines.
  *
  * Arguments (all required): `--workload <cdc_pipeline|batch_curation>`
  * `--seed <n>` `--seconds <n>` `--trace <0|1>` `--sf-dir <dir>`
  * `--result <file>` `--trace-file <file>` `--launch-ms <epoch ms>`, and
  * for `batch_curation` optionally `--verified <file>` (oracle-confirmed
  * output digests).
  * The working directory must be fresh: the engine's fixture tier
  * (`target/graft-fixtures`), checkpoints and sink logs all land in it.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, sfDir: String, result: String,
                        traceFile: String, launchMs: Long, verified: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("sf-dir"), m("result"), m("trace-file"),
      m("launch-ms").toLong, m.getOrElse("verified", ""))
  }

  /** The session `graft.Bench` uses: local[nproc], nproc shuffle
    * partitions, the engine's optimizer exclusions and native functions,
    * UTC. Scratch space stays inside the working directory.
    */
  def session(cpus: Int): SparkSession = {
    val cwd = Paths.get("").toAbsolutePath
    sys.props("graft.tmp.root") = cwd.resolve("graft-tmp").toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", cwd.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cwd.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.sql.optimizer.excludedRules", graft.Graft.excludedOptimizerRules)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = session(cpus)
    val sessionS = (System.currentTimeMillis() - args.launchMs) / 1e3
    val tracer = new Tracer(spark, args.trace)
    val out = args.workload match {
      case "cdc_pipeline" => new CdcWorkload(spark, args, tracer).run()
      case "batch_curation" => new BatchWorkload(spark, args, tracer).run()
      case w => sys.error(s"unknown workload $w")
    }
    val result = out.copy(endToEnd = out.endToEnd +
      ("setup_s" -> (sessionS + out.endToEnd.getOrElse("setup_s", 0.0))),
      detail = out.detail + ("setup.session_s" -> sessionS))
    tracer.close(args.traceFile)
    Files.writeString(Paths.get(args.result), result.json)
    spark.stop()
  }
}

/** What one workload run measured. `endToEnd` and `layers` hold the
  * metrics `BENCHMARK.json` declares (and a few printed beside them);
  * `detail` carries workload-specific per-layer figures that only some
  * workloads exercise; `notes` are printed, not judged.
  */
final case class Outcome(
    attempted: Long, failed: Long, correct: Boolean,
    endToEnd: Map[String, Double], layers: Map[String, Double],
    detail: Map[String, Double], notes: Map[String, String]) {
  def json: String = {
    def num(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val ns = notes.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"correct":$correct,""" +
      s""""end_to_end":${num(endToEnd)},"layers":${num(layers)},""" +
      s""""detail":${num(detail)},"notes":$ns}"""
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile that still has at least ten samples above
    * it, as (value, percentile, n). Up to 20 samples (a paced phase of
    * four seconds or less) no percentile above the median has ten samples
    * beyond it, and the maximum is reported as p100 instead.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 20) (s.lastOption.getOrElse(Double.NaN), 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Order-insensitive digest of a frame's rows, "count:sum of a 64-bit row
  * hash", observed in the same execution that materialises the frame.
  */
object Digest {
  def observe(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("n"),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).cast("decimal(38,0)")).as("h"))

  def of(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}:${Option(m("h")).getOrElse(0)}"
  }
}
