package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{Observation, SparkSession}
import graft.SparkEntry

/** `batch_curation`: a closed loop with one client over a fixed list of
  * judged queries, each materialised with a noop write. The list runs
  * once as a cold first pass (fresh JVM, empty fixture tier), then in
  * seeded order as warm passes, one per ten seconds of `--seconds`.
  * Every run observes a digest of its output; outputs whose digest the
  * DuckDB oracle has not confirmed yet are dumped afterwards, untimed,
  * for the oracle check that `run.py` performs.
  */
final class BatchWorkload(spark: SparkSession, args: Main.Args, tracer: Tracer) {
  import BatchWorkload._

  /** Run one query to a noop write, observing an order-insensitive
    * digest of its output (row count and the sum of a 64-bit row hash)
    * in the same execution. Returns the wall seconds and the digest, or
    * None if the query failed.
    */
  private def runQuery(name: String, label: String): (Double, Option[String]) = {
    tracer.phase(s"$label:$name")
    val t0 = tracer.nowMs
    val digest = try {
      tracer.span(s"query:$label:$name") {
        val df = tracer.span("build")(SparkEntry.queries(name)(spark, args.sfDir))
        val obs = Observation(s"digest_${label}_$name")
        tracer.span("execute")(Digest.observe(df, obs).write.format("noop").mode("overwrite").save())
        Some(Digest.of(obs))
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }
    // stage boundaries persisted by operators must not accumulate
    spark.catalog.clearCache()
    ((tracer.nowMs - t0) / 1e3, digest)
  }

  def run(): Outcome = {
    val names = families.flatMap(_._2)
    val runs = scala.collection.mutable.ArrayBuffer.empty[(String, Option[String])]
    def exec(n: String, label: String): Double = {
      val (s, d) = runQuery(n, label)
      runs += n -> d
      s
    }

    val cg0 = tracer.codegen
    val firstStart = tracer.nowMs
    val first = names.map(n => n -> exec(n, "first")).toMap
    val firstEnd = tracer.nowMs
    val cg1 = tracer.codegen
    val fixtures = Layers.fixtureTier()

    val gc0 = tracer.gcMs
    tracer.resetHeapPeak()
    val warmStart = tracer.nowMs
    val rnd = new scala.util.Random(args.seed)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val passWall = scala.collection.mutable.ArrayBuffer.empty[Double]
    // one warm pass per ten seconds of --seconds (a pass takes about that
    // long on a 4-core host); a fixed count keeps the sample mix steady
    while (passes.size < math.max(1, args.seconds / 10)) {
      val p0 = tracer.nowMs
      passes += rnd.shuffle(names).map(n => n -> exec(n, "warm")).toMap
      passWall += (tracer.nowMs - p0) / 1e3
    }
    val warmEnd = tracer.nowMs
    val warm = names.map(n => n -> Stats.median(passes.map(_(n)).toSeq)).toMap

    tracer.phase("dump")
    val digests = runs.groupMap(_._1)(_._2).map { case (n, ds) => n -> ds.flatten.toSeq }
    val verified = loadVerified()
    dump(names.filter(n => digests(n).exists(d => !verified.getOrElse(n, Set.empty)(d))), digests)

    val endToEnd = Map(
      "cold_pass_s" -> (firstEnd - firstStart) / 1e3,
      "throughput_per_s" -> passes.size * names.size / ((warmEnd - warmStart) / 1e3))

    val layers = Layers.common(tracer,
      catalystWindow = (firstStart, firstEnd),
      buildMs = tracer.spansNamed(_ == "build").filter(_.startMs < firstEnd).map(_.ms).sum,
      codegen = cg1 - cg0,
      execPhase = _.startsWith("warm:"),
      streamWindow = (warmStart, warmEnd),
      streamQuery = _ => true,
      fixtures = fixtures,
      gcMs = tracer.gcMs - gc0,
      wallMs = warmEnd - firstStart)

    val famWarm = families.map { case (f, qs) => familyMetric(f) -> qs.map(warm).sum }
    val perQuery = names.flatMap(n =>
      Seq(s"query.$n.first_s" -> first(n), s"query.$n.warm_s" -> warm(n)))
    val detail = Map(
      "batch_warm_pass_s" -> Stats.median(passWall.toSeq),
      "batch_warm_passes" -> passes.size.toDouble) ++ famWarm ++ perQuery ++
      (if (tracer.enabled) coverage(firstStart, warmEnd) else Map.empty)

    val failed = runs.count(_._2.isEmpty).toLong
    Outcome(runs.size.toLong, failed, correct = failed == 0, endToEnd, layers, detail, Map.empty)
  }

  /** Share of each query's wall time that build + Catalyst phases + SQL
    * execution intervals account for (union, so overlaps count once).
    */
  private def coverage(a: Double, b: Double): Map[String, Double] = {
    val phases = tracer.catalystIntervals ++ tracer.sqlIntervals
    val builds = tracer.spansNamed(_ == "build").map(s => (s.startMs, s.endMs))
    val shares = tracer.spansNamed(_.startsWith("query:"))
      .filter(s => s.startMs >= a && s.endMs <= b && s.ms > 0)
      .map(s => Tracer.covered(builds ++ phases, s.startMs, s.endMs) / s.ms)
    Map("trace.query_coverage_min" -> shares.min,
      "trace.query_coverage_p50" -> Stats.median(shares))
  }

  /** Digests that the DuckDB oracle has already confirmed, per query. */
  private def loadVerified(): Map[String, Set[String]] = {
    val f = Paths.get(args.verified)
    if (args.verified.isEmpty || !Files.exists(f)) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
      root.properties().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText).toSet }.toMap
    }
  }

  /** Write `oracle/digests.json` (each run's digest per query) and, for
    * the queries that produced a digest the oracle has not confirmed yet,
    * their results and oracle SQL the way `graft.Verify` does, for
    * `scripts/check_oracle.py`.
    */
  private def dump(names: Seq[String], digests: Map[String, Seq[String]]): Unit = {
    val out: Path = Paths.get("oracle").toAbsolutePath
    Files.createDirectories(out)
    val dumped = names.map { n =>
      val obs = Observation(s"digest_dump_$n")
      Digest.observe(SparkEntry.queries(n)(spark, args.sfDir), obs).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(n).toString)
      spark.catalog.clearCache()
      n -> Digest.of(obs)
    }.toMap
    val sql = SparkEntry.oracleSql
    val json = names.filter(sql.contains)
      .map(n => s"${Json.str(n)}:${Json.str(sql(n))}").mkString("{", ",", "}")
    Files.writeString(out.resolve("oracle_sql.json"), json)
    val ds = digests.toSeq.sortBy(_._1).map { case (n, d) =>
      s"${Json.str(n)}:{\"runs\":${d.map(Json.str).mkString("[", ",", "]")}," +
        s"\"dumped\":${dumped.get(n).map(Json.str).getOrElse("null")}}"
    }.mkString("{", ",", "}")
    Files.writeString(out.resolve("digests.json"), ds)
  }
}

object BatchWorkload {
  /** Query list by engine family; one or two judged queries per family so
    * a run fits the benchmark's time budget.
    */
  val families: Seq[(String, Seq[String])] = Seq(
    "transforms" -> Seq("p8_normalize"),
    "cdc.batch" -> Seq("c7_snapshot_upsert"),
    "relational" -> Seq("q1_agg"),
    "operators.dedup" -> Seq("e1_simhash"),
    "operators.similarity" -> Seq("e2_ivf"),
    "operators.text" -> Seq("e164_bpe_sampled"),
    "operators.stats" -> Seq("e106_spearman"),
    "operators.multimodal" -> Seq("e120_phash_buckets", "e6_frame_sample"),
    "streaming.stateful" -> Seq("c23_stream_tws"))

  def familyMetric(f: String): String =
    if (f == "cdc.batch") "cdc.batch_warm_s" else s"$f.warm_s"
}
