package graft

import java.nio.file.{Files, NoSuchFileException, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.queries.Stage

/** The durable fixture tier (`target/graft-fixtures`): publish and
  * reuse, stale-directory replacement, the scalar guards, pinned feed
  * order and derivation-keyed names. Every fixture here is keyed by a
  * one-time testdata dir and swept afterwards.
  */
class StageSpec extends SparkSpec {
  import spark.implicits._

  /** A one-file testdata dir, the fixture tier's source fingerprint. */
  private def withTestdata(body: String => Unit): Unit = {
    val dir = Stage.tempDir("graft-stage-spec-").toString
    Seq(1L, 2L, 3L).toDF("x").write.parquet(s"$dir/t.parquet")
    try body(dir) finally StageSpec.sweepFixtures(dir)
  }

  test("durableFrame publishes once and reuses the published copy") {
    withTestdata { dir =>
      val builds = new AtomicInteger()
      def staged = Stage.durableFrame(spark, "spec-frame", dir) {
        builds.incrementAndGet(); spark.range(5).toDF("id")
      }
      assert(staged.as[Long].collect().sorted.toSeq == (0L until 5L))
      assert(staged.as[Long].collect().sorted.toSeq == (0L until 5L))
      assert(builds.get == 1)
    }
  }

  test("durableDir replaces a stale un-markered directory") {
    withTestdata { dir =>
      val builds = new AtomicInteger()
      def stage = Stage.durableDir("spec-dir", dir) { st =>
        builds.incrementAndGet()
        Files.createDirectories(st)
        Files.writeString(st.resolve("payload"), "fresh")
      }
      val p = stage
      // a killed writer of the pre-atomic era: content, no marker
      Files.delete(p.resolve("_SUCCESS"))
      Files.writeString(p.resolve("payload"), "half-written")
      Files.writeString(p.resolve("junk"), "x")
      assert(stage == p)
      assert(builds.get == 2)
      assert(Files.readString(p.resolve("payload")) == "fresh")
      assert(!Files.exists(p.resolve("junk")))
      assert(Files.exists(p.resolve("_SUCCESS")))
    }
  }

  test("durableScalar rejects 0-row and NULL aggregates, naming the fixture") {
    withTestdata { dir =>
      val empty = intercept[IllegalArgumentException] {
        Stage.durableScalar("spec-no-rows", dir)(spark.range(0).toDF())
      }
      assert(empty.getMessage.contains("spec-no-rows"))
      assert(empty.getMessage.contains("0 rows"))
      val nul = intercept[IllegalArgumentException] {
        Stage.durableScalar("spec-null", dir)(spark.range(0).agg(max("id")))
      }
      assert(nul.getMessage.contains("spec-null"))
      assert(nul.getMessage.contains("NULL"))
      assert(Stage.durableScalar("spec-max", dir)(spark.range(7).agg(max("id"))) == 6L)
    }
  }

  test("durableChunkFeed files come back in pinned-mtime order") {
    withTestdata { dir =>
      val chunks = Seq(30L, 10L, 20L).map(base => spark.range(base, base + 3).toDF("id"))
      val feed = Stage.durableChunkFeed("spec-feed", dir)(chunks)
      val files = Files.list(Paths.get(feed)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      assert(files.size == 3)
      val byMtime = files.sortBy(Files.getLastModifiedTime(_).toMillis)
      assert(byMtime.map(Files.getLastModifiedTime(_).toMillis).distinct.size == 3)
      assert(byMtime.map(f => spark.read.parquet(f.toString).as[Long].collect().min) ==
        Seq(30L, 10L, 20L))
    }
  }

  test("editing a chunk derivation lands in a new directory, not a stale hit") {
    withTestdata { dir =>
      val base = spark.range(10).toDF("id")
      val all = Stage.durableChunkFeed("spec-edit", dir)(Seq(base))
      val even = Stage.durableChunkFeed("spec-edit", dir)(Seq(base.where(col("id") % 2 === 0)))
      assert(all != even)
      assert(spark.read.parquet(all).count() == 10)
      assert(spark.read.parquet(even).count() == 5)
      assert(Stage.durableChunkFeed("spec-edit", dir)(Seq(base)) == all)
    }
  }

  test("a plan-digest key is the same in a second JVM") {
    withTestdata { dir =>
      val here = StageSpec.probeFeed(spark, dir)
      // same classpath, module flags and working dir; only the heap is
      // capped (the child builds nothing when the keys agree)
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
      val out = scala.sys.process.Process(
        Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx768m") ++
          jvmArgs ++ Seq("-cp", System.getProperty("java.class.path"),
            "graft.StageSpecProbe", dir),
        new java.io.File(System.getProperty("user.dir"))).!!
      assert(out.linesIterator.toSeq.last == here)
    }
  }

  test("a testdata dir that does not exist fails the fixture key, not the freshness gate") {
    val missing = Stage.tempDir("graft-stage-spec-missing-").resolve("absent").toString
    val builds = new AtomicInteger()
    try {
      intercept[NoSuchFileException] {
        Stage.durableFrame(spark, "spec-missing", missing) {
          builds.incrementAndGet(); spark.range(1).toDF("id")
        }
      }
      assert(builds.get == 0)
    } finally StageSpec.sweepFixtures(missing)
  }
}

object StageSpec {
  /** A chunk feed over the testdata parquet: the path names its key. */
  def probeFeed(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Stage.durableChunkFeed("spec-probe", dir)(Seq(
      s.read.parquet(s"$dir/t.parquet").where(col("x") % 2 === 1)))

  /** Delete every fixture keyed by testdata dir `dir`: a one-time dir
    * leaves entries in `target/graft-fixtures` no later run can hit.
    */
  def sweepFixtures(dir: String): Unit = {
    val sfKey = dir.replaceAll("[^A-Za-z0-9]", "_")
    val root = Paths.get("target", "graft-fixtures")
    if (Files.isDirectory(root)) {
      val listing = Files.list(root)
      try listing.iterator().asScala
        .filter(_.getFileName.toString.contains(sfKey))
        .foreach { p =>
          val walk = Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder[Path]())
            .iterator().asScala.foreach(Files.deleteIfExists(_))
          finally walk.close()
        }
      finally listing.close()
    }
  }
}

/** Prints [[StageSpec.probeFeed]] from a fresh JVM. */
object StageSpecProbe {
  def main(args: Array[String]): Unit = {
    val s = org.apache.spark.sql.SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try println(StageSpec.probeFeed(s, args(0))) finally s.stop()
  }
}
