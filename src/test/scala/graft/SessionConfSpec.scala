package graft

/** Queries that change session conf put it back exactly
  * ([[Graft.withConf]]), and the query registry pairs every query with
  * one oracle.
  */
class SessionConfSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val parts = "spark.sql.shuffle.partitions"
  private val provider = "spark.sql.streaming.stateStore.providerClass"

  /** A session of its own with `spark.sql.shuffle.partitions` unset. */
  private def unsetSession() = {
    val s = spark.newSession()
    s.conf.unset(parts)
    s
  }

  test("a stateful streaming query leaves an unset partition count unset") {
    val s = unsetSession()
    SparkEntry.queries("c9_stream_window")(s, dir).collect()
    assert(s.conf.getAll.get(parts) == None)
  }

  test("a RocksDB streaming query leaves partitions and provider unset") {
    val s = unsetSession()
    SparkEntry.queries("c23_stream_tws")(s, dir).collect()
    assert(s.conf.getAll.get(parts) == None)
    assert(s.conf.getAll.get(provider) == None)
  }

  test("withConf restores a set key when the body throws") {
    val s = spark.newSession()
    s.conf.set(parts, "5")
    intercept[IllegalStateException] {
      Graft.withConf(s, parts -> "7") {
        assert(s.conf.get(parts) == "7")
        throw new IllegalStateException("body failed")
      }
    }
    assert(s.conf.get(parts) == "5")
  }

  test("withConf nested on one key restores each level in turn") {
    val s = unsetSession()
    Graft.withConf(s, parts -> "7") {
      Graft.withConf(s, parts -> "9") {
        assert(s.conf.get(parts) == "9")
      }
      assert(s.conf.get(parts) == "7")
    }
    assert(s.conf.getAll.get(parts) == None)
  }

  test("withConf unsets a key that was unset before") {
    val s = unsetSession()
    val inside = Graft.withConf(s, parts -> "3")(s.conf.get(parts))
    assert(inside == "3")
    assert(s.conf.getAll.get(parts) == None)
    assert(s.conf.get(parts) == "200") // Spark's default again
  }

  test("the query and oracle name sets are equal") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("a name two query files both define is rejected") {
    intercept[IllegalArgumentException] {
      SparkEntry.disjointUnion(Seq(Map("q" -> 1), Map("q" -> 2)))
    }
  }
}
