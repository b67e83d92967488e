package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A file of judged queries: each name's frame builder (`all`) and the
  * DuckDB SQL that must produce the same rows (`oracles`).
  */
trait QueryModule {
  val all: Map[String, (SparkSession, String) => DataFrame]
  val oracles: Map[String, String]
}
