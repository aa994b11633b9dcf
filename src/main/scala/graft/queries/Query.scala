package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark builder (session, data directory →
  * frame) and the DuckDB SQL that replays it over the same parquet
  * tables. Each query module lists its queries once, as
  * `"q_name" -> Query(builder, oracleSql)`, so a query cannot be
  * registered without its oracle. */
final case class Query(build: (SparkSession, String) => DataFrame, oracle: String)
