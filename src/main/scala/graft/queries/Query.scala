package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its builder over a session and a
  * table directory, and the DuckDB SQL that reproduces its result (same
  * column names, deterministic values). `sharesStage` marks a builder
  * that reads a process-shared materialization ([[QueryKit]]'s shared
  * stages): within one process the first reader pays the build and the
  * others time a checkpoint read, so its timing is not a chain cost. */
final case class Query(name: String, build: Query.Build, oracleSql: String,
                       sharesStage: Boolean = false)

object Query {
  type Build = (SparkSession, String) => DataFrame
}
