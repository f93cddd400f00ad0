package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gated operator: its registry name, the Spark builder run over a
  * testdata directory, and the DuckDB oracle SQL over the same parquet
  * tables. Builder and oracle live in one entry, so neither can exist
  * without the other. The oracle is a thunk: callers that only run
  * builders never render the SQL.
  */
final case class Gate(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: () => String,
)
