package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates._

/** Driver contract: one [[graft.gates.Gate]] per implemented operator
  * (SURVEY.md §2), pairing its Spark builder with a DuckDB-equivalent
  * oracle SQL over the same parquet tables. `queries` and `oracleSql`
  * are name-keyed views of the one registry.
  *
  * Determinism rules for oracle hash-matching:
  *   - never sum raw doubles (addition order differs across engines);
  *     cast per-value to a fixed-scale DECIMAL first — double→decimal
  *     rounding ties are unreachable (no binary double equals a
  *     x.5·10^-s decimal boundary), so both engines round identically
  *     and decimal aggregation is exact;
  *   - alias every computed column identically on both sides;
  *   - ORDER BY deterministic keys on both sides.
  */
object SparkEntry {

  /** Every registered gate, gathered from the family files under
    * `graft.gates`.
    */
  val gates: Seq[Gate] =
    CoreGates.gates ++ LoaderGates.gates ++ EventGates.gates ++
      DedupGates.gates ++ AnnGates.gates ++ TextGates.gates ++
      SourceGates.gates ++ StreamGates.gates ++ PipelineGates.gates

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  /** Rendered on each call, so a caller that only runs builders never
    * pays for the oracle SQL.
    */
  def oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracleSql()).toMap
}
