package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** RFM segmentation — the classic behavioral scoring over an event
  * log: per user, Recency (days since last event, against the
  * corpus-wide clock), Frequency (event count), Monetary (exact
  * decimal value sum), each binned into quartiles, concatenated into
  * the familiar 3-digit `rfm_code` (111 = best in all three).
  *
  * Quartiles are FIXED-WIDTH integer bins over the exact global rank:
  * `q = ((rank − 1) · 4) div n + 1` with rank 1-based under a total
  * order (metric, then user id) — deliberately NOT SQL `ntile`, whose
  * remainder distribution is a per-engine spec detail; this rule is
  * one integer expression both engines evaluate identically.
  *
  * Scale shape: the per-user frame is the corpus REDUCED (one row per
  * user); each of the three ranks is one [[Shuffling.rankBy]] pass
  * over that frame — range-partition on the metric, per-partition
  * offsets from a bounded driver collect (one row per partition),
  * map-side sequential rank — never a single-partition window. Monetary sums go through the decimal→string→double chain
  * ([[graft.gates.GateSupport]]'s decAgg rationale): order-independent exact
  * aggregation, then a correctly-rounded double both engines parse
  * identically.
  */
object Rfm {

  private def quartile(rank: String, n: String): Column =
    expr(s"cast((($rank - 1) * 4) div $n as int) + 1")

  /** `(user_id, recency_days, n_events, monetary, r_q, f_q, m_q,
    * rfm_code)` — one row per user. `tsCol` must be epoch-ns longs
    * (the events convention); recency floors to whole days behind
    * the corpus max.
    */
  def rfm(
      events: DataFrame, userCol: String, tsCol: String, valueCol: String,
  ): DataFrame = {
    val day = 86400L * 1000000000L
    val per = events.groupBy(col(userCol).cast("long").as("user_id"))
      .agg(max(col(tsCol)).as("last_ts"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,6)")).cast("decimal(28,6)")
          .cast("string").cast("double").as("monetary"))
    val mx = per.agg(max(col("last_ts")).as("max_ts"),
      count(lit(1)).as("nu"))
    val base = per.crossJoin(broadcast(mx))
      .withColumn("recency_days", expr(s"(max_ts - last_ts) div ${day}L"))
      .select(col("user_id"), col("recency_days"), col("n_events"),
        col("monetary"), col("nu"))
    def q(sortCols: Seq[Column], out: String): DataFrame =
      Shuffling.rankBy(base, "user_id", sortCols)
        .withColumnRenamed("rank", s"__rk_$out")
    val ranked = base
      .join(q(Seq(col("recency_days")), "r"), Seq("user_id"))
      .join(q(Seq(col("n_events").desc), "f"), Seq("user_id"))
      .join(q(Seq(col("monetary").desc), "m"), Seq("user_id"))
    ranked.select(col("user_id"), col("recency_days"), col("n_events"),
      col("monetary"),
      quartile("__rk_r", "nu").as("r_q"),
      quartile("__rk_f", "nu").as("f_q"),
      quartile("__rk_m", "nu").as("m_q"))
      .withColumn("rfm_code",
        col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
  }

  /** DuckDB rendering of [[rfm]] over the `events` table. */
  def rfmSql(whereClause: String): String =
    s"""WITH per AS (SELECT user_id, max(epoch_ns(ts)) AS last_ts,
       |    CAST(count(*) AS BIGINT) AS n_events,
       |    CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE) AS monetary
       |  FROM events $whereClause GROUP BY user_id),
       |mx AS (SELECT max(last_ts) AS max_ts, count(*) AS nu FROM per),
       |b AS (SELECT user_id, (max_ts - last_ts) // 86400000000000 AS recency_days,
       |    n_events, monetary, nu FROM per, mx),
       |r AS (SELECT user_id, row_number() OVER (ORDER BY recency_days, user_id) AS rk FROM b),
       |f AS (SELECT user_id, row_number() OVER (ORDER BY n_events DESC, user_id) AS rk FROM b),
       |m AS (SELECT user_id, row_number() OVER (ORDER BY monetary DESC, user_id) AS rk FROM b),
       |s AS (SELECT b.user_id, recency_days, n_events, monetary,
       |    CAST((r.rk - 1) * 4 // nu + 1 AS INT) AS r_q,
       |    CAST((f.rk - 1) * 4 // nu + 1 AS INT) AS f_q,
       |    CAST((m.rk - 1) * 4 // nu + 1 AS INT) AS m_q
       |  FROM b JOIN r USING (user_id) JOIN f USING (user_id)
       |    JOIN m USING (user_id))
       |SELECT user_id, recency_days, n_events, monetary, r_q, f_q, m_q,
       |  r_q * 100 + f_q * 10 + m_q AS rfm_code
       |FROM s ORDER BY user_id""".stripMargin

  /** The SKETCH twin of [[rfm]] — quartile BOUNDARIES from
    * [[QuantileSketch]] instead of three exact global rank passes:
    * each metric builds one map-combined cell census (≤ ~2k cells),
    * its p25/p50/p75 `est_lb` bounds ride a 1-row broadcast, and
    * every user bins via a codegen'd HOF — no rank shuffle, no
    * per-partition-offset collects, ONE pass over the user frame.
    * This is the scale-correct RFM when boundary-grade quartiles
    * suffice. Two DELIBERATE semantic deltas vs the exact-rank
    * [[rfm]]: (1) users within one sketch bucket (±2^−m relative) of
    * a boundary may land one bin off; (2) METRIC TIES share a
    * segment here — the rank formulation splits tied users across
    * quartiles by user id to keep bins count-balanced, while value
    * boundaries put equal metrics in equal segments (arguably the
    * more meaningful behavior for a SEGMENTATION; on a small
    * tie-heavy frame this, not sketch error, is most of the
    * divergence between the twins). Recency bins ascending (small =
    * best = quartile 1); frequency/monetary invert (`4 − bin`).
    * Monetary quantizes to cents via the engine-identical
    * `floor(x·100 + 0.5)`.
    */
  def rfmSketch(
      events: DataFrame, userCol: String, tsCol: String, valueCol: String,
  ): DataFrame = {
    val day = 86400L * 1000000000L
    val per = events.groupBy(col(userCol).cast("long").as("user_id"))
      .agg(max(col(tsCol)).as("last_ts"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,6)")).cast("decimal(28,6)")
          .cast("string").cast("double").as("monetary"))
    val mx = per.agg(max(col("last_ts")).as("max_ts"))
    val base = per.crossJoin(broadcast(mx))
      .withColumn("recency_days", expr(s"(max_ts - last_ts) div ${day}L"))
      .withColumn("cents", floor(col("monetary") * 100 + 0.5).cast("long"))
      .select(col("user_id"), col("recency_days"), col("n_events"),
        col("monetary"), col("cents"))
    // boundaries are the answering bucket's UPPER bound, compared
    // STRICTLY: the quartile value itself sits inside its bucket
    // (lb ≤ v_q ≤ ub), so `v > ub` is false exactly for the boundary
    // user and every smaller value, true for every value in a higher
    // bucket — the assignment that agrees with the exact-rank
    // quartiles whenever values sit in distinct buckets (RfmSpec
    // pins the agreement; est_lb would miscount the boundary user
    // itself whenever its value exceeds its bucket's lower bound).
    // Boundaries are DEDUPED: on a degenerate distribution two
    // per-mille targets can answer the same sketch bucket, and a
    // repeated ub would bump the bin by 2 — a phantom empty quartile.
    // With distinct boundaries the segment labels COMPRESS instead
    // (e.g. three labels when q250 and q500 share a bucket), the
    // third deliberate delta beside the one-bin-off and tie-sharing
    // ones documented above; the oracle dedupes identically.
    def bounds(c: String) = QuantileSketch
      .quantiles(QuantileSketch.cells(base, c), Seq(250, 500, 750))
      .agg(sort_array(array_distinct(collect_list(col("est_ub"))))
        .as(s"__b_$c"))
    def bin(c: String): Column =
      size(filter(col(s"__b_$c"), b => col(c) > b)).cast("int")
    base
      .crossJoin(broadcast(bounds("recency_days")))
      .crossJoin(broadcast(bounds("n_events")))
      .crossJoin(broadcast(bounds("cents")))
      .select(col("user_id"), col("recency_days"), col("n_events"),
        col("monetary"),
        (bin("recency_days") + 1).as("r_q"),
        (lit(4) - bin("n_events")).as("f_q"),
        (lit(4) - bin("cents")).as("m_q"))
      .withColumn("rfm_code", col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
  }

  /** DuckDB rendering of [[rfmSketch]] over the `events` table. */
  def rfmSketchSql(whereClause: String): String = {
    def bq(valueExpr: String) =
      "(" + QuantileSketch.quantilesSql("b", valueExpr, Seq(250, 500, 750), 5) + ")"
    s"""WITH per AS (SELECT user_id, max(epoch_ns(ts)) AS last_ts,
       |    CAST(count(*) AS BIGINT) AS n_events,
       |    CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE) AS monetary
       |  FROM events $whereClause GROUP BY user_id),
       |mx AS (SELECT max(last_ts) AS max_ts FROM per),
       |b AS MATERIALIZED (SELECT user_id,
       |    (max_ts - last_ts) // 86400000000000 AS recency_days,
       |    n_events, monetary,
       |    CAST(floor(monetary * 100 + 0.5) AS BIGINT) AS cents
       |  FROM per, mx),
       |rb AS MATERIALIZED (SELECT DISTINCT est_ub FROM ${bq("recency_days")} z),
       |fb AS MATERIALIZED (SELECT DISTINCT est_ub FROM ${bq("n_events")} z),
       |mb AS MATERIALIZED (SELECT DISTINCT est_ub FROM ${bq("cents")} z),
       |s AS (SELECT user_id, recency_days, n_events, monetary,
       |    CAST((SELECT count(*) FROM rb WHERE est_ub < b.recency_days)
       |      + 1 AS INT) AS r_q,
       |    CAST(4 - (SELECT count(*) FROM fb WHERE est_ub < b.n_events)
       |      AS INT) AS f_q,
       |    CAST(4 - (SELECT count(*) FROM mb WHERE est_ub < b.cents)
       |      AS INT) AS m_q
       |  FROM b)
       |SELECT user_id, recency_days, n_events, monetary, r_q, f_q, m_q,
       |  r_q * 100 + f_q * 10 + m_q AS rfm_code
       |FROM s ORDER BY user_id""".stripMargin
  }
}
