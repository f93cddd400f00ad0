package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixtures, read boundaries and SQL fragments shared by the gate
  * families: one Spark-side construction and one oracle rendering per
  * planted corpus, so a gate pair that shares a fixture cannot
  * silently desynchronize.
  */
private[graft] object GateSupport {

  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** DuckDB rendering of the planted-leak corpus shared by
    * `e_semantic_contam` (batch scan) and `st_semantic_contam`
    * (stream twin): the `% 10 = 0` slice as doubles plus int8
    * re-encoded copies of the `% 40 = 3` rows under id+2000000.
    */
  lazy val semContamCorpusSql: String = {
    import graft.ann.Ann.{dequantElemSql, qscaleSql, quantizeElemSql}
    s"""SELECT vec_id AS id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |FROM embeddings WHERE vec_id % 10 = 0
       |UNION ALL
       |SELECT vec_id + 2000000 AS id,
       |  list_transform(embedding, x ->
       |    ${dequantElemSql(quantizeElemSql("x", "qscale"), "qscale")}) AS v
       |FROM (SELECT vec_id, embedding,
       |    ${qscaleSql("embedding")} AS qscale
       |  FROM embeddings WHERE vec_id % 40 = 3) s""".stripMargin
  }

  /** The eval-set side of the semantic-contamination gates. */
  lazy val semContamEvalSql: String =
    """SELECT vec_id AS id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |FROM embeddings WHERE vec_id % 20 = 3""".stripMargin

  /** `(doc_id, ts, text)` document-stream slice with a SYNTHETIC
    * hour-grid event time (documents carry no timestamp):
    * `ts = 2024-01-01T00:00Z + (doc_id div 40) h + (doc_id mod 40) min`
    * — deterministic, monotone in doc_id (so an id-range batch split
    * respects event time), minutes < 60 (so the hour window of a doc
    * is exactly `2024-01-01 + (doc_id div 40) h`, computable from the
    * id alone on the oracle side).
    */
  def docStream(
      s: SparkSession, dir: String,
      where: org.apache.spark.sql.Column): DataFrame =
    t(s, dir, "documents").filter(where)
      .select(col("doc_id"),
        expr("timestamp_seconds(1704067200L + (doc_id div 40) * 3600 " +
          "+ (doc_id % 40) * 60)").as("ts"),
        col("text"))

  /** The two far-future watermark sentinels for windowed document
    * streams (the [[graft.streaming.Replay.hourlyCountsReplay]]
    * flush device): empty text produces no gram/token rows, so a
    * sentinel can never contribute an output row even if its own
    * far-future window were ever finalized.
    */
  def docSentinels(s: SparkSession): Seq[DataFrame] = {
    import s.implicits._
    Seq(1L, 2L).map(i =>
      Seq((-i, new java.sql.Timestamp(
        (1704067200L + 100000000L + i * 86400L) * 1000L), ""))
        .toDF("doc_id", "ts", "text"))
  }

  /** Id-range micro-batch split for [[docStream]] slices: the cut is
    * a multiple of 40 (an hour-window boundary of the synthetic
    * grid), so no window straddles the batch boundary and a
    * zero-delay watermark drops nothing.
    */
  def docBatches(docs: DataFrame, cutId: Long = 400L): Seq[DataFrame] =
    Seq(docs.filter(col("doc_id") < cutId),
      docs.filter(col("doc_id") >= cutId))

  /** Child session on the SAME SparkContext but WITH
    * [[GraftExtensions]] installed — extensions only apply at session
    * construction, and the driver's verify session is built without
    * them, so the one gate that exercises the injected optimizer rule
    * ([[plans.RangeJoinRewrite]]) builds its frames here. The active/
    * default session is restored before returning; the child session
    * stays usable (sessions share the context and are never stopped).
    */
  def extendedSession(s: SparkSession): SparkSession = {
    s.sparkContext // the shared context must exist before the builder runs
    val orig = SparkSession.getActiveSession
    val origDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "32")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      orig.foreach(SparkSession.setActiveSession)
      origDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  /** The event operators and their DuckDB oracles share one `ts`
    * convention: int64 epoch nanoseconds (the oracles read the parquet
    * natively and apply `epoch_ns(ts)`). Testdata vintages differ —
    * some store NANOS-annotated int64 (read as long via
    * `spark.sql.legacy.parquet.nanosAsLong`), newer ones store
    * `timestamp[us]` — so normalize at the read boundary: every
    * downstream operator sees ns-long regardless of vintage. A
    * map-side projection only; no shuffle, stays in codegen.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      // parquet timestamp[us] reads as NTZ (isAdjustedToUTC=false);
      // every session pins spark.sql.session.timeZone=UTC so the
      // NTZ→TZ cast is the identity and matches DuckDB's naive
      // epoch_ns interpretation of the same values
      case TimestampNTZType | TimestampType =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case LongType => df
      case other => throw new IllegalStateException(
        s"events.ts: expected TIMESTAMP or BIGINT, got $other")
    }

  /** events with `ts` as a proper timestamp (µs precision — both
    * vintages carry µs resolution; DuckDB likewise truncates ns to µs).
    */
  def events(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").withColumn("ts", expr("timestamp_micros(ts div 1000)"))

  def dec(c: Column, p: Int, sc: Int): Column = c.cast(DecimalType(p, sc))

  /** Exact decimal aggregate → DOUBLE for the final projection.
    *
    * The driver's hasher folds decimal *physical representation* into the
    * hash (Spark parquet decimal width vs DuckDB native decimal), so a
    * value-equal DECIMAL column still hash-mismatches (round-1 verdict:
    * all 7 hash failures were exactly the decimal-output queries) — final
    * output schemas must be decimal-free. The conversion goes through a
    * STRING intermediary on BOTH engine sides: decimal-string → double
    * parsing is correctly rounded in both Spark (Double.parseDouble) and
    * DuckDB (fast_float), guaranteeing bit-identical doubles. A direct
    * decimal → double cast is NOT safe: DuckDB converts int128 → double
    * then divides by 10^scale — two roundings that can differ from
    * Spark's correctly-rounded BigDecimal.doubleValue by 1 ulp once the
    * scaled integer exceeds 2^53 (e.g. DECIMAL(28,8) sums at large scale
    * factors). Keep the per-value decimal casts INSIDE the aggregation —
    * they are what makes the sums order-independent and deterministic.
    */
  def decAgg(c: Column, p: Int, sc: Int): Column =
    dec(c, p, sc).cast(StringType).cast(DoubleType)

  /** price × (1 - discount) with exact decimal arithmetic. */
  def revenueExpr: Column =
    dec(dec(col("l_extendedprice"), 18, 4) * (lit(1) - dec(col("l_discount"), 6, 4)), 18, 8)

  val revenueSql =
    "CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(6,4))) AS DECIMAL(18,8))"

  /** One deterministic per-process scratch root for sink round-trip
    * queries: Overwrite-mode writes reuse it across bench/verify
    * passes instead of leaking a directory per invocation.
    */
  def scratchRoot(): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_scratch")
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Planted fuzzy near-dup corpus shared by `d_fuzzy_pairs` and
    * `d_fuzzy_clusters` — ONE Spark-side construction (and one oracle
    * core below) so the gate pair cannot silently desynchronize: 17
    * template groups (24 hex chars of a group md5, far apart
    * cross-group) with per-doc suffix perturbations 0–3 edits apart.
    */
  def plantedFuzzy(s: SparkSession, dir: String): DataFrame = {
    val grp = md5((col("doc_id") % 17).cast("string"))
    t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("id"),
        concat(lit("g"), substring(grp, 1, 24),
          when(col("doc_id") % 3 === 0, lit(""))
            .when(col("doc_id") % 3 === 1, lit(" x"))
            .otherwise(lit(" yy"))).as("text"))
  }

  /** Planted per-document URLs shared by `t_url_domains` and
    * `p_cap_domain`: 23 synthetic domains + a 1-in-3 mirror host, no
    * URL on every 4th doc (identical construction in both oracles).
    */
  def plantedUrls(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" https://s"),
            (col("doc_id") % 23).cast("string"), lit(".example.com/p/"),
            col("doc_id").cast("string"),
            when(col("doc_id") % 3 === 0, lit(" http://mirror.example.org/m"))
              .otherwise(lit("")))).as("text"))

  /** Planted-class labeled documents for the classifier trainer
    * gates — class tokens appended by doc-id parity, identical
    * construction in [[graft.text.HashedClassifier.plantedLabelSql]].
    */
  def plantedClassDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").as("id"),
        (col("doc_id") % 2).cast("long").as("label"),
        concat(col("text"), when(col("doc_id") % 2 === 1,
          lit(" valueoffer promodeal valueoffer promodeal"))
          .otherwise(lit(" plainnote calmtext plainnote calmtext")))
          .as("text"))

  /** `(id, domain)` URL rows of the [[plantedUrls]] corpus — the
    * shared oracle core for the domain-graph centrality gates
    * (`s_domain_rank` PageRank, `s_domain_hits` HITS).
    */
  val plantedDomainRowsSql: String =
    """WITH d AS (SELECT doc_id,
      |  CASE WHEN doc_id % 4 = 0 THEN text
      |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
      |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
      |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
      |                 ELSE '' END END AS text
      |  FROM documents),
      |uu AS (SELECT doc_id AS id,
      |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
      |  FROM d)
      |SELECT id, regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain
      |FROM uu""".stripMargin

  /** Shared oracle core for the planted fuzzy near-dup pairs
    * (`d_fuzzy_pairs` gates the pairs; `d_fuzzy_clusters` feeds the
    * same pair set through the recursive-CTE component labeling).
    */
  val fuzzyPairsOracle: String =
    """WITH d AS (SELECT doc_id AS id,
      |  'g' || substr(md5(CAST(doc_id % 17 AS VARCHAR)), 1, 24) ||
      |  CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN ' x' ELSE ' yy' END AS t
      |  FROM documents WHERE doc_id % 5 = 0)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
      |FROM d a JOIN d b ON a.id < b.id
      |WHERE abs(length(a.t) - length(b.t)) <= 3 AND levenshtein(a.t, b.t) <= 3""".stripMargin

  /** Shared fixture for the CDC changelog gates: a base snapshot
    * (3/4 of orders) plus a deterministic I/U/D changelog derived
    * from order keys — double updates (%6 supersedes %3), deletes
    * (%9), inserts of keys outside the base (%4), and the
    * insert-then-delete churn case on their overlaps (%36). `seq =
    * key*10 + slice` is unique per key, the [[graft.ops.Changelog]]
    * contract.
    */
  def changelogFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
    val base = o.filter(col("k") % 4 =!= 0)
    def slice(modK: Int, seqOff: Int, op: String,
        status: Column, price: Column) =
      o.filter(col("k") % modK === 0)
        .select(col("k"), (col("k") * 10 + seqOff).as("seq"),
          lit(op).as("op"), status.as("status"), price.as("price"))
    val log =
      slice(3, 1, "U", lit("U1"), col("price") * 2)
        .unionByName(slice(6, 2, "U", lit("U2"), col("price") * 4))
        .unionByName(slice(9, 3, "D", lit("X"), lit(0.0)))
        .unionByName(slice(4, 0, "I", lit("I0"), col("price") + 1))
    (base, log)
  }

  /** The changelog gates' shared oracle CTEs (mirror of
    * [[changelogFixture]] plus the winner join).
    */
  val changelogOracleCtes: String =
    """base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
      |    o_totalprice AS price
      |  FROM orders WHERE o_orderkey % 4 <> 0),
      |log AS (
      |  SELECT o_orderkey AS k, o_orderkey*10+1 AS seq, 'U' AS op,
      |      'U1' AS status, o_totalprice*2 AS price
      |    FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderkey*10+2, 'U', 'U2', o_totalprice*4
      |    FROM orders WHERE o_orderkey % 6 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderkey*10+3, 'D', 'X', 0.0
      |    FROM orders WHERE o_orderkey % 9 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderkey*10+0, 'I', 'I0', o_totalprice+1
      |    FROM orders WHERE o_orderkey % 4 = 0),
      |win AS (SELECT k, max(seq) AS seq, CAST(count(*) AS BIGINT) AS n_ops
      |  FROM log GROUP BY 1),
      |winner AS (SELECT l.k, l.op, l.status, l.price, w.n_ops
      |  FROM log l JOIN win w ON l.k = w.k AND l.seq = w.seq)""".stripMargin

  val compareCols =
    Seq("c_name", "o_totalprice", "l_quantity", "n_name", "r_name")
}
