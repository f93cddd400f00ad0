package graft
package gates

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.FrameOps
import GateSupport._

/** The reference loader under the oracle gate: its frame operators
  * (`a1`–`a11`, SURVEY.md §2.A), its generated planner SQL (`b7`, `c5`,
  * §2.C, executed by Spark here and by DuckDB as its own oracle) and
  * the full Derby load round trip (`c_load_roundtrip`).
  */
private[graft] object LoaderGates {

  val gates: Seq[Gate] = Seq(
    Gate("a1_preprocess", (s, dir) => {
      FrameOps.preprocess(
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")),
        Map("l_returnflag" -> "flag", "l_linestatus" -> "status"))
        .orderBy("flag", "status")
    }, () =>
      """SELECT DISTINCT l_returnflag AS flag, l_linestatus AS status
        |FROM lineitem ORDER BY flag, status""".stripMargin),
    Gate("a2_postprocess", (s, dir) => {
      // A2 direct gate: preprocess renames + dedups, then postprocess
      // inverts the rename — but only for columns still present. One
      // renamed column is dropped in between, so the gate exercises
      // BOTH the inverse rename (name → c_name) and the skip-absent
      // path (segment's inverse must not resurrect anything).
      val renames = Map("c_name" -> "name", "c_mktsegment" -> "segment")
      val pre = FrameOps.preprocess(
        t(s, dir, "customer").select(col("c_name"), col("c_mktsegment"), col("c_nationkey")),
        renames)
      FrameOps.postprocess(pre.drop("segment"), renames)
        .orderBy("c_name", "c_nationkey")
    }, () =>
      """SELECT c_name, c_nationkey
        |FROM (SELECT DISTINCT c_name, c_mktsegment, c_nationkey FROM customer)
        |ORDER BY c_name, c_nationkey""".stripMargin),
    Gate("a5_match_types", (s, dir) => {
      // A5 direct gate: a "db-fetched" frame arrives with drifted
      // dtypes (both stringified, the lowest-common-denominator JDBC
      // fetch); matchTypes casts back to the in-flight frame's schema.
      // double→string→double round-trips exactly (Java shortest-repr
      // toString, correctly-rounded parse), so values are untouched
      // and the driver's schema compare is the assertion: output
      // parquet types must equal the oracle's native BIGINT/DOUBLE —
      // an uncast column fails schema_match.
      val target = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal")).schema
      val drifted = t(s, dir, "customer")
        .select(col("c_custkey").cast(StringType).as("c_custkey"),
          col("c_acctbal").cast(StringType).as("c_acctbal"))
      FrameOps.matchTypes(drifted, target).orderBy("c_custkey")
    }, () =>
      """SELECT c_custkey, c_acctbal FROM customer ORDER BY c_custkey"""),
    Gate("a8_drop_replaced", (s, dir) => {
      // A8 direct gate: after id retrieval the natural columns are
      // dropped; the absent-column entry must be tolerated silently
      // (reference regression tests/test_bugs.py:192-220)
      val merged = t(s, dir, "customer")
        .select(col("c_name"), col("c_mktsegment"), col("c_custkey").as("customer_id"))
      FrameOps.dropReplaced(merged, Seq("c_name", "c_mktsegment", "absent_column"))
        .orderBy("customer_id")
    }, () =>
      """SELECT c_custkey AS customer_id FROM customer ORDER BY customer_id"""),
    Gate("a3_has_nulls", (s, dir) => {
      val withNulls = t(s, dir, "orders")
        .select(nullif(col("o_orderpriority"), lit("1-URGENT")).as("pr"))
      val hasN = FrameOps.hasNulls(withNulls)
      val nNull = withNulls.filter(col("pr").isNull).count()
      s.createDataFrame(
        java.util.Arrays.asList(Row(nNull, hasN)),
        StructType(Seq(StructField("n_null_rows", LongType, nullable = false),
          StructField("has_nulls", BooleanType, nullable = false))))
    }, () =>
      """SELECT count(*) FILTER (WHERE nullif(o_orderpriority, '1-URGENT') IS NULL) AS n_null_rows,
        |count(*) FILTER (WHERE nullif(o_orderpriority, '1-URGENT') IS NULL) > 0 AS has_nulls
        |FROM orders""".stripMargin),
    Gate("a4_get_rows", (s, dir) => {
      FrameOps.getRows(t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"))
        .orderBy("c_nationkey", "c_mktsegment")
    }, () =>
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),
    Gate("a6_merge_ids", (s, dir) => {
      val customer = t(s, dir, "customer")
      val data = customer.select(col("c_name"), col("c_mktsegment")).dropDuplicates()
      val dbSide = customer.select(col("c_custkey").as("customer_id"),
        col("c_name"), col("c_mktsegment"))
      FrameOps.mergeIds(data, dbSide, "customer_id", "customer")
        .orderBy("customer_id")
    }, () =>
      """SELECT d.c_name AS c_name, d.c_mktsegment AS c_mktsegment, c.c_custkey AS customer_id
        |FROM (SELECT DISTINCT c_name, c_mktsegment FROM customer) d
        |LEFT JOIN customer c
        |ON d.c_name IS NOT DISTINCT FROM c.c_name
        |AND d.c_mktsegment IS NOT DISTINCT FROM c.c_mktsegment
        |ORDER BY customer_id""".stripMargin),
    Gate("a7_compare_except", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders").select(col("o_orderpriority")).distinct()
        .except(Seq("1-URGENT").toDF("o_orderpriority"))
        .orderBy("o_orderpriority")
    }, () =>
      """SELECT DISTINCT o_orderpriority FROM orders
        |EXCEPT SELECT '1-URGENT' AS o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    Gate("a11_drop_nulls", (s, dir) => {
      FrameOps.dropNulls(
        t(s, dir, "orders").select(col("o_orderkey"),
          nullif(col("o_orderpriority"), lit("1-URGENT")).as("priority")))
        .orderBy("o_orderkey")
    }, () =>
      """SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS priority
        |FROM orders WHERE nullif(o_orderpriority, '1-URGENT') IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin),
    Gate("b7_compare_query", (s, dir) => {
      Seq("region", "nation", "customer", "orders", "lineitem")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(Demo.tpchSchema.getCompareQuery(compareCols, aliasQuote = "`") +
        "\nORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST")
    }, () =>
      (Demo.tpchSchema.getCompareQuery(compareCols) +
        "\nORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST")),
    Gate("c5_load_instructions", (s, dir) => {
      val li = Demo.tpchSchema.getLoadInstructions(compareCols)
      val rows = li.insertAndRetrieve.zipWithIndex.map { case (sp, i) =>
        Row(i + 1, "insert_and_retrieve", sp.table, sp.alias)
      } ++ li.insert.zipWithIndex.map { case (sp, i) =>
        Row(li.insertAndRetrieve.size + i + 1, "insert", sp.table, null)
      }
      s.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(Seq(
          StructField("ord", IntegerType, nullable = false),
          StructField("phase", StringType, nullable = false),
          StructField("tbl", StringType, nullable = false),
          StructField("alias", StringType, nullable = true))))
        .orderBy("ord")
    }, () => {
      val li = Demo.tpchSchema.getLoadInstructions(compareCols)
      val values = (li.insertAndRetrieve.zipWithIndex.map { case (sp, i) =>
        s"(${i + 1}, 'insert_and_retrieve', '${sp.table}', '${sp.alias}')"
      } ++ li.insert.zipWithIndex.map { case (sp, i) =>
        s"(${li.insertAndRetrieve.size + i + 1}, 'insert', '${sp.table}', CAST(NULL AS VARCHAR))"
      }).mkString(",\n")
      s"SELECT CAST(ord AS INT) AS ord, phase, tbl, alias FROM (VALUES\n$values\n) t(ord, phase, tbl, alias) ORDER BY ord"
    }),
    // the flagship reference capability under the oracle gate:
    // normalize a denormalized frame into a fresh Derby star schema via
    // the full load pipeline (plan → conflict-ignoring inserts → id
    // cascade → auto-generated compare validation), then return the
    // database read-back. The oracle reconstructs the same frame from
    // the parquet source directly.
    Gate("c_load_roundtrip", (s, dir) => {
      import graft.connector.{Connector, JdbcFrames}
      val db = s"graft_load_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      val url = s"jdbc:derby:memory:$db;create=true"
      val c0 = java.sql.DriverManager.getConnection(url)
      val st = c0.createStatement()
      st.execute("CREATE TABLE regio (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "r_name VARCHAR(50) NOT NULL UNIQUE)")
      st.execute("CREATE TABLE natie (regio_id INT REFERENCES regio (id), " +
        "n_name VARCHAR(50) NOT NULL UNIQUE)")
      st.close(); c0.commit(); c0.close()

      val denorm = t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name"), col("r_name"))
      val out = Connector.withConnection(s, url) { c =>
        c.load(denorm) // includes generated-compare validation
        JdbcFrames.queryToDataFrame(s, c.conn,
          "SELECT natie.n_name as n_name, regio.r_name as r_name FROM natie " +
            "LEFT JOIN regio ON natie.regio_id = regio.id ORDER BY n_name",
          lowercaseLabels = true)
      }
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      catch { case _: java.sql.SQLException => () } // 08006 = dropped ok
      out
    }, () =>
      """SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_name""".stripMargin),
  )
}
