package graft.connector

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft._

/** End-to-end connector tests against embedded Derby — ports of the
  * reference's SQLite integration suite
  * (`/root/reference/tests/test_sqlite_connector.py:52-285`), fixtures
  * F1-F4 of FIXTURES.md. Derby stands in for SQLite (no SQLite JDBC
  * driver ships in this environment; Derby does, with real
  * transactions, FKs and unique constraints).
  */
class DerbyConnectorSpec extends AnyFunSuite with SparkSpec {
  import org.apache.spark.sql.functions._

  private var dbCounter = 0
  private def freshDb(): String = {
    dbCounter += 1
    s"jdbc:derby:memory:graft_test_$dbCounter;create=true"
  }

  private def ddl(url: String, statements: String*): Unit = {
    val c = DriverManager.getConnection(url)
    val st = c.createStatement()
    statements.foreach(st.execute)
    st.close(); c.commit(); c.close()
  }

  /** Nothing `load` cached may outlive it, on success or failure. */
  private def assertNoCache(): Unit =
    assert(spark.sharedState.cacheManager.isEmpty,
      "load left a cached frame behind")

  private def strDf(pairs: (String, Seq[String])*): DataFrame = {
    val rows = pairs.head._2.indices.map(i => Row(pairs.map(_._2(i)): _*))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(pairs.map(p => StructField(p._1, StringType, nullable = true))))
  }

  test("F2: insert_and_retrieve_ids with replace/rename (test_sqlite_connector.py:52-92)") {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE a (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, a VARCHAR(50) NOT NULL UNIQUE)",
      "CREATE TABLE b (a_id INT REFERENCES a (id), b VARCHAR(50) NOT NULL UNIQUE)")
    val data = strDf("a" -> Seq("one", "two", "three"), "b" -> Seq("een", "twee", "drie"))

    Connector.withConnection(spark, url) { c =>
      val replaced = c.insertAndRetrieveIds(data, "a", "a_id")
      assert(replaced.columns.contains("a_id"))
      assert(!replaced.columns.contains("a"))

      val renamed = c.insertAndRetrieveIds(
        data, "a", "a_id", columns = Map("a" -> "weg", "b" -> "a"))
      assert(renamed.columns.contains("a_id"))
      assert(!renamed.columns.contains("b"))

      val kept = c.insertAndRetrieveIds(data, "a", "a_id", replace = false)
      assert(kept.columns.contains("a_id") && kept.columns.contains("a"))
    }
  }

  test("retrieveSnapshot: partitioned spark.read.jdbc sees committed rows across N range splits") {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE big (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, v VARCHAR(50) NOT NULL UNIQUE)")
    val data = strDf("v" -> (1 to 200).map(i => f"val_$i%03d"))
    Connector.withConnection(spark, url)(c => c.load(data))

    // read back OUTSIDE the (now committed) load transaction
    Connector.withConnection(spark, url) { c =>
      val snap = c.retrieveSnapshot("big", partitionColumn = Some("id"),
        numPartitions = 4)
      assert(snap.rdd.getNumPartitions == 4, "range split did not happen")
      assert(snap.count() == 200)
      assert(snap.columns.map(_.toLowerCase).sorted.sameElements(Array("id", "v")))
      val vs = snap.select(lower(col("v"))).collect().map(_.getString(0)).sorted
      assert(vs.head == "val_001" && vs.last == "val_200")

      // empty table: no bounds to probe, single-partition fallback
      val st = c.conn.createStatement()
      st.execute("CREATE TABLE emptytab (id INT PRIMARY KEY)")
      st.execute("CREATE TABLE tstab (ts TIMESTAMP NOT NULL, v INT)")
      st.execute("INSERT INTO tstab VALUES " +
        "(TIMESTAMP('2020-01-01 00:00:00'), 1), " +
        "(TIMESTAMP('2020-06-01 00:00:00'), 2), " +
        "(TIMESTAMP('2020-12-31 00:00:00'), 3)")
      st.close(); c.conn.commit()
      assert(c.retrieveSnapshot("emptytab", Some("id")).count() == 0)

      // temporal partition column: Spark's JDBC source takes the
      // probed string bounds directly
      val ts = c.retrieveSnapshot("tstab", Some("ts"), numPartitions = 2)
      assert(ts.count() == 3)
      assert(ts.rdd.getNumPartitions == 2)

      // unsupported partition column type: clear error, not an opaque
      // Derby conversion failure
      val err = intercept[IllegalArgumentException] {
        c.retrieveSnapshot("big", Some("v"))
      }
      assert(err.getMessage.contains("must be integral, date, or timestamp"))
    }
  }

  test("empty schema detected (test_sqlite_connector.py:97-101)") {
    val url = freshDb()
    ddl(url, "VALUES 1") // touch the db so it exists
    Connector.withConnection(spark, url) { c =>
      assert(c.schemaIsEmpty)
      intercept[EmptySchemaError](c.load(strDf("a" -> Seq("x"))))
    }
  }

  test("F3: failed insert raises + rollback keeps old data (test_sqlite_connector.py:106-127)") {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE a (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "naam VARCHAR(50) NOT NULL UNIQUE, waarde INT NOT NULL)")
    val first = strDf("naam" -> Seq("a", "b", "c"), "waarde" -> Seq("1", "2", "3"))
      .withColumn("waarde", col("waarde").cast("int"))
    val second = strDf("naam" -> Seq("a", "b", "c"), "waarde" -> Seq("4", "5", "6"))
      .withColumn("waarde", col("waarde").cast("int"))

    spark.catalog.clearCache()
    Connector.withConnection(spark, url)(c => c.load(first))
    assertNoCache()
    spark.catalog.clearCache() // the failure path is checked on its own
    intercept[InsertingDataFailedError] {
      Connector.withConnection(spark, url)(c => c.load(second))
    }
    assertNoCache()
    // rollback left first load intact
    Connector.withConnection(spark, url) { c =>
      val rows = JdbcFrames.queryToDataFrame(spark, c.conn,
        "SELECT naam, waarde FROM a ORDER BY naam")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      assert(rows == Seq(("a", 1), ("b", 2), ("c", 3)))
    }
  }

  test("F1: vehicle star schema full load + compare round trip (test_sqlite_connector.py:130-234)") {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE eigenaar (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, naam VARCHAR(50) NOT NULL UNIQUE)",
      "CREATE TABLE merk (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, naam VARCHAR(50) NOT NULL UNIQUE)",
      "CREATE TABLE voertuig_type (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, naam VARCHAR(50) NOT NULL UNIQUE)",
      "CREATE TABLE dealer (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, naam VARCHAR(50) NOT NULL UNIQUE)",
      "CREATE TABLE voertuig (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "type_id INT REFERENCES voertuig_type (id), merk_id INT REFERENCES merk (id), " +
        "CONSTRAINT uq_voertuig UNIQUE (type_id, merk_id))",
      "CREATE TABLE merk_dealer (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "merk_id INT REFERENCES merk (id), dealer_id INT REFERENCES dealer (id), " +
        "CONSTRAINT uq_merk_dealer UNIQUE (merk_id, dealer_id))",
      "CREATE TABLE voertuig_eigenaar (eigenaar_id INT REFERENCES eigenaar (id), " +
        "voertuig_id INT REFERENCES voertuig (id), " +
        "CONSTRAINT uq_ve UNIQUE (voertuig_id, eigenaar_id))",
      "CREATE TABLE aankoop (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "voertuig_id INT REFERENCES voertuig (id), merk_dealer_id INT REFERENCES merk_dealer (id), " +
        "datum VARCHAR(20), CONSTRAINT uq_aankoop UNIQUE (voertuig_id, merk_dealer_id, datum))")

    val data = strDf(
      "eigenaar" -> Seq("Luc", "Dave", "Erwin", "Erwin"),
      "soort_voertuig" -> Seq("fiets", "auto", "auto", "motor"),
      "merk" -> Seq("Batavus", "Renault", "Toyota", "Kawasaki"),
      "dealer" -> Seq("Kees Klappertand", "Zoest Occasions", "Zoest Occasions", "Berts Tweewielers"),
      "aankoop" -> Seq("2024-03-01", "2021-06-25", "2022-10-13", "2020-02-03"))
    val columns = Map(
      "eigenaar" -> "eigenaar.naam",
      "soort_voertuig" -> "voertuig_type.naam",
      "merk" -> "merk.naam",
      "dealer" -> "dealer.naam",
      "aankoop" -> "datum")

    spark.catalog.clearCache()
    Connector.withConnection(spark, url)(c => c.load(data, columns = columns))
    assertNoCache()

    // read back through the hand-written reconstruction query the
    // reference uses, and check frame equality (order-insensitive)
    Connector.withConnection(spark, url) { c =>
      val db = JdbcFrames.queryToDataFrame(spark, c.conn,
        """SELECT eigenaar.naam as eigenaar, voertuig_type.naam as soort_voertuig,
          | merk.naam as merk, dealer.naam as dealer, aankoop.datum as aankoop
          |FROM eigenaar
          |LEFT JOIN voertuig_eigenaar ON voertuig_eigenaar.eigenaar_id = eigenaar.id
          |LEFT JOIN voertuig ON voertuig_eigenaar.voertuig_id = voertuig.id
          |LEFT JOIN voertuig_type ON voertuig.type_id = voertuig_type.id
          |LEFT JOIN merk ON voertuig.merk_id = merk.id
          |LEFT JOIN merk_dealer ON merk_dealer.merk_id = merk.id
          |LEFT JOIN dealer ON merk_dealer.dealer_id = dealer.id
          |LEFT JOIN aankoop ON aankoop.voertuig_id = voertuig.id""".stripMargin)
      assert(db.count() == 4)
      assert(db.except(data).isEmpty && data.except(db).isEmpty)
    }
  }

  test("F4: missing values round-trip (test_sqlite_connector.py:239-285)") {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE a (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, a_num VARCHAR(20) NOT NULL UNIQUE)",
      "CREATE TABLE b (a_id INT REFERENCES a (id), b_num VARCHAR(20) NOT NULL, " +
        "CONSTRAINT uq_b UNIQUE (a_id, b_num))",
      "CREATE TABLE c (a_id INT REFERENCES a (id), naam VARCHAR(20) NOT NULL, " +
        "CONSTRAINT uq_c UNIQUE (a_id, naam))")

    val data = strDf(
      "a_num" -> Seq("A1", "A2", "A3", "A4", "A5"),
      "b_num" -> Seq("B1", "B3", "B4", null, null),
      "naam" -> Seq("ab1", "ab3", null, "ab4", null))

    Connector.withConnection(spark, url) { c =>
      c.load(data)
      val db = JdbcFrames.queryToDataFrame(spark, c.conn,
        """SELECT a.a_num as a_num, b.b_num as b_num, c.naam as naam
          |FROM a
          |LEFT JOIN b ON b.a_id = a.id
          |LEFT JOIN c ON c.a_id = a.id""".stripMargin)
      assert(db.except(data).isEmpty && data.except(db).isEmpty)
    }
  }

  test("dialect SQL text matches reference exactly (test_sqlite_connector.py:23-46, test_postgres_connector.py:17-40)") {
    assert(SqliteDialect.getInsertQuery("fiets", Seq("naam", "merk")) ==
      "INSERT OR IGNORE INTO fiets (naam, merk) VALUES (:naam, :merk)")
    assert(SqliteDialect.getCheckInsertQuery("fiets", Seq("naam", "merk")) ==
      "SELECT DISTINCT naam, merk FROM fiets")
    assert(SqliteDialect.getRetrieveQuery("fiets", "id", "fiets_id", Seq("naam", "merk")) ==
      "SELECT id as fiets_id, naam, merk FROM fiets")

    assert(PostgresDialect.getInsertQuery("fiets", Seq("naam", "merk")) ==
      "INSERT INTO fiets (naam, merk) VALUES (%(naam)s, %(merk)s) ON CONFLICT DO NOTHING")
    assert(PostgresDialect.getCheckInsertQuery("fiets", Seq("naam", "merk")) ==
      "SELECT DISTINCT naam, merk FROM fiets")
    assert(PostgresDialect.getRetrieveQuery("fiets", "id", "fiets_id", Seq("naam", "merk")) ==
      "SELECT id as fiets_id, naam, merk FROM fiets")

    // the JDBC-executable variant: same statement, ? placeholders
    assert(PostgresJdbcDialect.getInsertQuery("fiets", Seq("naam", "merk")) ==
      "INSERT INTO fiets (naam, merk) VALUES (?, ?) ON CONFLICT DO NOTHING")
    assert(PostgresJdbcDialect.insertParamOrder(Seq("naam", "merk")) ==
      Seq("naam", "merk"))
  }

  test("introspection maps pk/fk/unique/not-null (B8/B9)") {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE parent (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, naam VARCHAR(50) NOT NULL UNIQUE)",
      "CREATE TABLE child (parent_id INT REFERENCES parent (id), waarde VARCHAR(50))")
    val conn = DriverManager.getConnection(url)
    val s = Introspect(conn)
    conn.close()
    val parent = s.tables.find(_.name == "parent").get
    assert(parent.primaryKey == "id" && parent.columns == Seq("naam"))
    val child = s.tables.find(_.name == "child").get
    assert(child.foreignKeys == Seq("parent_id") && child.columns == Seq("waarde"))
    assert(s.references == Seq(graft.schema.Reference("child", "parent_id", "parent", "id")))
    assert(s.uniqueKeySets("parent") == Seq(Seq("naam")))
    assert(s.notNullColumns("parent") == Set("id", "naam"))
  }
}
