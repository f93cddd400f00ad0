package loadbench

import java.sql.{Connection, DriverManager, SQLException}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** A normalized Derby schema and the denormalized export it loads.
  *
  * @param tables      table name -> CREATE TABLE statement, in creation
  *                    (parent before child) order
  * @param naturalKeys table name -> the export columns whose distinct
  *                    values give that table's row count
  * @param rebuildSql  LEFT JOIN from the fact table up through every
  *                    FK, selecting the export columns in export order
  */
final case class LoaderShape(
    name: String,
    sf: Double,
    tables: Seq[(String, String)],
    naturalKeys: Map[String, Seq[String]],
    rebuildSql: String,
    export: (SparkSession, Double) => DataFrame,
) {

  def createTables(url: String): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      tables.foreach { case (_, ddl) => st.execute(ddl) }
      st.close()
      c.commit()
    } finally c.close()
  }

  /** Row count per table, read on a connection of its own. */
  def tableCounts(url: String): Map[String, Long] = withConn(url) { c =>
    tables.map { case (t, _) =>
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t")
      rs.next()
      t -> rs.getLong(1)
    }.toMap
  }

  /** Order-independent digest of the LEFT JOIN reconstruction. */
  def rebuildDigest(url: String): Digest = withConn(url) { c =>
    val rs = c.createStatement().executeQuery(rebuildSql)
    val n = rs.getMetaData.getColumnCount
    val d = new Digest
    while (rs.next()) d.add((1 to n).map(i => rs.getObject(i)))
    rs.close()
    d
  }

  /** Expected per-table counts and digest, computed from the export. */
  def expected(input: DataFrame): (Map[String, Long], Digest) = {
    val counts = naturalKeys.map { case (t, keys) =>
      t -> input.select(keys.map(col): _*).distinct().count()
    }
    (counts, Digest.of(input))
  }

  private def withConn[A](url: String)(f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }
}

object LoaderShape {

  def url(db: String): String = s"jdbc:derby:memory:$db;create=true"

  /** Drop an in-memory Derby database; Derby reports success as the
    * SQLState 08006 exception.
    */
  def drop(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" => () }

  private val Id = "id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY"

  private val regioNatieKlant = Seq(
    "regio" -> s"CREATE TABLE regio ($Id, r_name VARCHAR(32) NOT NULL UNIQUE)",
    "natie" -> (s"CREATE TABLE natie ($Id, regio_id INT REFERENCES regio (id), " +
      "n_name VARCHAR(32) NOT NULL UNIQUE)"),
  )

  /** orders ⋈ customer ⋈ nation ⋈ region into four tables. */
  def star(sf: Double): LoaderShape = LoaderShape(
    name = "star",
    sf = sf,
    tables = regioNatieKlant ++ Seq(
      "klant" -> (s"CREATE TABLE klant ($Id, natie_id INT REFERENCES natie (id), " +
        "c_name VARCHAR(32) NOT NULL UNIQUE, c_mktsegment VARCHAR(16))"),
      "bestelling" -> (s"CREATE TABLE bestelling ($Id, klant_id INT REFERENCES klant (id), " +
        "o_orderkey BIGINT NOT NULL UNIQUE, o_totalprice DOUBLE, " +
        "o_orderpriority VARCHAR(16), o_orderstatus VARCHAR(1))"),
    ),
    naturalKeys = Map("regio" -> Seq("r_name"), "natie" -> Seq("n_name"),
      "klant" -> Seq("c_name"), "bestelling" -> Seq("o_orderkey")),
    rebuildSql =
      "SELECT r.r_name, n.n_name, k.c_name, k.c_mktsegment, b.o_orderkey, " +
        "b.o_totalprice, b.o_orderpriority, b.o_orderstatus FROM bestelling b " +
        "LEFT JOIN klant k ON b.klant_id = k.id LEFT JOIN natie n ON k.natie_id = n.id " +
        "LEFT JOIN regio r ON n.regio_id = r.id",
    export = (spark, sf) => {
      Inputs.orders(spark, sf)
        .join(Inputs.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .join(Inputs.nation(spark), col("c_nationkey") === col("n_nationkey"))
        .join(Inputs.region(spark), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "c_name", "c_mktsegment", "o_orderkey",
          "o_totalprice", "o_orderpriority", "o_orderstatus")
    },
  )

  /** lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region ⋈ part ⋈ supplier
    * into eight tables: seven insert-and-retrieve steps and the fact
    * insert. The fact table's FKs are nullable, so its composite
    * UNIQUE constraint is over nullable columns.
    */
  def snowflake(sf: Double): LoaderShape = LoaderShape(
    name = "snowflake",
    sf = sf,
    tables = regioNatieKlant ++ Seq(
      "klant" -> (s"CREATE TABLE klant ($Id, natie_id INT REFERENCES natie (id), " +
        "c_name VARCHAR(32) NOT NULL UNIQUE)"),
      "bestelling" -> (s"CREATE TABLE bestelling ($Id, klant_id INT REFERENCES klant (id), " +
        "o_orderkey BIGINT NOT NULL UNIQUE)"),
      "leverancier" -> s"CREATE TABLE leverancier ($Id, s_name VARCHAR(32) NOT NULL UNIQUE)",
      "merk" -> s"CREATE TABLE merk ($Id, p_brand VARCHAR(16) NOT NULL UNIQUE)",
      "onderdeel" -> (s"CREATE TABLE onderdeel ($Id, merk_id INT REFERENCES merk (id), " +
        "p_partkey BIGINT NOT NULL UNIQUE, p_name VARCHAR(64))"),
      "regel" -> ("CREATE TABLE regel (bestelling_id INT REFERENCES bestelling (id), " +
        "onderdeel_id INT REFERENCES onderdeel (id), " +
        "leverancier_id INT REFERENCES leverancier (id), " +
        "l_linenumber INT NOT NULL, l_quantity DOUBLE, " +
        "UNIQUE (bestelling_id, onderdeel_id, leverancier_id, l_linenumber))"),
    ),
    naturalKeys = Map("regio" -> Seq("r_name"), "natie" -> Seq("n_name"),
      "klant" -> Seq("c_name"), "bestelling" -> Seq("o_orderkey"),
      "leverancier" -> Seq("s_name"), "merk" -> Seq("p_brand"),
      "onderdeel" -> Seq("p_partkey"),
      "regel" -> Seq("o_orderkey", "p_partkey", "s_name", "l_linenumber")),
    rebuildSql =
      "SELECT r.r_name, n.n_name, k.c_name, b.o_orderkey, l.s_name, m.p_brand, " +
        "o.p_partkey, o.p_name, g.l_linenumber, g.l_quantity FROM regel g " +
        "LEFT JOIN bestelling b ON g.bestelling_id = b.id " +
        "LEFT JOIN klant k ON b.klant_id = k.id LEFT JOIN natie n ON k.natie_id = n.id " +
        "LEFT JOIN regio r ON n.regio_id = r.id " +
        "LEFT JOIN leverancier l ON g.leverancier_id = l.id " +
        "LEFT JOIN onderdeel o ON g.onderdeel_id = o.id " +
        "LEFT JOIN merk m ON o.merk_id = m.id",
    export = (spark, sf) => {
      Inputs.lineitem(spark, sf)
        .join(Inputs.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .join(Inputs.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .join(Inputs.nation(spark), col("c_nationkey") === col("n_nationkey"))
        .join(Inputs.region(spark), col("n_regionkey") === col("r_regionkey"))
        .join(Inputs.part(spark, sf), col("l_partkey") === col("p_partkey"))
        .join(Inputs.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
        .select("r_name", "n_name", "c_name", "o_orderkey", "s_name", "p_brand",
          "p_partkey", "p_name", "l_linenumber", "l_quantity")
    },
  )
}
