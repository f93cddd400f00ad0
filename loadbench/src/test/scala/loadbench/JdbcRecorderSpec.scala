package loadbench

import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.connector.DerbyDialect

class JdbcRecorderSpec extends AnyFunSuite {

  test("a conflicting batch: every row sent, only new rows affected, reads counted") {
    val url = "jdbc:derby:memory:jdbc_recorder_spec;create=true"
    val setup = DriverManager.getConnection(url)
    setup.createStatement().execute(
      "CREATE TABLE t (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "k VARCHAR(8) NOT NULL UNIQUE)")
    setup.createStatement().execute("INSERT INTO t (k) VALUES ('a')")
    setup.close()

    val spans = new Spans
    val rec = new JdbcRecorder(spans)
    val conn = rec.wrap(DriverManager.getConnection(url))
    conn.setAutoCommit(false)
    val keys = Seq(Seq("k"))
    val ps = conn.prepareStatement(DerbyDialect.getInsertQuery("t", Seq("k"), keys))
    val params = DerbyDialect.insertParamOrder(Seq("k"), keys)
    Seq("a", "b", "c").foreach { v =>
      params.indices.foreach(i => ps.setString(i + 1, v))
      ps.addBatch()
    }
    ps.executeBatch()
    ps.close()
    val rs = conn.createStatement().executeQuery("SELECT k FROM t")
    while (rs.next()) ()
    conn.commit()
    conn.close()
    LoaderShape.drop("jdbc_recorder_spec")

    assert(rec.statements == 2)
    assert(rec.rowsSent == 3)
    assert(rec.rowsAffected == 2)
    assert(rec.rowsRead == 3)
    assert(rec.writeNanos > 0 && rec.readNanos > 0)
    assert(spans.all.map(_.name) == Seq("jdbc.executeBatch", "jdbc.executeQuery"))
  }
}
