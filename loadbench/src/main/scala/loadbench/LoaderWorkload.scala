package loadbench

import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.connector.{Connector, DerbyDialect}

/** Rounds of loads of one denormalized export into a [[LoaderShape]]
  * schema. A round is a fresh op into an empty schema, then a reload op
  * into the schema that now holds exactly that data, so every row is
  * conflict-ignored. The DDL before the round and the drop after it are
  * untimed, so every round starts on a fresh database.
  *
  * Checks, outside the timed ops: after the fresh op the per-table row
  * counts and the digest of the LEFT JOIN reconstruction equal those of
  * the export; after the reload they are unchanged. A reload follows
  * only a fresh op that passed.
  */
final class LoaderWorkload(
    spark: SparkSession,
    shape: LoaderShape,
    seed: Long,
    workDir: String,
) extends Workload {

  private val exportPath = s"$workDir/${shape.name}_export.parquet"
  private var expectedCounts: Map[String, Long] = _
  private var expectedDigest: Digest = _
  private var dbSerial = 0
  private var db: String = _

  def setup(): Unit = Inputs.writeExport(shape.export(spark, shape.sf), seed, exportPath)

  def prepare(): Unit = {
    val (counts, digest) = shape.expected(spark.read.parquet(exportPath))
    expectedCounts = counts
    expectedDigest = digest
  }

  private def dropDb(): Unit = if (db != null) {
    LoaderShape.drop(db)
    db = null
  }

  private def newDb(): Unit = {
    dropDb()
    dbSerial += 1
    db = s"loadbench_${shape.name}_$dbSerial"
    shape.createTables(LoaderShape.url(db))
  }

  private def input(): DataFrame = spark.read.parquet(exportPath)

  private def matches(): Boolean = {
    val url = LoaderShape.url(db)
    shape.tableCounts(url) == expectedCounts && shape.rebuildDigest(url) == expectedDigest
  }

  private def op(kind: String, index: Int, tracer: Option[Tracer]): LoaderWorkload.Op = {
    val timings = mutable.Map.empty[String, Double]
    tracer.foreach(_.begin(index, kind))
    val t0 = System.nanoTime
    val error =
      try {
        tracer match {
          case None => Connector.withConnection(spark, LoaderShape.url(db))(_.load(input()))
          case Some(t) => tracedLoad(t, kind, timings)
        }
        None
      } catch { case e: Throwable => Some(e) }
    val seconds = (System.nanoTime - t0) / 1e9
    val layers = tracer.fold(Map.empty[String, Double])(t =>
      t.finish() ++ t.sparkCounts(kind, "spark") ++ timings + ("trace.op_s" -> seconds))
    System.err.println(f"[loadbench] round $index $kind $seconds%.3f s" +
      error.fold("")(e => s" failed: $e"))
    if (error.exists(_.isInstanceOf[VirtualMachineError])) System.gc()
    val mismatch = error.isEmpty && !matches()
    if (mismatch) System.err.println(s"[loadbench] round $index $kind: output mismatch")
    LoaderWorkload.Op(seconds, error.nonEmpty || mismatch, layers)
  }

  def round(index: Int, tracer: Option[Tracer]): Round = {
    newDb()
    val fresh = op("fresh", index, tracer)
    val ops = if (fresh.failed) Seq("fresh" -> fresh)
      else Seq("fresh" -> fresh, "reload" -> op("reload", index, tracer))
    dropDb()
    val layers =
      if (tracer.isEmpty) Map.empty[String, Double]
      else Workload.totals(ops.map(_._2.layers), Workload.RoundLayers.map(_._1)) ++
        ops.flatMap { case (kind, o) => o.layers.map { case (k, v) => s"$k.$kind" -> v } }
    Round(ops.map(_._2.seconds).sum, ops.size, ops.count(_._2.failed), layers)
  }

  /** The load as `Connector.withConnection` runs it, on a recording
    * connection, with the planner's calls timed on their own.
    */
  private def tracedLoad(t: Tracer, kind: String, timings: mutable.Map[String, Double]): Unit =
    t.spans(s"${shape.name}.$kind") {
      val conn = t.jdbc.wrap(DriverManager.getConnection(LoaderShape.url(db)))
      conn.setAutoCommit(false)
      try {
        val t0 = System.nanoTime
        val c = t.spans("connector.introspect")(new Connector(spark, conn, DerbyDialect))
        timings("connector.introspect_s") = (System.nanoTime - t0) / 1e9
        val df = input()
        val t1 = System.nanoTime
        t.spans("schema.plan") {
          val cols = df.columns.toSeq
          c.schema.getLoadInstructions(cols)
          c.schema.getCompareQuery(cols, None)
        }
        timings("schema.plan_s") = (System.nanoTime - t1) / 1e9
        t.spans("connector.load")(c.load(df))
        t.spans("jdbc.commit")(conn.commit())
      } catch {
        case e: Throwable =>
          try conn.rollback() catch { case _: Throwable => () }
          throw e
      } finally conn.close()
    }

  override def cleanup(): Unit = dropDb()
}

object LoaderWorkload {
  /** One timed, checked op. */
  final case class Op(seconds: Double, failed: Boolean, layers: Map[String, Double])
}
