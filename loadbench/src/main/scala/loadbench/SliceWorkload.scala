package loadbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Passes over a list of registered operator queries. One op is
  * `SparkEntry.queries(name)(spark, dir).count()`; a round is one pass,
  * in a query order drawn from the seed and the pass number.
  *
  * The inputs do not depend on the seed, so each query's row count and
  * digest are fixed: they are recorded once in `expectedFile`. Two
  * untimed warm-up passes in list order come first: the first collects
  * every query and checks its digest, the second runs the op itself, so
  * the timed passes start warm. Each timed op is checked against the
  * recorded row count. A query that fails either check counts as a
  * failed op.
  */
final class SliceWorkload(
    spark: SparkSession,
    queries: Seq[String],
    sizes: SliceWorkload.Sizes,
    seed: Long,
    workDir: String,
    expectedFile: File,
) extends Workload {

  private val dir = s"$workDir/slice_${sizes.docs}"
  private var expected: Map[String, (Long, String)] = _
  private var warmupFailed = Set.empty[String]

  def setup(): Unit = {
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write("documents", Inputs.documents(spark, sizes.docs))
    write("embeddings", Inputs.embeddings(spark, sizes.vectors))
    write("events", Inputs.events(spark, sizes.events))
    write("orders", Inputs.orders(spark, sizes.ordersSf))
  }

  def prepare(): Unit = {
    expected = SliceWorkload.readExpected(expectedFile)
    val missing = queries.filterNot(expected.contains)
    require(missing.isEmpty, s"no recorded output for ${missing.mkString(", ")} in $expectedFile")
    val checks = queries.map { q =>
      q -> (try Some(Digest.of(SparkEntry.queries(q)(spark, dir)).toString == expected(q)._2)
        catch { case e: Throwable => System.err.println(s"[loadbench] $q failed: $e"); None })
    }
    warmupFailed = checks.collect { case (q, r) if !r.contains(true) => q }.toSet
    checks.foreach {
      case (q, Some(false)) => System.err.println(s"[loadbench] $q: output mismatch")
      case _ => ()
    }
    queries.filterNot(warmupFailed).foreach { q =>
      try runQuery(q)
      catch { case e: Throwable => System.err.println(s"[loadbench] $q failed: $e"); warmupFailed += q }
    }
  }

  /** Run every query once and write its row count and digest. */
  def record(): Unit = {
    val w = new PrintWriter(expectedFile, "UTF-8")
    try queries.sorted.foreach { q =>
      val d = Digest.of(SparkEntry.queries(q)(spark, dir))
      w.println(s"$q\t${d.rows}\t$d")
    } finally w.close()
  }

  def round(index: Int, tracer: Option[Tracer]): Round = {
    val order = new scala.util.Random(seed * 1000003L + index).shuffle(queries)
    var seconds = 0.0
    val failed = mutable.Set.empty[String]
    if (index == 0) failed ++= warmupFailed
    val perQuery = mutable.ArrayBuffer.empty[Map[String, Double]]
    order.foreach { q =>
      val pkg = Workload.packageOf(q)
      tracer.foreach(_.begin(index, pkg))
      val t0 = System.nanoTime
      val result =
        try Right(tracer.fold(runQuery(q))(t => t.spans(s"$pkg.$q")(runQuery(q))))
        catch { case e: Throwable => Left(e) }
      val dt = (System.nanoTime - t0) / 1e9
      System.err.println(f"[loadbench] pass $index $q%s $dt%.3f s")
      seconds += dt
      tracer.foreach { t =>
        val spark = t.sparkCounts(pkg, "spark")
        perQuery += t.finish() ++ spark ++
          spark.map { case (k, v) => s"$pkg.$k" -> v } + (s"$pkg.query_s" -> dt)
      }
      result match {
        case Left(e) =>
          System.err.println(s"[loadbench] $q failed: $e")
          failed += q
        case Right(n) if n != expected(q)._1 =>
          System.err.println(s"[loadbench] $q: output mismatch")
          failed += q
        case _ => ()
      }
    }
    val layers =
      if (tracer.isEmpty) Map.empty[String, Double]
      else Workload.totals(perQuery.toSeq,
        (Workload.RoundLayers ++ Workload.PackageLayers).map(_._1))
    Round(seconds, queries.size, failed.size, layers)
  }

  private def runQuery(q: String): Long = SparkEntry.queries(q)(spark, dir).count()
}

object SliceWorkload {

  /** Input sizes: documents, vectors, events and the orders scale. */
  final case class Sizes(docs: Long, vectors: Long, events: Long, ordersSf: Double)

  def readExpected(f: File): Map[String, (Long, String)] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(q, n, d) = line.split('\t')
      q -> (n.toLong, d)
    }.toMap
    finally src.close()
  }
}
