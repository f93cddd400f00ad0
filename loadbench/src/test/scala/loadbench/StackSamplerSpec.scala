package loadbench

import org.scalatest.funsuite.AnyFunSuite

/** Classification of stacks shaped like those sampled from the op
  * thread during a load (innermost frame first).
  */
class StackSamplerSpec extends AnyFunSuite {

  private def stack(frames: String*): Array[StackTraceElement] = frames.map { f =>
    val i = f.lastIndexOf('.')
    new StackTraceElement(f.substring(0, i), f.substring(i + 1), "X.scala", 1)
  }.toArray

  private val loadFrames = Seq(
    "graft.connector.Connector.$anonfun$load$1",
    "scala.collection.IterableOnceOps.foldLeft",
    "graft.connector.Connector.load",
    "loadbench.LoaderWorkload.round",
    "loadbench.Main$.main")

  test("parked under a Spark job is job wait; retrieve/merge phase from mergeIds") {
    val s = stack(Seq(
      "jdk.internal.misc.Unsafe.park",
      "java.util.concurrent.locks.LockSupport.park",
      "scala.concurrent.impl.Promise$DefaultPromise.tryAwait0",
      "org.apache.spark.scheduler.JobWaiter.awaitResult",
      "org.apache.spark.scheduler.DAGScheduler.runJob",
      "org.apache.spark.SparkContext.runJob",
      "org.apache.spark.sql.Dataset.count",
      "graft.ops.FrameOps$.mergeIds",
      "graft.connector.Connector.retrieveIds",
      "graft.connector.Connector.insertAndRetrieveIds") ++ loadFrames: _*)
    assert(StackSampler.state(s) == "job_wait")
    assert(StackSampler.phase(s) == "retrieve_merge")
  }

  test("AQE waiting for a query stage is job wait") {
    val s = stack(Seq(
      "jdk.internal.misc.Unsafe.park",
      "java.util.concurrent.LinkedBlockingQueue.take",
      "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec.$anonfun$getFinalPhysicalPlan$1",
      "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec.getFinalPhysicalPlan",
      "graft.ops.FrameOps$.compareFrames",
      "graft.connector.Connector.compare") ++ loadFrames: _*)
    assert(StackSampler.state(s) == "job_wait")
    assert(StackSampler.phase(s) == "d2_compare")
  }

  test("Derby under batchInsert is jdbc, in the insert phase") {
    val s = stack(Seq(
      "org.apache.derby.impl.sql.execute.InsertResultSet.open",
      "org.apache.derby.impl.jdbc.EmbedStatement.executeBatchElement",
      "org.apache.derby.impl.jdbc.EmbedStatement.executeLargeBatch",
      "org.apache.derby.impl.jdbc.EmbedStatement.executeBatch",
      "graft.connector.JdbcFrames$.batchInsert",
      "graft.connector.Connector.insert",
      "graft.connector.Connector.insertAndRetrieveIds") ++ loadFrames: _*)
    assert(StackSampler.state(s) == "jdbc")
    assert(StackSampler.phase(s) == "insert")
  }

  test("plan strings are plan rendering; the D1 read-back is the D1 check phase") {
    val s = stack(Seq(
      "java.lang.StringBuilder.append",
      "org.apache.spark.sql.catalyst.trees.TreeNode.generateTreeString",
      "org.apache.spark.sql.catalyst.trees.TreeNode.treeString",
      "org.apache.spark.sql.execution.QueryExecution.explainString",
      "org.apache.spark.sql.execution.SQLExecution$.withNewExecutionId0",
      "org.apache.spark.sql.Dataset.collect",
      "graft.ops.FrameOps$.compareFrames",
      "graft.connector.Connector.insert") ++ loadFrames: _*)
    assert(StackSampler.state(s) == "plan_render")
    assert(StackSampler.phase(s) == "d1_check")
  }

  test("optimizer rules are plan rules; load-level work is the other phase") {
    val s = stack(Seq(
      "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates$.apply",
      "org.apache.spark.sql.catalyst.rules.RuleExecutor.$anonfun$execute$2",
      "org.apache.spark.sql.catalyst.rules.RuleExecutor.execute",
      "org.apache.spark.sql.execution.QueryExecution.optimizedPlan",
      "org.apache.spark.sql.Dataset.cache") ++ loadFrames: _*)
    assert(StackSampler.state(s) == "plan_rules")
    assert(StackSampler.phase(s) == "other")
  }

  test("a running stack with no matching frame, outside any loader, is other") {
    val s = stack(
      "java.util.HashMap.get",
      "graft.dedup.Cdc$.duplicateChunks",
      "loadbench.SliceWorkload.runQuery")
    assert(StackSampler.state(s) == "other")
    assert(StackSampler.phase(s) == "other")
    assert(StackSampler.state(stack("jdk.internal.misc.Unsafe.park", "loadbench.Main$.main")) == "other")
    assert(StackSampler.state(Array.empty) == "other")
  }
}
