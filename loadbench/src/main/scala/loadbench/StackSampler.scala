package loadbench

import scala.collection.mutable

/** Samples the op thread's stack at a fixed interval and charges the
  * time since the previous sample to a driver state and a loader phase.
  */
final class StackSampler(target: Thread, intervalMs: Long = 5) {
  private val stateNanos = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val phaseNanos = mutable.Map.empty[String, Long].withDefaultValue(0L)
  @volatile private var active = false
  @volatile private var stop = false
  private var last = 0L

  private val thread = new Thread(() => {
    while (!stop) {
      val now = System.nanoTime
      if (active) {
        val stack = target.getStackTrace
        synchronized {
          if (active && last != 0L) {
            val dt = now - last
            stateNanos(StackSampler.state(stack)) += dt
            phaseNanos(StackSampler.phase(stack)) += dt
          }
          last = now
        }
      }
      Thread.sleep(intervalMs)
    }
  }, "loadbench-stack-sampler")
  thread.setDaemon(true)
  thread.start()

  def begin(): Unit = synchronized { stateNanos.clear(); phaseNanos.clear(); last = 0L; active = true }

  /** Stop charging and return (state seconds, phase seconds). */
  def finish(): (Map[String, Double], Map[String, Double]) = synchronized {
    active = false
    (stateNanos.toMap.map { case (k, v) => k -> v / 1e9 },
      phaseNanos.toMap.map { case (k, v) => k -> v / 1e9 })
  }

  def close(): Unit = { stop = true; thread.join() }
}

object StackSampler {

  val States: Seq[String] = Seq("job_wait", "jdbc", "plan_render", "plan_rules", "other")
  val Phases: Seq[String] = Seq("insert", "d1_check", "retrieve_merge", "d2_compare", "other")

  private def isParked(f: StackTraceElement): Boolean = {
    val c = f.getClassName
    val m = f.getMethodName
    (c == "jdk.internal.misc.Unsafe" && m == "park") ||
      (c == "java.lang.Object" && m.startsWith("wait")) ||
      (c == "java.lang.Thread" && m.startsWith("sleep"))
  }

  private val RenderMethods = Set("explainString", "treeString", "generateTreeString",
    "simpleString", "verboseString", "verboseStringWithOperatorId", "simpleStringWithNodeId",
    "argString", "stringArgs", "toJSON", "jsonValue")

  private def isRender(f: StackTraceElement): Boolean =
    f.getClassName.startsWith("org.apache.spark.sql") && RenderMethods(f.getMethodName)

  private def isRules(f: StackTraceElement): Boolean = {
    val c = f.getClassName
    c.startsWith("org.apache.spark.sql.catalyst.rules.RuleExecutor") ||
      c.startsWith("org.apache.spark.sql.catalyst.planning.QueryPlanner") ||
      c.startsWith("org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec$") &&
        f.getMethodName.contains("Optimiz")
  }

  /** Driver state of one stack (innermost frame first):
    *  - `job_wait`: parked or waiting below a Spark frame (a job, an AQE
    *    query stage or a broadcast the thread waits on);
    *  - `jdbc`: running inside Derby;
    *  - `plan_render`: building plan strings;
    *  - `plan_rules`: running analyzer, optimizer or planner rules;
    *  - `other`: everything else.
    * A running stack takes the state of its innermost matching frame.
    */
  def state(stack: Array[StackTraceElement]): String =
    if (stack.isEmpty) "other"
    else if (isParked(stack.head))
      if (stack.exists(_.getClassName.startsWith("org.apache.spark"))) "job_wait" else "other"
    else stack.iterator.collectFirst {
      case f if f.getClassName.startsWith("org.apache.derby") => "jdbc"
      case f if isRender(f) => "plan_render"
      case f if isRules(f) => "plan_rules"
    }.getOrElse("other")

  /** Loader phase of one stack, from its innermost graft frame:
    * `JdbcFrames.batchInsert` is the insert; `FrameOps.mergeIds` is
    * retrieve/merge; otherwise the innermost `Connector` method decides
    * (`insert` → D1 check, `retrieveIds` → retrieve/merge, `compare` →
    * D2 compare). Anything else is `other`.
    */
  def phase(stack: Array[StackTraceElement]): String =
    stack.iterator.collectFirst {
      case f if f.getClassName.startsWith("graft.connector.JdbcFrames") &&
        f.getMethodName.contains("batchInsert") => "insert"
      case f if f.getClassName.startsWith("graft.ops.FrameOps") &&
        f.getMethodName.contains("mergeIds") => "retrieve_merge"
      case f if f.getClassName.startsWith("graft.connector.Connector") &&
        connectorPhase(f.getMethodName).nonEmpty => connectorPhase(f.getMethodName).get
    }.getOrElse("other")

  private def connectorPhase(m: String): Option[String] =
    if (m == "insert" || m.contains("$insert$")) Some("d1_check")
    else if (m == "retrieveIds" || m.contains("$retrieveIds$")) Some("retrieve_merge")
    else if (m == "compare" || m.contains("$compare$")) Some("d2_compare")
    else if (m == "load" || m.contains("$load$")) Some("other")
    else None
}
