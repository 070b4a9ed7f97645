package linkbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** What the engine did for one job group: scheduler counts, task metrics
  * and the shape of the executed plans. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleBytes, shuffleRecords, spillBytes = 0L
  var exchanges, joinRows = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  /** Operators of the final executed plans, by name, with their counts. */
  val planNodes = mutable.TreeMap.empty[String, Long]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords
    spillBytes += o.spillBytes; exchanges += o.exchanges; joinRows += o.joinRows
    taskMs ++= o.taskMs
    o.planNodes.foreach { case (k, v) => planNodes(k) = planNodes.getOrElse(k, 0L) + v }
  }

  /** Whole-number counters that must repeat exactly for identical work. */
  def exact: Map[String, Long] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "shuffle_records" -> shuffleRecords,
    "exchanges" -> exchanges)

  def toJson: Map[String, Any] = exact ++ Map(
    "cpu_ns" -> cpuNs, "run_ms" -> runMs, "gc_ms" -> gcMs,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "join_rows" -> joinRows, "task_ms" -> taskMs.toSeq)
}

/** Registered by the benchmark on the session it drives. Attributes every
  * job, stage, task and SQL execution to the job group the benchmark set
  * around the call that caused it (`spark.jobGroup.id`). Exchanges are
  * counted on the final (post-adaptive) plan of each SQL execution, and
  * join output rows are summed from the joins' SQLMetric accumulators. */
final class Probe extends SparkListener {
  private val groups = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val execGroup = mutable.HashMap.empty[Long, String]
  private val execPlan = mutable.HashMap.empty[Long, SparkPlanInfo]
  private val joinRowAcc = mutable.HashMap.empty[Long, String]

  private def of(g: String) = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    of(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = of(g)
      c.tasks += 1
      c.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
    e.taskInfo.accumulables.foreach { a =>
      joinRowAcc.get(a.id).foreach { g =>
        a.update.foreach {
          case v: Long => of(g).joinRows += v
          case v: java.lang.Long => of(g).joinRows += v.longValue
          case _ =>
        }
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execGroup(s.executionId) = s.jobGroupId.getOrElse("")
        plan(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        plan(u.executionId, u.sparkPlanInfo)
      case end: SparkListenerSQLExecutionEnd =>
        for (g <- execGroup.remove(end.executionId);
             p <- execPlan.remove(end.executionId)) {
          val c = of(g)
          nodes(p).foreach { n =>
            c.planNodes(n.nodeName) = c.planNodes.getOrElse(n.nodeName, 0L) + 1
            if (n.nodeName == "Exchange") c.exchanges += 1
          }
        }
      case _ =>
    }
  }

  private def plan(exec: Long, p: SparkPlanInfo): Unit = {
    execPlan(exec) = p
    val g = execGroup.getOrElse(exec, "")
    for (n <- nodes(p) if n.nodeName.endsWith("Join");
         m <- n.metrics if m.name == "number of output rows")
      joinRowAcc(m.accumulatorId) = g
  }

  private def nodes(p: SparkPlanInfo): Iterator[SparkPlanInfo] =
    Iterator(p) ++ p.children.iterator.flatMap(nodes)

  /** Sum of the counters of group `g` and of every group below it
    * (`g/...`). Call after draining the listener bus. */
  def total(g: String): Counters = synchronized {
    val out = new Counters
    groups.foreach { case (k, c) =>
      if (k == g || k.startsWith(g + "/")) out += c
    }
    out
  }

  /** Exact counters and plan operators of each group directly below `g`,
    * by its last name. */
  def children(g: String): Map[String, Map[String, Any]] = synchronized {
    groups.keys.filter(k => k.startsWith(g + "/") && !k.drop(g.length + 1).contains('/'))
      .map(k => k.drop(g.length + 1) ->
        (groups(k).exact ++ Map("plan_nodes" -> groups(k).planNodes.toMap)))
      .toMap
  }
}
