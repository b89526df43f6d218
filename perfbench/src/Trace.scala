package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call into a layer, made by the harness. */
final case class Span(
    id: Int, parent: Int, name: String, layer: String,
    startNs: Long, endNs: Long, run: String) {
  def durNs: Long = endNs - startNs
  def json: String =
    s"""{"run":"$run","id":$id,"parent":$parent,"name":"$name","layer":"$layer",""" +
      s""""start_ns":$startNs,"end_ns":$endNs}"""
}

/** In-memory span recorder. Spans nest by call structure on the one
  * client thread; nothing is written until [[writeJsonl]] at the end of
  * the run. When `on` is false, [[span]] only runs its body.
  */
final class Tracer(val run: String) {
  var on = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, layer, t0, System.nanoTime(), run)
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      done.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {

  /** A span's self time: its duration minus the part of its interval
    * that its child spans cover (children may overlap each other).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total self time per layer, in nanoseconds. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** Length of the union of `[start, end)` intervals. */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((a, b) <- ivs.filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark runtime counters of one timed op, summed from listener events. */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var taskWaitMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var planMs = 0L
  var rangeBroadcast = 0L
  var rangeShuffled = 0L
  var nestedLoop = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spark-public listeners (SparkListener for jobs/stages/tasks,
  * QueryExecutionListener for planning phases and executed plans). They
  * buffer every raw event they are sent: Spark delivers events later, on
  * its listener bus thread, so which op an event belongs to is decided
  * only by [[attribute]], after the bus has drained. A job belongs to the
  * op whose job group it carries, or, for jobs started without one on
  * other threads (a streaming query's micro-batches), to the op whose
  * wall-clock window contains its start.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  import LayerListener._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val queries = mutable.ArrayBuffer.empty[Query]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += Job(e.jobId, g, e.time, e.time, e.stageInfos.map(_.stageId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.findLast(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) tasks += Task(e.stageId, e.taskInfo.launchTime, 0, 0, 0, 0, 0)
    else tasks += Task(e.stageId, e.taskInfo.launchTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val names = LayerListener.planNodes(qe.executedPlan).map(_.getClass.getSimpleName)
      def n(s: String) = names.count(_ == s)
      val q = Query(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum,
        n("BroadcastRangeJoinExec"), n("ShuffledRangeJoinExec"),
        n("BroadcastNestedLoopJoinExec") + n("CartesianProductExec"))
      synchronized { queries += q }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Sum buffered events into per-op counters. `ops(i)` is the i-th
    * traced op as `(op index, start, end)`, times in epoch milliseconds;
    * its jobs carry the job group `LayerListener.group(op index)`.
    * Events outside every traced op (set-up, warm-up, untraced cycles)
    * are dropped.
    */
  def attribute(ops: IndexedSeq[(Int, Long, Long)]): IndexedSeq[SparkCounters] = synchronized {
    val out = ops.map(_ => new SparkCounters)
    val starts = ops.map(_._2).toArray
    val byIndex = ops.map(_._1).zipWithIndex.toMap
    def byTime(t: Long): Option[Int] = {
      var i = java.util.Arrays.binarySearch(starts, t)
      if (i < 0) i = -i - 2
      if (i >= 0 && t <= ops(i)._3) Some(i) else None
    }
    val stageOp = mutable.HashMap.empty[Int, Int]
    for (j <- jobs) {
      // a job of an untraced op carries that op's group: never match it by time
      val op = LayerListener.opOf(j.group) match {
        case Some(index) => byIndex.get(index)
        case None => byTime(j.start)
      }
      op.foreach { i =>
        val c = out(i)
        c.jobs += 1
        c.stages += j.stages.length
        c.jobIntervals += ((j.start, math.max(j.start, j.end)))
        j.stages.foreach(s => stageOp(s) = i)
      }
    }
    for (t <- tasks; i <- stageOp.get(t.stage)) {
      val c = out(i)
      c.tasks += 1
      c.runMs += t.run
      c.cpuNs += t.cpuNs
      c.gcMs += t.gc
      c.shuffleWrite += t.shW
      c.spill += t.spill
      stageSubmit.get(t.stage).foreach(s => c.taskWaitMs += math.max(0L, t.launch - s))
    }
    for (q <- queries; i <- byTime(q.start)) {
      val c = out(i)
      c.planMs += q.planMs
      c.rangeBroadcast += q.bcast
      c.rangeShuffled += q.shuffled
      c.nestedLoop += q.nl
    }
    out
  }
}

object LayerListener {
  private final case class Job(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
  private final case class Task(stage: Int, launch: Long, run: Long,
      cpuNs: Long, gc: Long, shW: Long, spill: Long)
  private final case class Query(start: Long, planMs: Long, bcast: Int, shuffled: Int, nl: Int)

  private val Prefix = "perfbench-op-"
  def group(i: Int): String = Prefix + i
  def opOf(group: String): Option[Int] =
    if (group.startsWith(Prefix)) group.drop(Prefix.length).toIntOption else None

  /** Every node of an executed plan, looking through adaptive and query
    * stage wrappers.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
