package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one public call made by the harness. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, startWallMs: Long,
    var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One Spark SQL execution (an action: a write, a count, a collect),
  * labelled by the directory it writes or reads back. */
final class Exec(val id: Long) {
  var span: Int = -1
  var label: String = ""
  var startMs, endMs: Long = 0L
  var durationNs: Long = 0L
  var planningMs: Long = 0L
  var filesRead: Long = 0L
  var jobs: Int = 0
}

/** Task counters totalled per stage. */
final class Counters {
  var tasks, shuffleWriteBytes, spillBytes, gcMs: Long = 0L
  def add(o: Counters): Unit = {
    tasks += o.tasks; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs
  }
}

/** In-memory tracer. `span` tags every Spark job started inside it with
  * a job group naming the span; a `SparkListener` and a
  * `QueryExecutionListener`, registered from outside the program, total
  * task metrics, SQL execution durations and planning phases per span.
  * When tracing is off, `span` only runs its body. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val stageSpan = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageCounters = mutable.HashMap.empty[Int, Counters]
  private var stack = List.empty[Span]
  private var on = false
  /** Directory prefixes stripped from execution labels. */
  var bases: Seq[String] = Nil

  private val GroupPrefix = "perfbench-span-"
  private def spanOf(group: String): Int =
    if (group != null && group.startsWith(GroupPrefix)) group.stripPrefix(GroupPrefix).toInt else -1

  private def exec(id: Long): Exec = execs.getOrElseUpdate(id, new Exec(id))

  // The QueryExecutionListener callback and the execution-end event come
  // from the same event on one listener queue, in either order; whichever
  // arrives second joins them by QueryExecution identity.
  private val qeExec = new java.util.IdentityHashMap[QueryExecution, Exec]()
  private val qeFill = new java.util.IdentityHashMap[QueryExecution, Exec => Unit]()
  private def joinExec(qe: QueryExecution, x: Exec): Unit =
    Option(qeFill.remove(qe)) match { case Some(f) => f(x); case None => qeExec.put(qe, x) }
  private def joinFill(qe: QueryExecution, f: Exec => Unit): Unit =
    Option(qeExec.remove(qe)) match { case Some(x) => f(x); case None => qeFill.put(qe, f) }

  private val listener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      val p = e.properties
      if (p != null) {
        val execId = Option(p.getProperty("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
        stageSpan(e.stageInfo.stageId) = (spanOf(p.getProperty("spark.jobGroup.id")), execId)
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val p = e.properties
      if (p != null) Option(p.getProperty("spark.sql.execution.id")).foreach(id => exec(id.toLong).jobs += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      val c = stageCounters.getOrElseUpdate(e.stageId, new Counters)
      c.tasks += 1
      if (m != null) {
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          val x = exec(s.executionId)
          x.span = spanOf(s.jobGroupId.orNull)
          x.startMs = s.time
        case s: SparkListenerSQLExecutionEnd =>
          val x = exec(s.executionId)
          x.endMs = s.time
          Option(org.apache.spark.sql.PerfbenchSql.queryExecution(s)).foreach(joinExec(_, x))
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planningMs = qe.tracker.phases.values.map(_.durationMs).sum
      val l = label(qe)
      val files = filesRead(qe.executedPlan)
      Trace.this.synchronized {
        joinFill(qe, { x =>
          x.durationNs = durationNs
          x.planningMs = planningMs
          x.label = l
          x.filesRead = files
        })
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def relative(p: String): String = {
    val s = p.stripPrefix("file:")
    bases.find(b => s.startsWith(b)).map(b => s.stripPrefix(b).stripPrefix("/")).getOrElse(s)
  }

  /** The directory an execution writes, else the first one it reads. */
  private def label(qe: QueryExecution): String = {
    def find(plan: LogicalPlan): Option[String] = {
      var w: Option[String] = None
      var r: Option[String] = None
      plan.foreach {
        case i: InsertIntoHadoopFsRelationCommand => if (w.isEmpty) w = Some(i.outputPath.toString)
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation if r.isEmpty => r = h.location.rootPaths.headOption.map(_.toString)
          case _ =>
        }
        case _ =>
      }
      w.orElse(r)
    }
    find(qe.logical).orElse(find(qe.analyzed)).map(relative).getOrElse("")
  }

  private def filesRead(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case p => p.children.map(filesRead).sum + p.subqueries.map(filesRead).sum
  }

  def enabled: Boolean = on

  /** Start or stop listening; spans are only recorded while on. */
  def enable(b: Boolean): Unit = if (b != on) {
    on = b
    if (b) { sc.addSparkListener(listener); spark.listenerManager.register(qeListener) }
    else {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener)
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime(),
        System.currentTimeMillis())
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      sc.setLocalProperty("spark.jobGroup.id", GroupPrefix + s.id)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty("spark.jobGroup.id", prev)
      }
    }

  /** Wait until the listeners have seen every event so far. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(sc)

  // ---- queries over what was recorded -------------------------------

  private def descendants(ids: Set[Int]): Set[Int] = {
    val kids = spans.filter(s => ids.contains(s.parent)).map(_.id).toSet -- ids
    if (kids.isEmpty) ids else descendants(ids ++ kids)
  }

  /** Executions started under any of these spans (or their children). */
  def execsUnder(spanIds: Set[Int]): Seq[Exec] = synchronized {
    val all = descendants(spanIds)
    execs.values.filter(x => all.contains(x.span)).toSeq
  }

  def countersUnder(spanIds: Set[Int], execFilter: Exec => Boolean = _ => true): Counters = synchronized {
    val all = descendants(spanIds)
    val total = new Counters
    stageSpan.foreach { case (stage, (sp, execId)) =>
      val execOk = execs.get(execId).forall(execFilter)
      if (all.contains(sp) && execOk) stageCounters.get(stage).foreach(total.add)
    }
    total
  }

  /** The recorded spans and executions as one JSON document. */
  def toJson(meta: Map[String, String]): String = synchronized {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val sp = spans.map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    val ex = execs.values.filter(_.span >= 0).map(x =>
      s"""{"id":${x.id},"span":${x.span},"label":${q(x.label)},"start_ms":${x.startMs},""" +
        s""""end_ms":${x.endMs},"duration_ns":${x.durationNs},"planning_ms":${x.planningMs},""" +
        s""""files_read":${x.filesRead},"jobs":${x.jobs}}""")
    val m = meta.map { case (k, v) => s"${q(k)}:${q(v)}" }
    s"""{${m.mkString(",")}${if (m.nonEmpty) "," else ""}"spans":[${sp.mkString(",\n")}],""" +
      s""""executions":[${ex.mkString(",\n")}]}"""
  }
}
