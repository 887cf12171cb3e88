package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counts of one span (its own jobs, not its children's). */
final class SparkCounts {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    planMs += o.planMs
  }
}

/** One span: an op, a public call into a layer inside an op, or (for
  * `dag_build`) one model's write execution. Times are epoch ms.
  */
final class Span(val id: Int, val name: String, val kind: String,
    val parent: Int, val op: Int, val startMs: Long) {
  var endMs: Long = startMs
  @volatile var open = true
  /** FS counter deltas over the span: meta, open, create, rename,
    * delete, mkdirs, bytes read, bytes written. Empty for model spans,
    * which overlap each other.
    */
  var fs: Seq[Long] = Nil
  val self = new SparkCounts
  val total = new SparkCounts
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def wallMs: Long = endMs - startMs
  def fsOps: Long = fs.take(6).sum
}

/** One SQL execution: the span it ran under and its scans (location,
  * number-of-output-rows accumulator ids).
  */
final class Exec(val span: Int) {
  val scans = mutable.ArrayBuffer.empty[(String, Seq[Long])]
}

/** The traced run's recorder. Spans are kept in memory and written out at
  * the end. Jobs attach to a span through the `perfbench.span` local
  * property set on the calling thread (threads a call starts inherit it);
  * events without it, and query-execution callbacks, attach to the span
  * open when they were posted: the bus is drained at every span boundary.
  * With `enabled = false` nothing is installed and spans only run their
  * bodies.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean)
    extends SparkListener with QueryExecutionListener {

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var current: Span = _
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Span)]
  /** (start ms, end ms, op) per finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long, Int)]
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val execSpan = mutable.HashMap.empty[Long, Span]
  private val accRows = mutable.HashMap.empty[Long, Long]
  /** Set by `dag_build` around a build: a write execution whose plan names
    * `<prefix>/<model>` gets its own model span.
    */
  @volatile var modelPrefix: Option[String] = None

  if (enabled) {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  private def fsNow(): Seq[Long] = {
    val (r, w) = CountingFs.bytesReadWritten()
    CountingFs.snapshot() ++ Seq(r, w)
  }

  /** Run op number `index` as a span, handing the body its span (None
    * when not tracing).
    */
  def op[T](kind: String, index: Int)(body: Option[Span] => T): T =
    open(kind, "op", index)(body)

  /** Run one public call into a layer as a child of the open span. */
  def call[T](name: String)(body: => T): T =
    open(name, "call", -1)(_ => body)

  private def open[T](name: String, kind: String, index: Int)(
      body: Option[Span] => T): T = {
    if (!enabled) return body(None)
    drain()
    val s = synchronized {
      val parent = if (stack.isEmpty) -1 else stack.top.id
      val op = if (stack.isEmpty) index else stack.top.op
      val sp = new Span(spans.size, name, kind, parent, op,
        System.currentTimeMillis())
      spans += sp; stack.push(sp); current = sp; sp
    }
    val fs0 = fsNow()
    val prop = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", s.id.toString)
    try body(Some(s))
    finally {
      drain()
      s.fs = fsNow().zip(fs0).map { case (a, b) => a - b }
      synchronized {
        s.endMs = System.currentTimeMillis()
        s.open = false
        stack.pop()
        current = if (stack.isEmpty) null else stack.top
      }
      sc.setLocalProperty("perfbench.span", prop)
    }
  }

  /** Add a measured attribute to the innermost open span. */
  def attr(key: String, v: Double): Unit =
    if (enabled) synchronized { if (current != null) current.attrs(key) = v }

  private def spanOf(props: java.util.Properties): Span = {
    val fromProp = Option(props).flatMap(p =>
      Option(p.getProperty("perfbench.span"))).map(_.toInt).map(spans(_))
      .filter(_.open)
    val execModel = Option(props).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSpan.get(id.toLong))
    execModel.orElse(fromProp).getOrElse(current)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    if (s != null) {
      s.self.jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
      jobStart(e.jobId) = (e.time, s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, s) =>
      jobIntervals += ((t0, e.time, s.op))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      s.self.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.self.taskMs += m.executorRunTime
        s.self.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.self.spillBytes += m.diskBytesSpilled
      }
    }
    e.taskInfo.accumulables.foreach { a =>
      if (accRows.contains(a.id)) a.update match {
        case Some(v: Long) => accRows(a.id) += v
        case _ => ()
      }
    }
  }

  private def addScans(ex: Exec, info: SparkPlanInfo): Unit = {
    def walk(n: SparkPlanInfo): Unit = {
      n.metadata.get("Location").foreach { loc =>
        val ids = n.metrics.filter(_.name == "number of output rows")
          .map(_.accumulatorId)
        ids.foreach(id => accRows.getOrElseUpdate(id, 0L))
        if (!ex.scans.exists(_._2 == ids)) ex.scans += ((loc, ids))
      }
      n.children.foreach(walk)
    }
    walk(info)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val owner = current
        if (owner != null) {
          val model = modelPrefix.flatMap { p =>
            val m = (java.util.regex.Pattern.quote(p + "/") + "([A-Za-z0-9_]+)")
              .r.findFirstMatchIn(s.physicalPlanDescription)
            if (s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"))
              m.map(_.group(1)) else None
          }
          val ex = new Exec(owner.id)
          model.foreach { m =>
            val ms = new Span(spans.size, m, "model", owner.id, owner.op, s.time)
            spans += ms
            execSpan(s.executionId) = ms
          }
          addScans(ex, s.sparkPlanInfo)
          execs(s.executionId) = ex
        }
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execs.get(u.executionId).foreach(addScans(_, u.sparkPlanInfo))
      case end: SparkListenerSQLExecutionEnd =>
        execSpan.get(end.executionId).foreach(_.endMs = end.time)
      case _ => ()
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    if (current != null) current.self.planMs += ms
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Roll self counts up into every ancestor's total. Call once, after
    * the last span closed.
    */
  def finish(): Unit = if (enabled) {
    drain()
    synchronized {
      spans.foreach { s =>
        var p: Span = s
        while (p != null) {
          p.total.add(s.self)
          p = if (p.parent < 0) null else spans(p.parent)
        }
      }
    }
  }

  /** Scans and rows read by the executions under op span `op` whose
    * location satisfies `where`.
    */
  def scans(op: Span, where: String => Boolean): (Int, Long) = synchronized {
    val under = spans.filter(s => s.op == op.op).map(_.id).toSet
    val hits = execs.values.filter(e => under(e.span)).toSeq
      .flatMap(_.scans).filter { case (loc, _) => where(loc) }
    (hits.size, hits.map(_._2.map(accRows.getOrElse(_, 0L)).sum).sum)
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** The spans as JSON lines, one per span. */
  def spansJson: Seq[String] = spans.toSeq.map { s =>
    val fsKeys = Seq("meta", "open", "create", "rename", "delete", "mkdirs",
      "bytes_read", "bytes_written")
    val fields = Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString,
      "op" -> s.op.toString, "kind" -> Json.str(s.kind),
      "name" -> Json.str(s.name), "start_ms" -> s.startMs.toString,
      "end_ms" -> s.endMs.toString, "jobs" -> s.total.jobs.toString,
      "tasks" -> s.total.tasks.toString, "task_ms" -> s.total.taskMs.toString,
      "plan_ms" -> s.total.planMs.toString,
      "shuffle_write_bytes" -> s.total.shuffleWriteBytes.toString,
      "spill_bytes" -> s.total.spillBytes.toString) ++
      fsKeys.zip(s.fs).map { case (k, v) => s"fs_$k" -> v.toString } ++
      s.attrs.map { case (k, v) => k -> Json.num(v) }
    fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  }
}
