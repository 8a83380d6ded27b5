package trailbench

import java.io.PrintWriter
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CollectMetricsExec, CommandResultExec, InputAdapter,
  LeafExecNode, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper,
  V2CommandExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. Spans of one benchmark operation share `op`;
  * `parent` is the id of the span that caused this one (0 for an
  * operation's root span).
  */
final case class Span(id: Long, name: String, layer: String, startMs: Double,
    endMs: Double, parent: Long, op: Long) {
  def durMs: Double = endMs - startMs
}

/** Engine-side facts attributed to one operation. */
final case class OpFacts(
    root: Span, jobs: Int, stages: Int, tasks: Int, taskS: Double,
    waitS: Double, gcS: Double, shuffleWriteBytes: Long, spillBytes: Long,
    peakExecMemBytes: Long, inputBytes: Long, inputRows: Long,
    codegenFallbacks: Int, phaseMs: Map[String, Double],
    scanFiles: Seq[(Int, Int)], progress: Seq[Map[String, Long]],
    jobsOutsideMs: Double)

/** The traced run's recorder. Registers Spark's public hooks — a
  * `SparkListener`, a `QueryExecutionListener` and a
  * `StreamingQueryListener` — keeps every event and span in memory, and
  * attributes events to benchmark operations by time once the run ends.
  * Nothing here is called by the program; spans are recorded around the
  * benchmark's own calls into it.
  */
final class Trace(spark: SparkSession) {
  private case class JobRec(id: Int, startMs: Long, var endMs: Long)
  private case class TaskRec(stage: Int, launchMs: Long, runMs: Long, gcMs: Long,
      shuffleWrite: Long, spill: Long, peakMem: Long, inBytes: Long, inRows: Long)
  private case class QeRec(atMs: Long, phaseMs: Map[String, Double],
      fallbacks: Int, scanFiles: Seq[(Int, Int)])
  private case class ProgRec(startMs: Long, durations: Map[String, Long])

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stagesDone = mutable.ArrayBuffer.empty[(Int, Long)]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val progress = mutable.ArrayBuffer.empty[ProgRec]
  private val roots = mutable.ArrayBuffer.empty[Span]
  private val children = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val stack = mutable.Stack.empty[(Long, Long)] // (span id, op id)
  @volatile private var events = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      jobs(e.jobId) = JobRec(e.jobId, e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock {
      stagesDone += ((e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId,
        e.taskInfo.launchTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val at = phases.get("planning").orElse(phases.get("analysis"))
        .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      val plan = qe.executedPlan
      val rec = QeRec(at, phases.map { case (k, v) => k -> v.durationMs.toDouble },
        Trace.codegenFallbacks(plan), Trace.scanFiles(qe.optimizedPlan))
      lock { qes += rec }
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) lock {
        progress += ProgRec(Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
    }
  }

  private def lock(body: => Unit): Unit = synchronized { events += 1; body }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the listener buses have been quiet for a while, then
    * unregisters the hooks so later work is not recorded.
    */
  def stop(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.currentTimeMillis() + 10000
    while (quiet < 4 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val now = events
      if (now == last) quiet += 1 else quiet = 0
      last = now
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Runs `body` as a span: a root span (a new operation) when no span is
    * open, otherwise a child of the innermost open one.
    */
  def span[T](name: String, layer: String)(body: => T): T = {
    val (id, parent, op) = synchronized {
      nextId += 1
      val parent = if (stack.isEmpty) (0L, nextId) else stack.top
      stack.push((nextId, parent._2))
      (nextId, parent._1, parent._2)
    }
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try body
    finally {
      val s = Span(id, name, layer, startMs, startMs + (System.nanoTime() - t0) / 1e6,
        parent, op)
      synchronized {
        stack.pop()
        if (parent == 0) roots += s else children += s
      }
    }
  }

  /** Streaming phases of a micro-batch, in the order the micro-batch
    * engine runs them; laid end to end from the trigger's start.
    */
  private val progressOrder = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  /** Engine facts per root span, plus the derived child spans (Spark
    * jobs and streaming phases), for every operation recorded so far.
    */
  def facts(): (Seq[OpFacts], Seq[Span]) = synchronized {
    val ops = roots.sortBy(_.startMs).toIndexedSeq
    def opOf(t: Double): Option[Span] =
      ops.find(o => t >= o.startMs - 1 && t <= o.endMs + 1)
    val derived = mutable.ArrayBuffer.empty[Span]
    def add(name: String, layer: String, s: Double, e: Double, op: Span): Span = {
      nextId += 1
      val sp = Span(nextId, name, layer, s, e, -1, op.id)
      derived += sp
      sp
    }
    val progByOp = progress.toSeq.flatMap { p =>
      val mid = p.startMs + p.durations.getOrElse("triggerExecution", 0L) / 2.0
      opOf(mid).map { op =>
        var t = p.startMs.toDouble
        progressOrder.foreach { k =>
          val d = p.durations.getOrElse(k, 0L)
          if (d > 0) add(s"streaming.$k", if (k == "addBatch") "merge_table" else "streaming",
            t, t + d, op)
          t += d
        }
        op.id -> p.durations
      }
    }.groupMap(_._1)(_._2)
    val jobOp = jobs.values.toSeq.flatMap { j =>
      opOf(j.startMs.toDouble).map { op =>
        add(s"job ${j.id}", "spark", j.startMs.toDouble, j.endMs.toDouble, op)
        op.id -> j
      }
    }
    val jobsByOp = jobOp.groupMap(_._1)(_._2)
    val stagesByOp = stagesDone.toSeq.flatMap { case (_, t) => opOf(t.toDouble).map(_.id) }
      .groupBy(identity).view.mapValues(_.size).toMap
    val tasksByOp = tasks.toSeq.flatMap(t => opOf(t.launchMs.toDouble).map(_.id -> t))
      .groupMap(_._1)(_._2)
    val qesByOp = qes.toSeq.flatMap(q => opOf(q.atMs.toDouble).map(_.id -> q))
      .groupMap(_._1)(_._2)
    val all = ops ++ children ++ derived
    val linked = Trace.link(all.toSeq)
    val out = ops.map { op =>
      val ts = tasksByOp.getOrElse(op.id, Seq.empty)
      val js = jobsByOp.getOrElse(op.id, Seq.empty)
      val qs = qesByOp.getOrElse(op.id, Seq.empty)
      val covered = Trace.covered(js.map(j => (j.startMs.toDouble, j.endMs.toDouble)),
        op.startMs, op.endMs)
      OpFacts(op, js.size, stagesByOp.getOrElse(op.id, 0), ts.size,
        ts.map(_.runMs).sum / 1000.0,
        ts.map(t => math.max(0L, t.launchMs - stageSubmit.getOrElse(t.stage, t.launchMs)))
          .sum / 1000.0,
        ts.map(_.gcMs).sum / 1000.0, ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum,
        if (ts.isEmpty) 0L else ts.map(_.peakMem).max,
        ts.map(_.inBytes).sum, ts.map(_.inRows).sum,
        qs.map(_.fallbacks).sum,
        qs.flatMap(_.phaseMs).groupMapReduce(_._1)(_._2)(_ + _),
        qs.flatMap(_.scanFiles), progByOp.getOrElse(op.id, Seq.empty),
        op.durMs - covered)
    }
    (out, linked)
  }

  /** Writes every span (with its self time) and per-operation counts as
    * JSON lines, and returns the self time per layer in seconds.
    */
  def write(path: String, opFacts: Seq[OpFacts], spans: Seq[Span]): Map[String, Double] = {
    val self = Trace.selfTimes(spans)
    val pw = new PrintWriter(path)
    try {
      spans.sortBy(_.startMs).foreach { s =>
        pw.println(Json.obj(Seq("span" -> Json.str(s.name), "layer" -> Json.str(s.layer),
          "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
          "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
          "self_ms" -> Json.num(self.getOrElse(s.id, 0.0)))))
      }
      opFacts.foreach { f =>
        pw.println(Json.obj(Seq("op" -> f.root.id.toString, "name" -> Json.str(f.root.name),
          "jobs" -> f.jobs.toString, "stages" -> f.stages.toString,
          "tasks" -> f.tasks.toString, "task_s" -> Json.num(f.taskS),
          "task_wait_s" -> Json.num(f.waitS), "gc_s" -> Json.num(f.gcS),
          "shuffle_write_bytes" -> f.shuffleWriteBytes.toString,
          "spill_bytes" -> f.spillBytes.toString,
          "input_bytes" -> f.inputBytes.toString, "input_rows" -> f.inputRows.toString,
          "codegen_fallbacks" -> f.codegenFallbacks.toString)))
      }
    } finally pw.close()
    spans.groupMapReduce(_.layer)(s => self.getOrElse(s.id, 0.0) / 1000.0)(_ + _)
  }
}

object Trace {
  @volatile private var active: Trace = null

  def install(t: Trace): Unit = { t.start(); active = t }
  def uninstall(): Unit = { if (active != null) active.stop(); active = null }
  def on: Boolean = active != null

  /** A span around `body` when a traced run is recording, else just `body`. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val t = active
    if (t == null) body else t.span(name, layer)(body)
  }

  /** Gives each derived span (parent −1) the innermost recorded span that
    * contains its start as parent.
    */
  private def link(spans: Seq[Span]): Seq[Span] = {
    val fixed = spans.filter(_.parent >= 0)
    val derived = spans.filter(_.parent < 0)
    val byOp = (fixed ++ derived).groupBy(_.op)
    fixed ++ derived.map { d =>
      val holders = byOp(d.op).filter(h => h.id != d.id && h.startMs <= d.startMs &&
        h.endMs >= d.startMs && h.durMs >= d.durMs && !(h.parent < 0 && h.layer == "spark"))
      val p = holders.sortBy(_.durMs).headOption.map(_.id).getOrElse(d.op)
      d.copy(parent = p)
    }
  }

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** A span's self time: its duration less what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.durMs - covered(kids.getOrElse(s.id, Seq.empty).map(k => (k.startMs, k.endMs)),
        s.startMs, s.endMs))
    }.toMap
  }

  /** Every physical operator of a plan, through AQE's final plan, query
    * stages and command wrappers.
    */
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case q: QueryStageExec => q.plan
    case c: CommandResultExec => c.commandPhysicalPlan
    case other => other
  }

  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val u = unwrap(p)
    if (u ne p) nodes(u) else p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Operators that left whole-stage codegen: every SortAggregate and
    * ObjectHashAggregate, plus each row-processing operator outside a
    * codegen stage. Exchanges, stage wrappers, leaves (scans), writes and
    * the benchmark's own `observe` node are not counted.
    */
  def codegenFallbacks(p: SparkPlan): Int = {
    def walk(n: SparkPlan, inStage: Boolean): Int = {
      val u = unwrap(n)
      if (u ne n) walk(u, inStage = false)
      else n match {
        case w: WholeStageCodegenExec => walk(w.child, inStage = true)
        case i: InputAdapter => walk(i.child, inStage = false)
        case _ =>
          val self = n match {
            case _: SortAggregateExec | _: ObjectHashAggregateExec => 1
            case _: Exchange | _: ReusedExchangeExec | _: AQEShuffleReadExec |
                _: LeafExecNode | _: V2CommandExec | _: ExecutedCommandExec |
                _: DataWritingCommandExec | _: CollectMetricsExec => 0
            case _ if inStage => 0
            case _ => 1
          }
          self + (n.children ++ n.subqueries).map(walk(_, inStage)).sum
      }
    }
    walk(p, inStage = false)
  }

  private val FilesPattern = """GraftScan \S+ v\d+ files=(\d+)/(\d+)""".r.unanchored

  /** (files scanned, live files) of every merge-table scan of a query, as
    * the connector's `Scan.description` states them. The logical scan
    * relation carries the scan object; its physical node (a V1 fallback)
    * does not.
    */
  def scanFiles(plan: LogicalPlan): Seq[(Int, Int)] =
    plan.collect { case r: DataSourceV2ScanRelation => r.scan }
      .map {
        case w: V1ScanWrapper => w.v1Scan.description()
        case s => s.description()
      }
      .flatMap(d => FilesPattern.findFirstMatchIn(d))
      .map(m => (m.group(1).toInt, m.group(2).toInt))
}
