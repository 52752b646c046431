package org.apache.spark.sql.graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval of one op. All spans of an op share its `op` id. */
final case class Span(op: Int, name: String, parent: String,
                      startNs: Long, endNs: Long)

/** Per-layer counters and spans for the traced run, taken from outside
  * graft: a SparkListener (tasks, stages, jobs), a QueryExecutionListener
  * (planning phases and the executed plan) and the harness's own timers.
  * Everything is kept in memory; the harness writes it out once at the end.
  *
  * Listener events arrive asynchronously, so `endOp` drains the listener
  * bus before it closes an op: every event posted while an op ran is
  * counted against that op. While inactive the listeners are detached and
  * every hook is a no-op, so untraced passes pay nothing.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var active = false
  @volatile private var cur: mutable.Map[String, Double] = mutable.Map.empty
  private var curId = -1
  private var opStart = 0L
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch nanoseconds on the monotonic clock, so harness and plan spans align. */
  private def now(): Long = epochNs + System.nanoTime()
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[(Int, String, Int, Map[String, Double])]

  private def add(k: String, v: Double): Unit = cur.synchronized {
    cur(k) = cur.getOrElse(k, 0.0) + v
  }
  private def max(k: String, v: Double): Unit = cur.synchronized {
    cur(k) = math.max(cur.getOrElse(k, 0.0), v)
  }

  // stage id -> (task run times, reads shuffle)
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val shuffleStages = mutable.Set.empty[Int]

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("operators.jobs", 1)
      val phase = Option(e.properties).map(_.getProperty("graftbench.phase")).orNull
      if (phase == "build") add("registry.eager_jobs", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      add("operators.tasks", 1)
      if (info.failed || info.killed) add("operators.task_failures", 1)
      val m = e.taskMetrics
      if (m == null) return
      add("operators.run_s", m.executorRunTime / 1e3)
      add("operators.cpu_s", m.executorCpuTime / 1e9)
      add("operators.gc_s", m.jvmGCTime / 1e3)
      add("operators.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      val sched = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime
      add("operators.sched_delay_s", math.max(sched, 0L) / 1e3)
      add("sources.scan_bytes", m.inputMetrics.bytesRead.toDouble)
      add("sources.scan_rows", m.inputMetrics.recordsRead.toDouble)
      add("sources.sink_rows", m.outputMetrics.recordsWritten.toDouble)
      add("sources.sink_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("exchange.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      val r = m.shuffleReadMetrics
      add("exchange.read_bytes", r.totalBytesRead.toDouble)
      add("exchange.fetch_wait_s", r.fetchWaitTime / 1e3)
      stageTasks.synchronized {
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
        if (r.totalBlocksFetched > 0) shuffleStages += e.stageId
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      plan(qe)
  }

  private def plan(qe: QueryExecution): Unit = {
    val id = curId
    qe.tracker.phases.foreach { case (phase, p) =>
      add(s"plans.${phase}_s", p.durationMs / 1e3)
      spans.synchronized {
        spans += Span(id, s"plans.$phase", "op", p.startTimeMs * 1000000L,
          p.endTimeMs * 1000000L)
      }
    }
    var nodes, nonCodegen, files = 0L
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case q: QueryStageExec => walk(q.plan, inCodegen)
      case r: ReusedExchangeExec => nodes += 1
      case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
      case i: InputAdapter => walk(i.child, inCodegen = false)
      case other =>
        nodes += 1
        if (!inCodegen && !other.isInstanceOf[Exchange]) nonCodegen += 1
        other.metrics.get("numFiles").foreach(m => files += m.value)
        other.subqueries.foreach(walk(_, inCodegen = false))
        other.children.foreach(walk(_, inCodegen))
    }
    walk(qe.executedPlan, inCodegen = false)
    add("plans.nodes", nodes.toDouble)
    add("plans.non_codegen_nodes", nonCodegen.toDouble)
    add("sources.scan_files", files.toDouble)
  }

  def activate(on: Boolean): Unit = if (on != active) {
    if (on) {
      sc.addSparkListener(taskListener)
      spark.listenerManager.register(qeListener)
    } else {
      sc.removeSparkListener(taskListener)
      spark.listenerManager.unregister(qeListener)
    }
    active = on
  }

  def beginOp(name: String): Unit = if (active) {
    curId = nextId; nextId += 1
    cur = mutable.Map.empty
    stageTasks.synchronized { stageTasks.clear(); shuffleStages.clear() }
    opStart = now()
  }

  /** Closes the current op and returns its counters (empty when inactive). */
  def endOp(name: String, pass: Int): Map[String, Double] = if (!active) Map.empty else {
    sc.listenerBus.waitUntilEmpty()
    val end = now()
    stageTasks.synchronized {
      val reads = shuffleStages.toSeq.map(stageTasks)
      add("exchange.reducers", reads.map(_.size).sum.toDouble)
      reads.filter(_.nonEmpty).foreach { ts =>
        val sorted = ts.sorted
        val med = math.max(sorted(sorted.size / 2), 1L)
        max("exchange.skew", sorted.last.toDouble / med)
      }
    }
    spans.synchronized { spans += Span(curId, "op", "", opStart, end) }
    val out = cur.synchronized(cur.toMap)
    ops += ((curId, name, pass, out))
    out
  }

  /** Times `body` as a child span of the current op and adds its seconds. */
  def timed[T](key: String, parent: String = "op")(body: => T): T =
    if (!active) body else {
      val t0 = now()
      try body finally {
        val t1 = now()
        add(key, (t1 - t0) / 1e9)
        spans.synchronized {
          spans += Span(curId, key.stripSuffix("_s"), parent, t0, t1)
        }
      }
    }

  def count(key: String, v: Double): Unit = if (active) add(key, v)

  /** Sets the phase property that eager jobs are counted under. */
  def phase(p: String): Unit = sc.setLocalProperty("graftbench.phase", p)

  /** Records files and bytes a sink left in `path`. */
  def sinkWritten(path: String): Unit = if (active) {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var files, bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { files += 1; bytes += f.getLen }
    }
    add("sources.sink_files", files.toDouble)
    add("sources.sink_dir_bytes", bytes.toDouble)
  }
}
