package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the trace. Times are nanoseconds on the tracer's
  * monotonic clock; `parent` is -1 for an operation's root span. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
                      name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Disabled, `span` only runs its body. Spans
  * are kept until the run ends and written out once. */
final class Tracer {
  @volatile var enabled: Boolean = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var opId = -1

  // wall-clock anchor, to place listener events (epoch ms) on this clock
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  def fromEpochMs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  def all: Seq[Span] = synchronized(spans.toSeq)

  private def record[T](layer: String, name: String, root: Boolean)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId - 1 }
    val parent = if (root) -1 else stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body finally {
      stack = stack.tail
      val s = Span(id, parent, opId, layer, name, t0, System.nanoTime())
      synchronized { spans += s }
    }
  }

  /** Root span of operation `k`; every span inside shares its op id.
    * Spans outside any operation (layer probes) get op id -1. */
  def op[T](k: Int, name: String)(body: => T): T =
    if (!enabled) body
    else {
      opId = k
      try record("bench", name, root = true)(body) finally opId = -1
    }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body else record(layer, name, root = false)(body)

  /** Add a span observed by a listener; its operation and parent are
    * found later by containment (listener events arrive asynchronously). */
  def derived(layer: String, name: String, start: Long, end: Long): Unit =
    if (enabled) synchronized {
      spans += Span(nextId, -2, -1, layer, name, start, end); nextId += 1
    }
}

/** Self time: a span's duration minus the part of it its children cover.
  * A listener-derived span (parent -2) belongs to the operation whose root
  * span contains it, and its parent is the smallest span there containing
  * it, preferring benchmark spans over executions, executions over
  * planning, planning over jobs. Derived spans outside every operation
  * (set-up, layer probes) are dropped. */
object SelfTime {
  private val rank = Map("bench" -> 0, "table.exec" -> 1, "plan" -> 2, "spark" -> 3)
  private def kind(s: Span): Int =
    if (s.parent != -2) 0 else rank.getOrElse(s.layer + (if (s.name == "write") ".exec" else ""), 3)

  private val SlackNs = 1000000L // listener times are millisecond-grained

  private def contains(p: Span, s: Span): Boolean =
    p.start <= s.start + SlackNs && p.end + SlackNs >= s.end

  def resolve(spans: Seq[Span]): Seq[Span] = {
    val roots = spans.filter(_.parent == -1)
    val placed = spans.flatMap { s =>
      if (s.parent != -2) Some(s)
      else roots.find(contains(_, s)).map(r => s.copy(op = r.op))
    }
    placed.groupBy(_.op).values.flatMap { ss =>
      ss.map { s =>
        if (s.parent != -2) s
        else {
          val cands = ss.filter(p => p.id != s.id && kind(p) < kind(s) && contains(p, s))
          val parent = if (cands.isEmpty) ss.find(_.parent == -1).map(_.id).getOrElse(-1)
                       else cands.minBy(p => (p.dur, -kind(p))).id
          s.copy(parent = parent)
        }
      }
    }.toSeq
  }

  /** Length of the union of intervals clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    c.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Seconds of self time per layer, summed over all given spans. */
  def byLayer(resolved: Seq[Span]): Map[String, Double] = {
    val kids = resolved.groupBy(_.parent)
    resolved.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        (s.dur - covered(ch, s.start, s.end)).toDouble / 1e9
      }.sum
    }
  }
}

/** Spark-side counters, from a `SparkListener` and a
  * `QueryExecutionListener` registered on the session. Cumulative;
  * per-operation values are differences of two `snapshot`s taken with
  * the listener bus drained. Intervals go to the tracer as derived spans. */
final class Probe(spark: SparkSession, tr: Tracer) extends SparkListener
    with QueryExecutionListener {

  import Probe._
  private val c = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private def add(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, (java.lang.Long, String)]()
  private val jobIv = ArrayBuffer.empty[(Long, Long)]

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def remove(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def snapshot(): Map[String, Double] = {
    drain()
    import scala.jdk.CollectionConverters._
    Counters.map(k => k -> 0.0).toMap ++ c.asScala.map { case (k, v) => k -> v.doubleValue() }
  }

  /** Job intervals (tracer ns) that ended since the last call. */
  def takeJobIntervals(): Seq[(Long, Long)] = synchronized {
    val r = jobIv.toSeq; jobIv.clear(); r
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e.time)
    add("spark.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    val iv = (tr.fromEpochMs(s), tr.fromEpochMs(e.time))
    synchronized { jobIv += iv }
    tr.derived("spark", s"job ${e.jobId}", iv._1, iv._2)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("spark.gc_s", m.jvmGCTime / 1e3)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.rootExecutionId.forall(_ == s.executionId) =>
      val write = s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand")
      execStart.put(s.executionId, (s.time, if (write) "write" else "query"))
    case x: SparkListenerSQLExecutionEnd =>
      Option(execStart.remove(x.executionId)).foreach { case (t0, kind) =>
        if (kind == "write") {
          add("table.write_s", (x.time - t0) / 1e3)
          tr.derived("table", "write", tr.fromEpochMs(t0), tr.fromEpochMs(x.time))
        }
      }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    add("plan.queries", 1)
    val phases = qe.tracker.phases
    phases.foreach { case (name, p) =>
      add("plan.plan_s", p.durationMs / 1e3)
      tr.derived("plan", name, tr.fromEpochMs(p.startTimeMs), tr.fromEpochMs(p.endTimeMs))
    }
    val nodes = planNodes(qe.executedPlan)
    add("plan.exchanges", nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble)
    nodes.foreach {
      case b: BroadcastExchangeLike =>
        b.metrics.get("dataSize").foreach(m => add("plan.broadcast_bytes", m.value.toDouble))
      case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").foreach(m => add("table.files_written", m.value.toDouble))
        w.cmd.metrics.get("numOutputBytes").foreach(m => add("table.bytes_written", m.value.toDouble))
      case _ =>
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    add("plan.failed_queries", 1)
}

object Probe {
  val Counters: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_cpu_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.gc_s", "plan.queries", "plan.exchanges",
    "plan.broadcast_bytes", "plan.plan_s", "plan.failed_queries",
    "table.write_s", "table.files_written", "table.bytes_written")

  /** Every node of an executed plan, through AQE wrappers, query stages
    * and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = ArrayBuffer.empty[SparkPlan]
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }
}
