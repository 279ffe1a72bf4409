package perfbench

import java.util.Properties

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals

/** Span recorder for the traced run.
  *
  * Every call the benchmark makes into a layer runs inside `span(name)`.
  * A span records its name, start, end, parent and the timed op it belongs
  * to, and tags itself on the SparkContext with a job tag (a SparkContext
  * local property that Spark copies into every job and SQL execution
  * started while it is open). The [[Observer]] below reads the tag back
  * from job and execution events, so jobs, tasks, CPU, shuffle, spill and
  * planning time land on the innermost open span. Codegen compile time is
  * the span's delta of Spark's CodeGenerator compile-time counter (the
  * single client thread makes the delta the span's own). Spans live in memory
  * until [[summary]]; nothing is written while a run is being timed.
  *
  * With tracing off `span` only runs its body: the untraced run pays one
  * boolean test per call.
  */
object Trace {
  private val TagPrefix = "perfbench-span-"

  final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
      val t0: Long, val t0Ms: Long) {
    var t1 = 0L
    var t1Ms = 0L
    var codegenNs = 0L
  }

  /** Spark work attributed to one span (its own, not its children's). */
  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var recordsRead = 0L
    var planNs = 0L
  }

  private var sc: SparkContext = _
  private var on = false
  private var currentOp = -1
  private var stack: List[Span] = Nil
  val spans = ArrayBuffer.empty[Span]
  private val observer = new Observer

  /** Registers the observers and starts recording spans. */
  def start(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(observer)
    on = true
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), currentOp,
        name, System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      val tag = TagPrefix + s.id
      sc.addJobTag(tag)
      val cg0 = CodeGenerator.compileTime
      try body
      finally {
        s.t1 = System.nanoTime()
        s.t1Ms = System.currentTimeMillis()
        s.codegenNs = CodeGenerator.compileTime - cg0
        sc.removeJobTag(tag)
        stack = stack.tail
      }
    }

  /** Runs one timed op: its root span carries the op id, and so do all
    * spans opened inside it. */
  def op[T](id: Int, kind: String)(body: => T): T = {
    currentOp = id
    try span("op." + kind)(body)
    finally currentOp = -1
  }

  private def spanOf(tags: Iterable[String]): Int =
    tags.filter(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix).toInt).maxOption.getOrElse(-1)

  private def spanOf(p: Properties): Int =
    if (p == null) -1
    else Option(p.getProperty("spark.job.tags"))
      .map(t => spanOf(t.split(",").toSeq)).getOrElse(-1)

  /** The benchmark's SparkListener. Listener events arrive on Spark's bus
    * thread, so every mutation is synchronized. */
  private final class Observer extends SparkListener {
    val acc = mutable.Map.empty[Int, Acc]
    val jobSpan = mutable.Map.empty[Int, Int]
    val jobStart = mutable.Map.empty[Int, Long]
    val jobEnd = mutable.Map.empty[Int, Long]
    val stageSpan = mutable.Map.empty[Int, Int]
    val execSpan = mutable.Map.empty[Long, Int]

    def accOf(span: Int): Acc = acc.getOrElseUpdate(span, new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val s = spanOf(e.properties)
      jobSpan(e.jobId) = s
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageSpan(_) = s)
      accOf(s).jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobEnd(e.jobId) = e.time
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = accOf(stageSpan.getOrElse(e.stageId, -1))
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.recordsRead += m.inputMetrics.recordsRead
      }
    }

    /** Planning phases (analysis, optimization, physical planning) of
      * every finished query. The execution-end event carries the same
      * QueryExecution a QueryExecutionListener receives, together with
      * the execution id the start event tied to a span. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { execSpan(s.executionId) = spanOf(s.jobTags) }
      case end: SparkListenerSQLExecutionEnd =>
        SparkInternals.planningNs(end).foreach { ns =>
          synchronized { accOf(execSpan.getOrElse(end.executionId, -1)).planNs += ns }
        }
      case _ => ()
    }
  }

  /** The spans of one name: each call's inclusive seconds, and the input
    * rows its Spark tasks read. */
  final case class Layer(inclusive: Seq[Double], recordsRead: Long)

  /** Everything the traced run reports, computed after the run. Spark
    * totals cover the spans of timed ops. */
  final case class Summary(layers: Map[String, Layer], jobs: Long,
      tasks: Long, cpuS: Double, shuffleBytes: Long, spillBytes: Long,
      planS: Double, codegenS: Double, driverGapS: Double) {
    def layer(n: String): Option[Layer] = layers.get(n)
  }

  /** Stops recording, waits for the listener bus, and computes self
    * time, per-layer aggregates and per-op driver gaps. Writes one JSON
    * line per span to `spansOut`. */
  def summary(spansOut: java.nio.file.Path): Summary = {
    on = false
    SparkInternals.drainListenerBus(sc)
    val o = observer
    val children = spans.groupBy(_.parent)
    def dur(s: Span) = (s.t1 - s.t0) / 1e9
    def self(s: Span) =
      dur(s) - children.getOrElse(s.id, Nil).map(dur).sum
    def selfCodegen(s: Span) =
      (s.codegenNs - children.getOrElse(s.id, Nil).map(_.codegenNs).sum) / 1e9
    val inOp = spans.filter(_.op >= 0)
    val accOf: Int => Acc = id => o.acc.getOrElse(id, new Acc)
    val layers = inOp.groupBy(_.name).map { case (n, ss) =>
      n -> Layer(ss.map(dur).toSeq, ss.map(s => accOf(s.id).recordsRead).sum)
    }
    // driver gap: an op's wall time minus the union of the intervals of
    // the Spark jobs its spans started (job times are wall-clock ms)
    val spanById = spans.map(s => s.id -> s).toMap
    val opJobs = o.jobSpan.toSeq.collect {
      case (job, s) if s >= 0 && spanById(s).op >= 0 => spanById(s).op -> job
    }.groupBy(_._1)
    val roots = inOp.filter(_.parent < 0)
    val gap = roots.map { r =>
      val iv = opJobs.getOrElse(r.op, Nil).flatMap { case (_, j) =>
        for (a <- o.jobStart.get(j); b <- o.jobEnd.get(j))
          yield (math.max(a, r.t0Ms), math.min(b, r.t1Ms))
      }.filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      math.max(0.0, dur(r) - covered / 1e3)
    }.sum
    val opAcc = inOp.map(s => accOf(s.id))
    val w = java.nio.file.Files.newBufferedWriter(spansOut)
    try spans.foreach { s =>
      val a = accOf(s.id)
      w.write(f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","dur_s":${dur(s)}%.6f,"self_s":${self(s)}%.6f,"jobs":${a.jobs},"tasks":${a.tasks},"cpu_s":${a.cpuNs / 1e9}%.6f,"shuffle_bytes":${a.shuffleBytes},"spill_bytes":${a.spillBytes},"records_read":${a.recordsRead},"plan_s":${a.planNs / 1e9}%.6f,"codegen_self_s":${selfCodegen(s)}%.6f}""")
      w.newLine()
    } finally w.close()
    Summary(layers, opAcc.map(_.jobs).sum, opAcc.map(_.tasks).sum,
      opAcc.map(_.cpuNs).sum / 1e9, opAcc.map(_.shuffleBytes).sum,
      opAcc.map(_.spillBytes).sum, opAcc.map(_.planNs).sum / 1e9,
      roots.map(_.codegenNs).sum / 1e9, gap)
  }
}
