package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder and layer counters for the traced run.
  *
  * Spans are the calls the benchmark makes into the program's layers:
  * a name, start, end, parent span and operation id, kept in memory and
  * written out when the run ends. Counters come from Spark's public
  * listener APIs (a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener, the last two installed through their static
  * session confs so that the child sessions the stream gates create
  * load them too), from the codegen log, and from the OS. Only events
  * inside the timed pass count. The untraced run uses [[Trace.off]],
  * whose spans are plain calls. */
class Trace private (val live: Boolean) {
  final class Span(val id: Int, val name: String, val op: String,
                   val parent: Int, var start: Long) {
    var end: Long = -1L
  }
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  def span[T](name: String, op: String)(body: => T): T =
    if (!live) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.size, name, op, parent, System.nanoTime())
      spans += s
      stack = s :: stack
      if (name == "op") Trace.currentOp = op
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
      }
    }

  /** Record an already finished child span of the innermost open span
    * (for spans delimited by callbacks rather than by a call). */
  def record(name: String, op: String, start: Long, end: Long): Unit =
    if (live) {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.size, name, op, parent, start)
      s.end = end
      spans += s
    }

  // ---- counters, filled by the listeners while `timed` is true
  @volatile private[perfbench] var timed = false
  private[perfbench] val sums =
    new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  /** Add `v` to counter `k`, in total and for the running operation. */
  private[perfbench] def addOp(k: String, v: Double): Unit =
    if (timed) Seq(k, s"op:${Trace.currentOp}:$k").foreach(key =>
      sums.computeIfAbsent(key, _ => new DoubleAdder).add(v))
  /** (start ms, end ms) of every Spark job that ran in the timed pass. */
  private[perfbench] val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  private[perfbench] val jobStarts =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** streaming query run id -> (start ms, first progress ms). */
  private[perfbench] val streamStart =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  /** streaming run id -> (state rows, state bytes) of its last progress. */
  private[perfbench] val streamState =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  private[perfbench] val lastEvent = new AtomicLong(0L)

  /** a (wall clock, monotonic clock) pair: listener events carry wall
    * clock milliseconds, spans carry nanoTime */
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def msToNanos(ms: Long): Long = nano0 + (ms - wall0) * 1000000L

  private var t0 = 0L
  private var t1 = 0L
  private var gc0 = 0L
  private var gc1 = 0L
  private var io0 = Map.empty[String, Long]
  private var io1 = Map.empty[String, Long]
  private var heapAfterMb = 0.0

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def procIo(): Map[String, Long] =
    try scala.io.Source.fromFile("/proc/self/io").getLines()
      .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }
      .toMap
    catch { case _: Throwable => Map.empty }

  def startTimed(): Unit = if (live) {
    gc0 = gcMs(); io0 = procIo()
    t0 = System.currentTimeMillis()
    timed = true
  }

  def stopTimed(): Unit = if (live) {
    t1 = System.currentTimeMillis()
    gc1 = gcMs(); io1 = procIo()
    // the listener bus is asynchronous: wait until it has been quiet
    // for half a second (or five seconds at most) before reading
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() - lastEvent.get() < 500 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    timed = false
    splitBuilds()
    System.gc()
    val rt = Runtime.getRuntime
    heapAfterMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Split each timed `jobs.runResumable` span at the first Spark job
    * that started inside it: before it, `Pipeline.run` builds the
    * DataFrames (a `jobs.build` child span); from it on, the first
    * write runs, so its child span starts there. */
  private def splitBuilds(): Unit = {
    val jobStartsNs = jobSpans.asScala.map(j => msToNanos(j._1)).toSeq.sorted
    spans.filter(s => s.name == "jobs.runResumable" && inTimed(s)).toList
      .foreach { rr =>
        jobStartsNs.find(t => t >= rr.start && t <= rr.end).foreach { f =>
          val b = new Span(spans.size, "jobs.build", rr.op, rr.id, rr.start)
          b.end = f
          spans += b
          spans.filter(c => c.parent == rr.id && c.name.endsWith("_write"))
            .sortBy(_.start).headOption.foreach(c => c.start = f)
        }
      }
  }

  private def get(k: String): Double =
    Option(sums.get(k)).map(_.sum).getOrElse(0.0)

  /** Total length of the union of the given [start, end) intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** Per-layer metrics, each per round of the timed pass. */
  def layerMetrics(rounds: Int, cores: Int): Seq[(String, Double)] =
    if (!live) Seq.empty
    else {
      val n = math.max(1, rounds).toDouble
      val wallS = (t1 - t0) / 1000.0
      val inJobS = unionMs(jobSpans.asScala.toSeq) / 1000.0
      val runS = get("executor.run_ms") / 1000.0
      val timedSpans = spans.filter(s => s.name == "round")
      val roundSpanS = timedSpans.map(s => (s.end - s.start) / 1e9)
      def sel(name: String) = spans.filter(s => s.name == name && inTimed(s))
        .map(s => (s.end - s.start) / 1e9).sum / n
      val starts = streamStart.values().asScala.toSeq
        .filter(a => a(1) > 0).map(a => (a(1) - a(0)) / 1000.0)
      val states = streamState.values().asScala.toSeq
      Seq(
        "gate.build_s" -> sel("gate.build"),
        "gate.execute_s" -> sel("gate.execute"),
        "jobs.build_s" -> sel("jobs.build"),
        "jobs.scraped_write_s" -> sel("jobs.scraped_write"),
        "jobs.historical_write_s" -> sel("jobs.historical_write"),
        "catalyst.analysis_s" -> get("catalyst.analysis_ms") / 1000.0 / n,
        "catalyst.optimization_s" ->
          get("catalyst.optimization_ms") / 1000.0 / n,
        "catalyst.planning_s" -> get("catalyst.planning_ms") / 1000.0 / n,
        "catalyst.executions" -> get("catalyst.executions") / n,
        "codegen.compile_s" -> get("codegen.compile_ms") / 1000.0 / n,
        "codegen.classes" -> get("codegen.classes") / n,
        "scheduler.offjob_s" -> math.max(0.0, wallS - inJobS) / n,
        "scheduler.jobs" -> get("scheduler.jobs") / n,
        "scheduler.stages" -> get("scheduler.stages") / n,
        "scheduler.tasks" -> get("scheduler.tasks") / n,
        "executor.run_s" -> runS / n,
        "executor.cpu_s" -> get("executor.cpu_ns") / 1e9 / n,
        "executor.gc_s" -> get("executor.gc_ms") / 1000.0 / n,
        "executor.deserialize_s" ->
          get("executor.deserialize_ms") / 1000.0 / n,
        "executor.busy_ratio" ->
          (if (inJobS > 0) runS / (cores * inJobS) else 0.0),
        "shuffle.write_bytes" -> get("shuffle.write_bytes") / n,
        "shuffle.read_bytes" -> get("shuffle.read_bytes") / n,
        "shuffle.fetch_wait_s" -> get("shuffle.fetch_wait_ms") / 1000.0 / n,
        "spill.memory_bytes" -> get("spill.memory_bytes") / n,
        "spill.disk_bytes" -> get("spill.disk_bytes") / n,
        "scan.bytes" -> get("scan.bytes") / n,
        "scan.records" -> get("scan.records") / n,
        "sink.bytes" -> get("sink.bytes") / n,
        "sink.records" -> get("sink.records") / n,
        "disk.read_bytes" ->
          (io1.getOrElse("read_bytes", 0L) - io0.getOrElse("read_bytes", 0L)) / n,
        "disk.write_bytes" ->
          (io1.getOrElse("write_bytes", 0L) - io0.getOrElse("write_bytes", 0L)) / n,
        "streaming.queries" -> get("streaming.queries") / n,
        "streaming.batches" -> get("streaming.batches") / n,
        "streaming.start_s" -> starts.sum / n,
        "streaming.trigger_s" -> get("streaming.triggerExecution_ms") / 1000.0 / n,
        "streaming.planning_s" -> get("streaming.queryPlanning_ms") / 1000.0 / n,
        "streaming.wal_commit_s" -> get("streaming.walCommit_ms") / 1000.0 / n,
        "streaming.commit_s" -> get("streaming.commitOffsets_ms") / 1000.0 / n,
        "streaming.add_batch_s" -> get("streaming.addBatch_ms") / 1000.0 / n,
        "streaming.state_rows" -> states.map(_(0)).sum / n,
        "streaming.state_bytes" -> states.map(_(1)).sum / n,
        "jvm.gc_s" -> (gc1 - gc0) / 1000.0 / n,
        "jvm.heap_after_mb" -> heapAfterMb,
        "trace.round_s" -> median(roundSpanS.toSeq),
        "trace.unspanned_s" ->
          math.max(0.0, wallS - roundSpanS.sum) / n)
    }

  private def median(v: Seq[Double]): Double =
    if (v.isEmpty) 0.0 else v.sorted.apply(v.size / 2)

  private def inTimed(s: Span): Boolean = {
    var p = s.parent
    var found = s.name == "round"
    while (!found && p >= 0) { found = spans(p).name == "round"; p = spans(p).parent }
    found
  }

  /** The span tree (with self times) and per-operation counters. */
  def writeSpans(path: String): Unit = if (live) {
    val child = spans.groupBy(_.parent).map { case (k, v) =>
      k -> v.map(s => s.end - s.start).sum }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    val arr = root.putArray("spans")
    spans.foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id); o.put("name", s.name); o.put("op", s.op)
      o.put("parent", s.parent)
      o.put("start_s", s.start / 1e9); o.put("end_s", s.end / 1e9)
      o.put("self_s", (s.end - s.start - child.getOrElse(s.id, 0L)) / 1e9)
    }
    // per gate / per batch: wall, self and the job/task counters
    val perOp = root.putObject("per_op")
    val opSpans = spans.filter(s => s.name == "op")
    opSpans.groupBy(_.op).foreach { case (op, ss) =>
      val o = perOp.putObject(op)
      o.put("calls", ss.size)
      o.put("wall_s", ss.map(s => s.end - s.start).sum / 1e9)
      spans.filter(s => s.parent >= 0 && ss.exists(_.id == s.parent))
        .groupBy(_.name).foreach { case (n, cs) =>
          o.put(n + "_s", cs.map(c => c.end - c.start).sum / 1e9) }
      sums.asScala.foreach { case (k, v) =>
        if (k.startsWith(s"op:$op:")) o.put(k.stripPrefix(s"op:$op:"), v.sum)
      }
    }
    om.writerWithDefaultPrettyPrinter().writeValue(new File(path), root)
  }
}

object Trace {
  val off = new Trace(false)
  @volatile private[perfbench] var current: Trace = off
  @volatile private[perfbench] var currentOp: String = ""

  def configure(b: SparkSession.Builder): Unit = {
    b.config("spark.sql.queryExecutionListeners", classOf[QeTrace].getName)
    b.config("spark.sql.streaming.streamingQueryListeners",
      classOf[StreamTrace].getName)
  }

  def live(spark: SparkSession): Trace = {
    val t = new Trace(true)
    current = t
    spark.sparkContext.addSparkListener(new JobTrace(t))
    CodegenLog.install(t)
    t
  }
}

/** Job, stage and task metrics; each job is charged to the operation
  * that was running when it started. */
class JobTrace(t: Trace) extends SparkListener {
  private def touch(): Unit = t.lastEvent.set(System.currentTimeMillis())
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    if (t.timed) {
      t.jobStarts.put(e.jobId, java.lang.Long.valueOf(e.time))
      t.addOp("scheduler.jobs", 1)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    val s = t.jobStarts.remove(e.jobId)
    if (s != null) t.jobSpans.add((s.longValue, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch(); t.addOp("scheduler.stages", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    val m = e.taskMetrics
    t.addOp("scheduler.tasks", 1)
    if (m != null) {
      t.addOp("executor.run_ms", m.executorRunTime.toDouble)
      t.addOp("executor.cpu_ns", m.executorCpuTime.toDouble)
      t.addOp("executor.gc_ms", m.jvmGCTime.toDouble)
      t.addOp("executor.deserialize_ms", m.executorDeserializeTime.toDouble)
      t.addOp("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      t.addOp("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      t.addOp("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      t.addOp("spill.memory_bytes", m.memoryBytesSpilled.toDouble)
      t.addOp("spill.disk_bytes", m.diskBytesSpilled.toDouble)
      t.addOp("scan.bytes", m.inputMetrics.bytesRead.toDouble)
      t.addOp("scan.records", m.inputMetrics.recordsRead.toDouble)
      t.addOp("sink.bytes", m.outputMetrics.bytesWritten.toDouble)
      t.addOp("sink.records", m.outputMetrics.recordsWritten.toDouble)
    }
  }
}

/** Catalyst phase times of every tracked execution. */
class QeTrace extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = {
    val t = Trace.current
    t.lastEvent.set(System.currentTimeMillis())
    t.addOp("catalyst.executions", 1)
    qe.tracker.phases.foreach { case (phase, ps) =>
      t.addOp(s"catalyst.${phase}_ms", ps.durationMs.toDouble)
    }
  }
}

/** Streaming progress: start-up, trigger phase durations and state. */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  private def ms(iso: String): Long =
    try java.time.Instant.parse(iso).toEpochMilli catch { case _: Throwable => 0L }
  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    val t = Trace.current
    t.lastEvent.set(System.currentTimeMillis())
    if (t.timed) {
      t.addOp("streaming.queries", 1)
      t.streamStart.put(e.runId.toString, Array(ms(e.timestamp), 0L))
    }
  }
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val t = Trace.current
    t.lastEvent.set(System.currentTimeMillis())
    val p = e.progress
    val st = t.streamStart.get(p.runId.toString)
    if (st == null) return
    if (st(1) == 0L) st(1) = ms(p.timestamp) + p.batchDuration
    if (p.numInputRows > 0 || p.batchId == 0) t.addOp("streaming.batches", 1)
    p.durationMs.asScala.foreach { case (k, v) =>
      t.addOp(s"streaming.${k}_ms", v.doubleValue)
    }
    t.streamState.put(p.runId.toString, Array(
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum))
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    Trace.current.lastEvent.set(System.currentTimeMillis())
}

/** Whole-stage and expression codegen: each compile logs
  * "Code generated in N ms" at INFO on the CodeGenerator logger; an
  * appender on that logger sums the times and counts the classes. */
object CodegenLog {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val Pat = "Code generated in ([0-9.]+) ms".r.unanchored

  def install(t: Trace): Unit = try {
    val name =
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case Pat(v) =>
            t.addOp("codegen.compile_ms", v.toDouble)
            t.addOp("codegen.classes", 1)
          case _ => ()
        }
    }
    app.start()
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    ctx.getConfiguration.addLogger(name, lc)
    ctx.updateLoggers()
  } catch { case e: Throwable =>
    System.err.println(s"[perfbench] codegen log tap unavailable: $e")
  }
}
