package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything one benchmark run measures, kept in memory and written out
  * once at the end (see [[Main]]).
  *
  *  - operations: the workload's timed steps (closed loop, one client
  *    thread — each starts after the previous one returns);
  *  - spans: calls into a layer's public functions made inside an
  *    operation, with the span that caused them (traced runs only);
  *  - probes: standalone layer sub-steps timed between operations
  *    (traced runs only), excluded from every operation;
  *  - listener events: Spark jobs, stages, Catalyst planning phases and
  *    streaming progress, each attributed to the operation that was
  *    running when Spark posted it (the bus is drained at the end of every
  *    traced operation, so no event can leak into the next one).
  */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val offsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** Wall clock in epoch milliseconds with nanosecond resolution, on the
    * same time base as Spark's listener event timestamps. */
  def now(): Double = System.nanoTime() / 1e6 + offsetMs

  @volatile private var tracing = false
  @volatile private var current = "idle"

  val ops = ArrayBuffer[Map[String, Any]]()
  val spans = ArrayBuffer[Map[String, Any]]()
  val probes = ArrayBuffer[Map[String, Any]]()
  val checks = ArrayBuffer[Map[String, Any]]()
  val values = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val outputs = mutable.LinkedHashMap[String, ArrayBuffer[String]]()
  val jobs = ArrayBuffer[Map[String, Any]]()
  val stages = ArrayBuffer[Map[String, Any]]()
  val phases = ArrayBuffer[Map[String, Any]]()
  val progress = ArrayBuffer[Map[String, Any]]()

  private var nextId = 0
  private var stack: List[Int] = Nil

  def traced: Boolean = tracing

  /** One timed operation. A failure is recorded (and counted against the
    * run) and the workload continues; the result is None then. */
  def op[T](kind: String)(body: => T): Option[T] = {
    val id = newId()
    current = kind
    stack = List(id)
    val t0 = now()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = now()
    stack = Nil
    if (tracing) drain()
    current = "idle"
    ops += Map("id" -> id, "kind" -> kind,
      "traced" -> tracing, "t0" -> t0, "t1" -> t1, "ok" -> res.isRight)
    if (tracing) spans += Map("id" -> id, "parent" -> -1, "layer" -> "op",
      "name" -> kind, "t0" -> t0, "t1" -> t1)
    res match {
      case Right(v) => Some(v)
      case Left(e) =>
        System.err.println(s"perfbench: operation $kind failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** A call into one layer's public function, inside an operation. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack = stack.tail
        spans += Map("id" -> id, "parent" -> parent, "layer" -> layer,
          "name" -> name, "t0" -> t0, "t1" -> t1)
      }
    }

  /** A layer sub-step timed on its own between operations, at the catalog
    * state the surrounding operations leave (traced runs only). Its wall
    * and CPU time, bus drain included, add to `probeMs` and `probeCpuMs`,
    * so that [[Main]] can take probes out of the lifecycle's time. */
  def probe[T](layer: String, name: String)(body: => T): Unit =
    if (tracing) {
      current = s"probe:$layer.$name"
      val c0 = cpuMs()
      val t0 = now()
      val ok = try { body; true } catch { case e: Throwable =>
        System.err.println(s"perfbench: probe $layer.$name failed: $e"); false }
      val t1 = now()
      drain()
      current = "idle"
      probeMs += now() - t0
      probeCpuMs += cpuMs() - c0
      probes += Map("layer" -> layer, "name" -> name,
        "ms" -> (t1 - t0))
      check(s"probe:$layer.$name", ok)
    }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) System.err.println(s"perfbench: check $name failed $detail")
    checks += Map("name" -> name, "ok" -> ok,
      "detail" -> detail)
  }

  /** A named measured value (a count, a size, a ratio); several samples of
    * one name are reduced by their median. */
  def value(name: String, v: Double): Unit =
    values.getOrElseUpdate(name, ArrayBuffer()) += v

  /** A result digest, checked against the committed expectation. */
  def output(name: String, digest: String): Unit =
    outputs.getOrElseUpdate(name, ArrayBuffer()) += digest

  /** Time the client thread spent waiting for listener delivery, and time
    * the listeners spent handling events: together, the cost of tracing. */
  @volatile var drainMs = 0.0
  @volatile var listenerMs = 0.0

  var probeMs = 0.0
  var probeCpuMs = 0.0

  /** CPU time this JVM has used so far, all threads. */
  def cpuMs(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  private def drain(): Unit = {
    val t0 = now()
    PerfbenchBus.drain(sc)
    drainMs += now() - t0
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    listenerMs += (System.nanoTime() - t0) / 1e6
  }

  private def newId(): Int = { nextId += 1; nextId }

  // ---- listeners (attached for traced runs only) -----------------------

  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stagePeak = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()

  private def add(buf: ArrayBuffer[Map[String, Any]], m: Map[String, Any]): Unit =
    buf.synchronized { buf += m }

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val op = current
      jobStart.put(e.jobId, (e.time, op))
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      val (t0, op) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, current))
      add(jobs, Map("op" -> op, "t0" -> t0, "t1" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      if (e.taskMetrics != null)
        stagePeak.merge(e.stageId, e.taskMetrics.peakExecutionMemory,
          (a: java.lang.Long, b: java.lang.Long) => math.max(a, b))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val si = e.stageInfo
      val tm = si.taskMetrics
      val op = Option(stageOp.remove(si.stageId)).getOrElse(current)
      val peak = Option(stagePeak.remove(si.stageId)).map(_.longValue).getOrElse(0L)
      add(stages, Map("op" -> op, "tasks" -> si.numTasks,
        "run_ms" -> (if (tm == null) 0L else tm.executorRunTime),
        "cpu_ms" -> (if (tm == null) 0.0 else tm.executorCpuTime / 1e6),
        "shuffle_read_bytes" ->
          (if (tm == null) 0L else tm.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_bytes" ->
          (if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten),
        "spill_bytes" ->
          (if (tm == null) 0L else tm.memoryBytesSpilled + tm.diskBytesSpilled),
        "peak_exec_mem_bytes" -> peak))
    }
  }

  private object planListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      val p = qe.tracker.phases
      def ms(k: String): Double = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      add(phases, Map("op" -> current,
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val d = e.progress.durationMs.asScala
      def ms(k: String): Double = d.get(k).map(_.doubleValue).getOrElse(0.0)
      add(progress, Map("op" -> current,
        "trigger_ms" -> ms("triggerExecution"), "query_planning_ms" -> ms("queryPlanning"),
        "add_batch_ms" -> ms("addBatch"), "wal_commit_ms" -> ms("walCommit"),
        "input_rows" -> e.progress.numInputRows))
    }
  }

  /** Start or stop tracing (at the start and end of the measured phase). */
  def setTracing(on: Boolean): Unit = if (on != tracing) {
    drain()
    if (on) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(planListener)
      spark.streams.addListener(streamListener)
    } else {
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(planListener)
      spark.streams.removeListener(streamListener)
    }
    tracing = on
  }
}
