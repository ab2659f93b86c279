package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.sql.SparkSession

/** The benchmark program: one workload, one session on `local[N]`, one
  * client thread (closed loop: each operation starts after the previous
  * one returns). The lifecycle runs once; the steady-state operation then
  * repeats for `--seconds` (at least `minSteady` times). Writes the raw
  * run record — every operation, span, probe, check and listener event —
  * as JSON to `--out`; `perfbench/run.py` reduces it to metrics.
  *
  * Usage: perfbench.Main --workload W --seed S --seconds T --trace 0|1
  *                       --cpus N --work DIR --out FILE [--gates a,b,c]
  * (`--gates` lists the gates of `--workload operator_gates`)
  */
object Main {
  val SetUps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = opt("work")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/rdd-checkpoints")
    val rec = new Recorder(spark)
    val sessionReady = rec.now()

    val ctx = Ctx(spark, rec, seed, work)
    val w: Workload = workload match {
      case "elt_lifecycle" => new EltLifecycle(ctx)
      case "curation_store" => new CurationStore(ctx)
      case "operator_gates" => new OperatorGates(ctx, opt("gates").split(",").toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    w.prepare()
    val prepared = rec.now()
    val setups = (0 until SetUps).map { i =>
      val s0 = rec.now()
      w.setUp(i)
      rec.now() - s0
    }

    rec.setTracing(trace)
    val c0 = rec.cpuMs()
    val t0 = rec.now()
    w.lifecycle()
    val t1 = rec.now()
    val c1 = rec.cpuMs()
    // probes (traced runs only) are not part of the lifecycle
    val (probeMs, probeCpuMs) = (rec.probeMs, rec.probeCpuMs)
    var i = 0
    while (i < w.minSteady || rec.now() - t1 < seconds * 1000) {
      w.steady(i)
      i += 1
    }
    val t2 = rec.now()
    val c2 = rec.cpuMs()
    rec.setTracing(false)
    w.finish()
    val t3 = rec.now()

    val heap = settledHeapMb(spark.sparkContext)
    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> cpus,
      "session_start_s" -> (sessionReady - jvmStart) / 1000,
      "prepare_s" -> (prepared - sessionReady) / 1000,
      "setups_ms" -> setups,
      "lifecycle_ms" -> (t1 - t0 - probeMs), "steady_ms" -> (t2 - t1), "steady_n" -> i,
      "finish_ms" -> (t3 - t2),
      "lifecycle_cpu_ms" -> (c1 - c0 - probeCpuMs), "steady_cpu_ms" -> (c2 - c1),
      "heap_retained_mb" -> heap,
      "persisted_rdds_end" -> spark.sparkContext.getPersistentRDDs.size,
      "listener_ms" -> rec.listenerMs, "drain_ms" -> rec.drainMs,
      "ops" -> rec.ops, "spans" -> rec.spans, "probes" -> rec.probes,
      "checks" -> rec.checks, "values" -> rec.values, "outputs" -> rec.outputs,
      "jobs" -> rec.jobs, "stages" -> rec.stages, "phases" -> rec.phases,
      "progress" -> rec.progress)
    Files.write(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(record))
    spark.stop()
  }

  /** Heap used (MB) once no cleanup is pending. A GC lets Spark's context
    * cleaner free broadcast and shuffle blocks on its own thread, and the
    * next GC collects what they held (about 60 MB on `elt_lifecycle`), so
    * a reading right after one GC depends on that thread's timing. GCs until
    * one sets off no cleanup and reads the same as the one before it
    * (within 0.1 MB); at most 40. */
  def settledHeapMb(sc: SparkContext): Double = {
    val cleanups = PerfbenchBus.cleanups(sc)
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    /** GC, then wait until the cleaner has been idle for 300 ms; returns
      * the heap read right after the GC and whether any cleanup followed. */
    def gcRound(): (Double, Boolean) = {
      val before = cleanups.get
      System.gc()
      val mb = used
      var last = before
      var quietMs = 0
      while (quietMs < 300) {
        Thread.sleep(100)
        val n = cleanups.get
        quietMs = if (n == last) quietMs + 100 else 0
        last = n
      }
      (mb, last != before)
    }
    var (prev, _) = gcRound()
    var rounds = 1
    var done = false
    while (!done && rounds < 40) {
      val (mb, cleaned) = gcRound()
      done = !cleaned && math.abs(mb - prev) <= 0.1
      prev = mb
      rounds += 1
    }
    prev
  }
}
