package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Tables

/** Per-layer accounting for a traced run, from Spark's public listener
  * APIs plus timers around the calls into each layer.
  *
  * Per query the wall time splits into frame build (`fn(spark, dir)`,
  * including any eager actions the operators run), Catalyst optimize
  * and physical planning (forcing `optimizedPlan` and `executedPlan`),
  * and the materializing `collect()`. Jobs are tagged with the phase
  * that started them through a local property, which Spark copies into
  * each job's properties and into the threads of streaming queries
  * started from the tagged thread. Listener events arrive
  * asynchronously, so [[reset]] and [[finish]] first wait for the
  * listener bus to go quiet.
  */
final class Trace(spark: SparkSession, cores: Int) {
  private val PhaseKey = "perfbench.phase"
  private val events = new AtomicLong
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val triggerMs = mutable.ArrayBuffer.empty[Double]
  // latest state-store size per streaming query run: (rows, bytes)
  private val state = mutable.Map.empty[java.util.UUID, (Long, Long)]
  private var openJobs = 0

  private def add(k: String, v: Double): Unit = sums.synchronized { sums(k) += v }
  private def mb(bytes: Long): Double = bytes / 1048576.0

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val phase = Option(e.properties).map(_.getProperty(PhaseKey)).orNull
      sums.synchronized { openJobs += 1 }
      add("exec.jobs", 1)
      if (phase == "build") add("build.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      sums.synchronized { openJobs -= 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      add("exec.stages", 1)
      if (e.stageInfo.numTasks == 1) add("exec.single_task_stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        val run = m.executorRunTime / 1e3
        add("exec.tasks", 1)
        add("exec.task_run_s", run)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_mb", mb(m.shuffleWriteMetrics.bytesWritten))
        add("exec.shuffle_read_mb", mb(m.shuffleReadMetrics.totalBytesRead))
        add("exec.spill_mb", mb(m.diskBytesSpilled))
        add("exec.scan_rows", m.inputMetrics.recordsRead.toDouble)
        add("exec.output_mb", mb(m.outputMetrics.bytesWritten))
        sums.synchronized { sums("max_task") = math.max(sums("max_task"), run) }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      add("catalyst.actions_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
    }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      events.incrementAndGet()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = events.incrementAndGet()
    override def onQueryIdle(e: QueryIdleEvent): Unit = events.incrementAndGet()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = events.incrementAndGet()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      events.incrementAndGet()
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
        .withDefaultValue(0.0)
      add("stream.triggers", 1)
      add("stream.input_rows", p.numInputRows.toDouble)
      add("stream.add_batch_ms", d("addBatch"))
      add("stream.wal_commit_ms", d("walCommit"))
      add("stream.commit_offsets_ms", d("commitOffsets"))
      add("stream.query_planning_ms", d("queryPlanning"))
      add("stream.trigger_overhead_ms", d("triggerExecution") - d("addBatch"))
      add("stream.state_commit_ms", p.stateOperators.map(_.commitTimeMs.toDouble).sum)
      sums.synchronized {
        triggerMs += d("triggerExecution")
        state(p.runId) = (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  })

  private def timed[A](phase: String)(body: => A): (A, Double) = {
    spark.sparkContext.setLocalProperty(PhaseKey, phase)
    val t0 = System.nanoTime()
    try {
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    } finally spark.sparkContext.setLocalProperty(PhaseKey, null)
  }

  /** Runs one query with each layer timed; returns its frame and rows. */
  def query(fn: (SparkSession, String) => DataFrame, data: String): (DataFrame, Array[Row]) = {
    val (df, build) = timed("build")(fn(spark, data))
    val (_, optimize) = timed("optimize")(df.queryExecution.optimizedPlan)
    val (_, plan) = timed("plan")(df.queryExecution.executedPlan)
    val (rows, exec) = timed("action")(df.collect())
    add("build_s", build)
    add("catalyst.optimize_s", optimize)
    add("catalyst.plan_s", plan)
    add("exec_s", exec)
    (df, rows)
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private var gcAtReset = 0.0

  /** Waits until no listener event has arrived for 200 ms and every
    * started job has ended. */
  private def drain(): Unit = {
    var last = -1L
    while (events.get != last || sums.synchronized(openJobs) != 0) {
      last = events.get
      Thread.sleep(200)
    }
  }

  /** Starts the measured window: clears every counter. */
  def reset(): Unit = {
    drain()
    sums.synchronized { sums.clear(); triggerMs.clear(); state.clear() }
    heapPools.foreach(_.resetPeakUsage())
    gcAtReset = gcSeconds
  }

  /** Ends the measured window of `passes` passes taking `wallS` seconds
    * of wall time and `cpuS` of JVM CPU time in all, and returns every
    * per-layer metric as a per-pass figure. The table opens are timed
    * last, so their jobs stay out of the window. */
  def finish(passes: Int, wallS: Double, cpuS: Double, data: String): Seq[(String, Double)] = {
    drain()
    val gc = gcSeconds - gcAtReset
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    // VmHWM: the resident-set high-water mark of this JVM (Linux only)
    val peakRssMb = scala.util.Try(scala.io.Source.fromFile("/proc/self/status")
      .getLines().find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
    val window = sums.synchronized {
      val per = sums.toMap.map { case (k, v) => k -> v / passes }.withDefaultValue(0.0)
      val trig = triggerMs.sorted
      def pct(q: Double) = if (trig.isEmpty) 0.0 else trig(((trig.size - 1) * q).round.toInt)
      val layerNames = Seq("build_s", "build.jobs", "catalyst.optimize_s", "catalyst.plan_s",
        "catalyst.actions_s", "exec_s", "exec.jobs", "exec.stages", "exec.tasks",
        "exec.task_run_s", "exec.task_cpu_s", "exec.single_task_stages",
        "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb", "exec.scan_rows",
        "exec.output_mb", "exec.gc_s", "stream.triggers", "stream.input_rows",
        "stream.add_batch_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
        "stream.query_planning_ms", "stream.trigger_overhead_ms", "stream.state_commit_ms")
      layerNames.map(k => k -> per(k)) ++ Seq(
        "traced.warm_s" -> wallS / passes,
        "traced.warm_cpu_s" -> cpuS / passes,
        "exec.max_task_s" -> sums("max_task"),
        "exec.cpu_share" -> (if (sums("exec.task_run_s") > 0)
          sums("exec.task_cpu_s") / sums("exec.task_run_s") else 0.0),
        "exec.slot_util" -> sums("exec.task_run_s") / (wallS * cores),
        "stream.trigger_p50_ms" -> pct(0.5),
        "stream.trigger_p90_ms" -> pct(0.9),
        "stream.events_per_s" -> sums("stream.input_rows") / wallS,
        "stream.state_rows" -> state.values.map(_._1).sum.toDouble / passes,
        "stream.state_mb" -> mb(state.values.map(_._2).sum) / passes,
        "jvm.gc_s" -> gc / passes,
        "jvm.heap_peak_mb" -> mb(heapPeak),
        "jvm.peak_rss_mb" -> peakRssMb)
    }
    val opens = new java.io.File(data).list().toSeq.filter(_.endsWith(".parquet")).sorted
      .flatMap { f =>
        val t = f.stripSuffix(".parquet")
        (0 until 3).map { _ =>
          val t0 = System.nanoTime()
          if (t == "events") Tables.events(spark, data) else Tables.load(spark, data, t)
          (System.nanoTime() - t0) / 1e6
        }
      }.sorted
    window :+ ("tables.open_ms" -> opens(opens.size / 2))
  }
}
