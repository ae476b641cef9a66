package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting for the traced run, from outside the engine.
  *
  * Registers a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener for the length of each traced pass only, so an
  * untraced pass runs with no listener of the benchmark's at all. The
  * client is a single closed loop, and the listener bus is drained at every
  * phase boundary (build → execute → release), so each event belongs to the
  * operation and phase in flight when it is delivered. Drain time is
  * excluded from the operation's own timings and reported as `drain_s`.
  *
  * Spans (kept in memory, written at the end as JSON lines):
  * `{"id", "parent", "op", "kind", "name", "start_ms", "end_ms"}` with
  * kinds workload → pass → op → build | execute | release, and job and
  * stage spans attached to the operation in flight. All spans of one
  * operation carry its id in `op`.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext

  /** Counters of one traced pass; listener queues add to them concurrently. */
  final class Layer {
    val n = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = synchronized { n(k) = n(k) + v }
  }

  @volatile private var layer: Layer = new Layer
  @volatile private var phaseName = "build"
  @volatile private var opId = -1L
  private var nextId = 0L
  private val spans = ArrayBuffer.empty[String]
  private val passLayers = ArrayBuffer.empty[(Int, Double, Layer)]
  private val openJobs = mutable.Map.empty[Int, Long]
  private val jobIntervals = ArrayBuffer.empty[(String, Long, Long)]
  private val streamRows = mutable.Map.empty[String, Long]
  private var passSpan = -1L
  private var passStart = 0L
  private var opSpan = -1L
  private var opName = ""
  private var opStart = 0L
  private var phaseSpan = -1L
  private var phaseStart = 0L
  private var compiles0 = 0L
  private var compileNs0 = 0L
  private var gc0 = 0L
  private var persisted0 = Set.empty[Int]

  private def ms = System.currentTimeMillis()
  private val runStart = ms
  private def id(): Long = synchronized { nextId += 1; nextId }

  private def span(id: Long, parent: Long, kind: String, name: String, s: Long, e: Long): Unit =
    synchronized {
      spans += s"""{"id":$id,"parent":$parent,"op":$opId,"kind":"$kind","name":${Json.str(name)},"start_ms":$s,"end_ms":$e}"""
    }

  private def jvmGcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  // reflective: LiveListenerBus.waitUntilEmpty is not public API
  private val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
  private val waitEmpty = bus.getClass.getMethod("waitUntilEmpty")

  private def drain(): Unit = {
    val t = System.nanoTime()
    waitEmpty.invoke(bus)
    layer.add("drain_s", (System.nanoTime() - t) / 1e9)
  }

  /** Called outside the pass's timed region. Events still queued from an
    * untraced pass are delivered before the listeners are added. */
  def beginPass(pass: Int): Unit = {
    waitEmpty.invoke(bus)
    layer = new Layer
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    passSpan = id()
    passStart = ms
  }

  /** Called outside the pass's timed region; the last operation's `endOp`
    * has drained the bus, so nothing of this pass is still queued. */
  def endPass(pass: Int, wall: Double): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    passLayers += ((pass, wall, layer))
    span(passSpan, 0, "pass", s"pass-$pass", passStart, ms)
  }

  def beginOp(pass: Int, name: String): Unit = {
    opSpan = id()
    opId = opSpan
    phaseName = "build"
    phaseSpan = id()
    compiles0 = BenchMain.compiles
    compileNs0 = CodeGenerator.compileTime
    gc0 = jvmGcMs
    persisted0 = sc.getPersistentRDDs.keySet.toSet
    synchronized(jobIntervals.clear())
    phaseStart = ms
    opName = name
    opStart = phaseStart
  }

  /** Close the current phase (draining the bus first) and open `next`. */
  def phase(next: String): Unit = {
    val end = ms
    drain()
    closePhase(end)
    phaseName = next
    phaseSpan = id()
    phaseStart = ms
  }

  private def closePhase(end: Long): Unit = {
    val secs = (end - phaseStart) / 1000.0
    span(phaseSpan, opSpan, phaseName, phaseName, phaseStart, end)
    val jobs = synchronized(jobIntervals.filter(_._1 == phaseName).map(j => (j._2, j._3)).toSeq)
    val covered = union(jobs) / 1000.0
    val c = BenchMain.compiles
    val cNs = CodeGenerator.compileTime
    layer.add("codegen.compiles", (c - compiles0).toDouble)
    layer.add("codegen.compile_s", (cNs - compileNs0) / 1e9)
    compiles0 = c
    compileNs0 = cNs
    phaseName match {
      case "build" =>
        layer.add("queries.build_s", secs)
        layer.add("queries.build_job_s", covered)
        layer.add("queries.build_driver_s", math.max(0.0, secs - covered))
        layer.add("queries.build_jobs", jobs.size.toDouble)
      case "execute" =>
        layer.add("execute_s", secs)
        layer.add("execute_job_s", covered)
      case "release" =>
        layer.add("caches.release_s", secs)
    }
    layer.add("job_covered_s", covered)
  }

  def endOp(): Unit = {
    val end = ms
    drain()
    closePhase(end)
    val g = jvmGcMs
    layer.add("jvm.gc_s", (g - gc0) / 1000.0)
    val leaked = sc.getPersistentRDDs.keySet.toSet -- persisted0
    layer.add("caches.leaked_rdds", leaked.size.toDouble)
    span(opSpan, passSpan, "op", opName, opStart, end)
    opId = -1L
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      layer.add("scheduler.jobs", 1)
      openJobs(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach { s =>
        jobIntervals += ((phaseName, s, e.time))
        span(id(), opSpan, "job", s"job-${e.jobId}", s, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      layer.add("scheduler.stages", 1)
      span(id(), opSpan, "stage", s"stage-${i.stageId}.${i.attemptNumber()}",
        i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      layer.add("scheduler.tasks", 1)
      if (m != null) {
        val l = layer
        l.add("executor.run_s", m.executorRunTime / 1000.0)
        l.add("executor.cpu_s", m.executorCpuTime / 1e9)
        l.add("executor.gc_s", m.jvmGCTime / 1000.0)
        l.add("scheduler.task_overhead_s",
          math.max(0L, e.taskInfo.duration - m.executorRunTime) / 1000.0)
        l.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        l.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        l.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1000.0)
        l.add("shuffle.spill_mb", m.diskBytesSpilled / 1e6)
        l.add("sources.read_mb", m.inputMetrics.bytesRead / 1e6)
        l.add("sources.read_rows", m.inputMetrics.recordsRead.toDouble)
        l.add("sinks.written_mb", m.outputMetrics.bytesWritten / 1e6)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit =
      if (e.getClass.getSimpleName == "SparkListenerSQLAdaptiveExecutionUpdate")
        layer.add("plans.aqe_updates", 1)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val t = qe.tracker
      val p = t.phases
      def phaseS(k: String) = p.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
      // plan time of actions inside the build phase is already part of
      // build_driver_s; count only the final action's here
      val key = if (phaseName == "build") "build_" else ""
      layer.add(s"${key}plans.analysis_s", phaseS("analysis"))
      layer.add(s"${key}plans.optimizer_s", phaseS("optimization"))
      layer.add(s"${key}plans.planning_s", phaseS("planning"))
      t.rules.filter(_._1.startsWith("graft.plans.")).values.foreach { r =>
        layer.add("plans.graft_rules_s", r.totalTimeNs / 1e9)
        layer.add("plans.graft_rule_runs", r.numInvocations.toDouble)
        layer.add("plans.graft_rule_effective_runs", r.numEffectiveInvocations.toDouble)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      def s(k: String) = d.getOrElse(k, 0L) / 1000.0
      layer.add("streaming.batches", 1)
      layer.add("streaming.plan_s", s("queryPlanning"))
      layer.add("streaming.add_batch_s", s("addBatch"))
      layer.add("streaming.wal_s", s("walCommit") + s("commitOffsets"))
      val rows = p.stateOperators.map(_.numRowsTotal).sum
      val prev = synchronized(streamRows.put(p.id.toString, rows).getOrElse(0L))
      layer.add("streaming.state_rows", (rows - prev).toDouble)
    }
  }

  /** Traced warm passes averaged per pass, and the cold pass's codegen. */
  def summary(): Json = {
    val out = new Json
    val warm = passLayers.filter(_._1 > 0)
    val cold = passLayers.find(_._1 == 0)
    cold.foreach { case (_, _, l) =>
      out("codegen.cold_compiles") = l.n("codegen.compiles")
      out("codegen.cold_compile_s") = l.n("codegen.compile_s")
    }
    val keys = warm.flatMap(_._3.n.keys).distinct
    val per = new Json
    keys.foreach(k => per(k) = warm.map(_._3.n(k)).sum / math.max(1, warm.size))
    out("warm_traced_passes") = warm.size
    out("warm_traced_wall_s") = warm.map(_._2).toSeq
    out("per_pass") = per
    out("cores") = cores
    out
  }

  def writeSpans(path: String, workload: String): Unit = {
    val root = s"""{"id":0,"parent":-1,"op":-1,"kind":"workload","name":${Json.str(workload)},""" +
      s""""start_ms":$runStart,"end_ms":$ms}"""
    Files.write(Paths.get(path), (root +: spans).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}
