package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.Bridge

import graft.{Caches, GraftSession, SparkEntry}

/** Plan and profile of named [[graft.SparkEntry]] queries, in the
  * session Bench times (the public builder, `SPARK_GRAFT_CPUS` cores,
  * tmpfs scratch, the query's conf pins):
  *
  * `runMain graft.tools.Explain <query>[,<query>] [sfDir] [runs]`
  *
  * For each query it prints the formatted physical plan; per run, wall
  * time, rows and the janino compile count (a cold first run followed by
  * zeros means the codegen cache holds, the same nonzero count on every
  * run is churn); and the completed stages with the most executor run
  * time — task count (parallelism), input and shuffle bytes (data
  * movement), run vs CPU seconds (the gap is GC and I/O wait) and disk
  * spill (the memory cliff). `sfDir` defaults to `SPARK_GRAFT_SF_DIR`,
  * `runs` to 2.
  */
object Explain {

  final case class Run(seconds: Double, rows: Long, compiles: Long)

  final case class Stage(id: Int, tasks: Int, inputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, runMs: Long, cpuNs: Long, spillBytes: Long)

  final case class Profile(plan: String, runs: Seq[Run], stages: Seq[Stage])

  /** Records every successfully completed stage; attached to the
    * listener bus only while [[profile]] runs.
    */
  final class StageCollector extends SparkListener {
    private val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    def completed: Seq[Stage] = stages.asScala.toSeq
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (i.failureReason.isEmpty && m != null)
        stages.add(Stage(i.stageId, i.numTasks, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.executorRunTime, m.executorCpuTime, m.diskBytesSpilled))
    }
  }

  /** Run `query` `runs` times under its conf pins, releasing its caches
    * after each run, and collect the plan, per-run figures and every
    * stage those runs completed.
    */
  def profile(spark: SparkSession, query: String, sfDir: String, runs: Int): Profile = {
    require(runs >= 1, s"runs must be >= 1, got $runs")
    val fn = SparkEntry.queries.getOrElse(query,
      throw new IllegalArgumentException(s"unknown query '$query'"))
    val sc = spark.sparkContext
    val collector = new StageCollector
    sc.addSparkListener(collector)
    try {
      var plan = ""
      val rs = GraftSession.withConfs(spark, SparkEntry.confPinsFor(spark, query, sfDir)) {
        (1 to runs).map { i =>
          val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val rows = df.count()
          val run = Run((System.nanoTime() - t0) / 1e9, rows,
            CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
          if (i == 1) plan = df.queryExecution.explainString(FormattedMode)
          Caches.clear(spark, blocking = true)
          run
        }
      }
      // stage events arrive asynchronously: deliver them before reading
      Bridge.drainListenerBus(sc)
      Profile(plan, rs, collector.completed)
    } finally sc.removeSparkListener(collector)
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Explain <query>[,<query>] [sfDir] [runs]  (sfDir defaults to $SPARK_GRAFT_SF_DIR)"
    def fail(msg: String): Nothing = { System.err.println(msg); sys.exit(2) }
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(fail(usage))
    val dir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(fail(usage))
    val runs = args.lift(2).fold(2)(_.toInt)
    names.filterNot(SparkEntry.queries.contains).foreach(q => fail(s"unknown query '$q'"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.local.dir", GraftSession.localScratchDir())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try names.foreach { q =>
      val p = profile(spark, q, dir, runs)
      println(s"==== $q ====")
      println(p.plan)
      p.runs.zipWithIndex.foreach { case (r, i) =>
        println(f"[explain] $q run ${i + 1}: time=${r.seconds}%.2fs rows=${r.rows} compiles=${r.compiles}")
      }
      println(f"[explain] ${"stage"}%6s ${"tasks"}%6s ${"in_MB"}%9s ${"shr_MB"}%9s ${"shw_MB"}%9s ${"run_s"}%8s ${"cpu_s"}%8s ${"spill_MB"}%9s")
      p.stages.sortBy(-_.runMs).take(15).foreach { s =>
        println(f"[explain] ${s.id}%6d ${s.tasks}%6d ${s.inputBytes / 1e6}%9.1f " +
          f"${s.shuffleReadBytes / 1e6}%9.1f ${s.shuffleWriteBytes / 1e6}%9.1f " +
          f"${s.runMs / 1e3}%8.2f ${s.cpuNs / 1e9}%8.2f ${s.spillBytes / 1e6}%9.1f")
      }
    } finally spark.stop()
  }
}
