package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, GraftSession, SparkEntry}

/** The engine side of the benchmark: one closed-loop client driving the
  * public entry points (`GraftSession.builder`, `SparkEntry.queries`,
  * `Caches.clear`). perfbench/run.py launches it; it writes one JSON
  * result file and exits.
  *
  * Modes:
  *   - `guard`: every name in the frozen lists resolves in
  *     `SparkEntry.queries` and `SparkEntry.oracleSql` (no session);
  *   - `setup`: build the session, run the warm-up (the catalog flagship
  *     named by `--warmup`, on the small warm-up dataset), report `setup_s`;
  *   - `run`: set up, then a cold pass and warm passes over the workload
  *     until `--seconds` have passed, then (untimed) write every listed
  *     operation's result once for the oracle gate.
  *
  * Arguments are `--key value` pairs; run.py documents them.
  */
object BenchMain {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val out = new Json
    a("mode") match {
      case "guard" => guard(a, out)
      case mode => session(a, out, mode == "run")
    }
    Files.write(Paths.get(a("out")), out.render.getBytes(StandardCharsets.UTF_8))
    System.exit(0)
  }

  private def guard(a: Map[String, String], out: Json): Unit = {
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val names = readLines(a("lists")).map(_.split(" ")(1))
    val missing = names.filterNot(queries.contains)
    val noOracle = names.filterNot(oracles.contains)
    out("names") = names.size
    out("missing_query") = missing
    out("missing_oracle") = noOracle
    if (missing.nonEmpty || noOracle.nonEmpty) {
      System.err.println(s"[perfbench] frozen lists out of date: not in SparkEntry.queries: " +
        s"${missing.mkString(",")}; no oracle: ${noOracle.mkString(",")}")
      Files.write(Paths.get(a("out")), out.render.getBytes(StandardCharsets.UTF_8))
      System.exit(3)
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def readLines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  private def session(a: Map[String, String], out: Json, run: Boolean): Unit = {
    val launchMs = a("launch-ms").toLong
    val cores = a("cores").toInt
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", a("local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val createdMs = System.currentTimeMillis()
    noop(SparkEntry.queries(a("warmup"))(spark, a("warm-data")))
    Caches.clear(spark, blocking = true)
    val readyMs = System.currentTimeMillis()
    out("setup_s") = (readyMs - launchMs) / 1000.0
    out("session.create_s") = (createdMs - launchMs) / 1000.0
    out("session.warmup_s") = (readyMs - createdMs) / 1000.0
    if (run) passes(spark, a, out, cores)
    spark.stop()
  }

  private final case class Op(pass: Int, name: String, build: Double, exec: Double,
      release: Double, error: String)

  private def passes(spark: SparkSession, a: Map[String, String], out: Json, cores: Int): Unit = {
    val queries = SparkEntry.queries
    val names = readLines(a("names"))
    val dir = a("data")
    val seconds = a("seconds").toDouble
    val minWarm = a("min-warm").toInt
    val traced = a("trace") == "1"
    val tmpDir = new File(sys.props("java.io.tmpdir"))
    val tracer = if (traced) Some(new Tracer(spark, cores)) else None
    val rnd = new scala.util.Random(a("seed").toLong)
    val ops = ArrayBuffer.empty[Op]
    val passList = ArrayBuffer.empty[Json]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def now = System.nanoTime()
    // a failing operation stays in the pass and is timed like any other
    def runOp(pass: Int, name: String, trace: Option[Tracer]): Unit = {
      var build, exec, release = 0.0
      var error = ""
      trace.foreach(_.beginOp(pass, name))
      val t0 = now
      try {
        val df = queries(name)(spark, dir)
        build = (now - t0) / 1e9
        trace.foreach(_.phase("execute"))
        val t1 = now
        noop(df)
        exec = (now - t1) / 1e9
      } catch {
        case e: Throwable =>
          val t = (now - t0) / 1e9
          if (build == 0.0) build = t else exec = t - build
          error = (e.getClass.getName + ": " + String.valueOf(e.getMessage)).linesIterator
            .take(1).mkString.take(300)
          System.err.println(s"[perfbench] $name FAILED: $error")
      }
      trace.foreach(_.phase("release"))
      val t2 = now
      Caches.clear(spark, blocking = true)
      release = (now - t2) / 1e9
      trace.foreach(_.endOp())
      ops += Op(pass, name, build, exec, release, error)
    }
    var pass = 0
    // cold pass, then warm passes until the budget is spent; traced runs
    // alternate untraced and traced warm passes so the two can be compared
    while (pass <= minWarm || elapsed < seconds) {
      val order = rnd.shuffle(names)
      val tr = tracer.filter(_ => pass == 0 || pass % 2 == 0)
      tr.foreach(_.beginPass(pass))
      val p0 = now
      order.foreach(runOp(pass, _, tr))
      val wall = (now - p0) / 1e9
      tr.foreach(_.endPass(pass, wall))
      val pj = new Json
      pj("pass") = pass
      pj("wall_s") = wall
      pj("traced") = tr.isDefined
      passList += pj
      if (pass == 0) {
        // what the sinks left behind: graft names every output it writes
        // under java.io.tmpdir graft_*; native-library extractions and other
        // JVM leftovers in the same directory are not counted
        val outputs = Option(tmpDir.listFiles()).map(_.toSeq).getOrElse(Nil)
          .filter(_.getName.startsWith("graft"))
        val (bytes, files) = outputs.map(du).foldLeft((0L, 0L)) {
          case ((b, n), (b2, n2)) => (b + b2, n + n2) }
        out("stored_bytes") = bytes
        out("stored_files") = files
      }
      pass += 1
    }
    out("measure_s") = elapsed
    out("peak_rss_kb") = vmHwmKb()
    out("passes") = passList.toSeq
    out("ops") = ops.toSeq.map { o =>
      val j = new Json
      j("pass") = o.pass; j("name") = o.name; j("build_s") = o.build
      j("exec_s") = o.exec; j("release_s") = o.release; j("error") = o.error
      j
    }
    tracer.foreach { t => out("trace") = t.summary(); t.writeSpans(a("spans"), a("workload")) }
    gate(spark, names, dir, a("gate"), out)
  }

  /** Untimed: write every operation's result once, plus the oracle SQL. */
  private def gate(spark: SparkSession, names: Seq[String], dir: String, gateDir: String,
      out: Json): Unit = {
    val oracles = SparkEntry.oracleSql
    val errors = new Json
    names.sorted.foreach { n =>
      try SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(s"$gateDir/$n")
      catch {
        case e: Throwable =>
          errors(n) = (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(300)
      }
      Caches.clear(spark, blocking = true)
    }
    val sql = new Json
    names.foreach(n => sql(n) = oracles(n))
    Files.write(Paths.get(gateDir, "oracle_sql.json"), sql.render.getBytes(StandardCharsets.UTF_8))
    out("gate_errors") = errors
  }

  private def du(f: File): (Long, Long) =
    if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).map(du)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  private def vmHwmKb(): Long =
    readLines("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private[perfbench] def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Minimal ordered JSON object writer. */
final class Json {
  private val fields = ArrayBuffer.empty[(String, Any)]
  def update(k: String, v: Any): Unit = fields += k -> v
  def render: String = fields.map { case (k, v) => Json.str(k) + ":" + Json.value(v) }
    .mkString("{", ",", "}")
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case j: Json => j.render
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }
}
