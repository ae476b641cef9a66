package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session bootstrap for the graft engine.
  *
  * The reference engine forces Kryo and broadcasts the Hadoop conf at
  * startup (reference: runtime/src/main/scala/com/asakusafw/spark/runtime/
  * SparkClient.scala:105-152); with Dataset/Tungsten encoders neither is
  * needed. What we DO standardize: UTC session time zone (oracle parity),
  * AQE on (runtime coalesce / skew-join replaces the reference's plan-time
  * TINY/SMALL/LARGE/HUGE partition scaling, compiler/.../util/
  * NumPartitions.scala:31-71), and a shuffle-partition count sized to the
  * actual core count instead of Spark's default 200.
  */
object GraftSession {

  /** Recommended builder for local execution. On a real cluster the same
    * options apply except `master`; shuffle partitions should scale with
    * executor cores × executors (AQE coalesces the excess at runtime).
    */
  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // fixture events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
      // type — read as long and convert in `table` below
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // identical generated code must HIT the codegen cache even when AQE
      // renumbers stages between plans/reruns; the stage ID in the class
      // name exists for stack-trace readability, and with it the cache
      // keys on the ID too — multi-stage plans re-paid ~30 janino
      // compiles per execution (measured on the incremental dedups)
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Spark 4's per-session ARTIFACT isolation keys the janino compile
      // cache on the session's classloader identity
      // (CodeGenerator.compile: (HashableWeakReference(contextClassLoader),
      // body)). Every StreamingQuery START clones the session, so each
      // stream (re)start gets a fresh classloader and re-pays a full
      // janino compile of every codegen unit executed on the stream
      // thread even though the generated bodies are byte-identical —
      // measured as 13-30 compiles (~0.5-1.2 s) per rerun on EVERY
      // stream_* query (r16: stream_window compilesRuns [23,13,13] →
      // [23,0,0] with this off; the cache-key diff tool
      // graft.tools.CodegenCacheDiff showed the 13 recompiled keys
      // differing ONLY in the classloader weak-ref). This engine never
      // calls addArtifact, so per-session artifact isolation is inert
      // here and disabling it is semantics-identical; a deployment that
      // adds session JARs should flip it back on and eat the restart
      // recompiles. Static conf — set at session creation only.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/graft_warehouse")
      .config("spark.ui.enabled", "false")

  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Shuffle/spill scratch directory for `spark.local.dir`:
    * `SPARK_GRAFT_LOCAL_DIR` if set, else tmpfs (`/dev/shm`) when it is
    * writable, else the JVM temp dir. Local-mode shuffle files otherwise
    * land on disk, and the OS write-back of the heavy queries' shuffle
    * output taxes LATER queries' timed regions — measured as 2-5x
    * inflation of sub-second queries late in a 360-execution bench
    * session, and a 17 GB spill to rotational /tmp (not the operator)
    * once set fuzzy_join2's wall time in the Scale10 probe. A real cluster
    * provisions executor local dirs on fast storage for the same reason.
    * `spark.local.dir` is static conf, so callers pass this to the
    * builder; [[builder]] itself does not apply it.
    */
  def localScratchDir(): String = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm/graft_local"
    else sys.props("java.io.tmpdir")
  })

  /** Normalize an event-time column to Spark's session-zoned
    * microsecond TimestampType regardless of how the parquet writer
    * encoded it:
    *   - TIMESTAMP(NANOS) read as long under `nanosAsLong` → integer
    *     division to micros (float division would lose precision above
    *     2^53 ns);
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) read as
    *     TIMESTAMP_NTZ → cast (the session time zone is pinned to UTC
    *     everywhere, so the instant is unchanged and deterministic);
    *   - already TimestampType → untouched.
    * Fixture generators have used both physical encodings across rounds;
    * every graft read path funnels through this so a re-encoded input
    * never changes query semantics.
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema.fields.find(_.name == colName).map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn(colName, timestamp_micros(expr(s"$colName div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
  }

  /** Event-time column as epoch microseconds, accepting only TIMESTAMP /
    * TIMESTAMP_NTZ. A LongType column is REJECTED rather than cast:
    * `cast(long as timestamp)` reinterprets the value as epoch SECONDS,
    * which would turn a nanos-as-long fixture column into silently
    * absurd timestamps — route raw reads through [[normalizeTs]] first.
    */
  private[graft] def eventTimeMicros(df: DataFrame, colName: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema.fields.find(_.name == colName).map(_.dataType) match {
      case Some(TimestampType) => unix_micros(col(colName))
      case Some(TimestampNTZType) => unix_micros(col(colName).cast(TimestampType))
      case t => throw new IllegalArgumentException(
        s"event-time column '$colName' has type ${t.map(_.simpleString).getOrElse("<absent>")}: " +
          "use timestamp/timestamp_ntz (normalize raw long encodings via GraftSession.normalizeTs)")
    }
  }

  /** [[normalizeTs]] for operator inputs: TIMESTAMP passes through,
    * TIMESTAMP_NTZ is cast under the pinned UTC zone, and anything else —
    * including LongType — is REJECTED (same reasoning as
    * [[eventTimeMicros]]: a long reinterpreted as epoch seconds is a
    * silent corruption, not a conversion).
    */
  private[graft] def normalizeTsStrict(df: DataFrame, colName: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema.fields.find(_.name == colName).map(_.dataType) match {
      case Some(TimestampType) => df
      case Some(TimestampNTZType) =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case t => throw new IllegalArgumentException(
        s"event-time column '$colName' has type ${t.map(_.simpleString).getOrElse("<absent>")}: " +
          "use timestamp/timestamp_ntz (normalize raw long encodings via GraftSession.normalizeTs)")
    }
  }

  /** Run `body` with session confs pinned, restoring previous values
    * (or unsetting) afterwards — the shared form of the save/set/try/
    * finally-restore pattern the sinks and streaming drains need around
    * plan-time settings.
    */
  def withConfs[A](spark: SparkSession, pins: Map[String, String])(body: => A): A = {
    val saved = pins.keys.map(k => k -> spark.conf.getOption(k)).toMap
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Load one of the fixture tables from a scale-factor directory, with
    * the `ts` column normalized via [[normalizeTs]].
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))

  /** `table` + round-robin repartition to the session's parallelism.
    *
    * The fixture files are single-row-group parquet → the scan is ONE task
    * and any CPU-heavy per-row work (sketches, typed lambdas) would run on
    * one core. On a real corpus (many files / row groups) the scan
    * parallelizes by itself and this explicit shuffle is unnecessary — use
    * plain `table` there; use this for compute-bound paths over
    * small-file inputs.
    */
  def tableSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    table(spark, dir, name).repartition(spark.sparkContext.defaultParallelism)
}
