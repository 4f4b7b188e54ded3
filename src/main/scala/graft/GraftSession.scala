package graft

import org.apache.spark.sql.SparkSession

import graft.sources.LocalCheckpointFileManager

/** The one local session every main runs on. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` as a positive int, `default` when unset; any
    * other value stops the run at startup. */
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => default
    case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** local[cpus] with as many shuffle partitions, UTC, the fixture read
    * confs (nanosecond timestamps as longs, naive timestamps as
    * TIMESTAMP), the RocksDB state store that transformWithState's
    * column families need, and the java.nio checkpoint file manager for
    * the stream queries that start on this session (README "Streams"). */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config(Map(LocalCheckpointFileManager.conf))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val Isolation = "spark.sql.artifact.isolation.enabled"

  /** The one builder of a derived session (README "Sessions"): a
    * `newSession()` of `parent` with artifact isolation off, then
    * `confs` in order (a later pair wins). Spark keys its generated-code
    * cache by the context classloader, and an isolated session runs its
    * tasks under a classloader of its own, so every derived session
    * (and every stream's clone of one) would compile all its codegen
    * classes again. Graft adds no session artifacts: off, the session
    * shares the default classloader and reuses compiled classes.
    * Isolation is read once, when the session is first used, so it is
    * set before anything else. Sessions are not changed after this
    * returns (SessionSpec's lint). */
  def derived(parent: SparkSession, confs: (String, String)*): SparkSession = {
    require(!confs.exists(_._1 == Isolation), s"$Isolation is the builder's")
    val s = parent.newSession()
    s.conf.set(Isolation, "false")
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** `parent`'s shuffle-partition count, for a derived session that
    * keeps it. */
  def partitionsOf(parent: SparkSession): (String, String) =
    "spark.sql.shuffle.partitions" -> parent.conf.get("spark.sql.shuffle.partitions")

  /** A conf-isolated twin of `parent` (ADVICE r16): `parent`'s runtime
    * SQL confs, then `confs`. `newSession()` starts from the builder's
    * SparkConf, so the runtime confs are copied for ops that must plan
    * like their caller (a spec toggling a knob on the parent sees it
    * honored). Ops that must hold a planner knob at EXECUTION time (the
    * returned DataFrame plans lazily, so a set/restore around
    * construction would un-set it before planning) build on this, so
    * later ops' plan shapes stay order-independent. Shares the
    * SparkContext and caches. */
  def confClone(parent: SparkSession, confs: (String, String)*): SparkSession =
    derived(parent, parent.conf.getAll.toSeq.filter { case (k, _) =>
      k != Isolation && parent.conf.isModifiable(k)
    } ++ confs: _*)
}
