package graft

import org.apache.spark.sql.SparkSession

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
    * TIMESTAMP) and the RocksDB state store that transformWithState's
    * column families need. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
