package graft.operators

import java.util.UUID

import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The one stream runner (README "Streams"): every stream query under
  * operators/ and pipeline/ starts and is waited on here, every memory
  * sink is named and drained here, and every per-call dir comes from
  * `fresh`. The one query that starts elsewhere is `source_memory`'s,
  * which feeds a MemoryStream by hand between two `processAllAvailable`
  * steps (it runs through `drain` for its name and view). */
private[graft] object StreamRunner {

  private val timeoutMs = 180000L

  /** A per-call dir `<root>/<tag>-<uuid>`, deleted at the next drain
    * (`MemoUtil.dropScratch`): the DataFrames these ops return read
    * their dirs lazily, so a dir lives until the query's result has
    * executed, and no longer. */
  def fresh(tag: String): String = {
    val dir = s"${StageUtil.root}/$tag-${UUID.randomUUID()}"
    MemoUtil.onDrain(() => StageUtil.wipe(java.nio.file.Paths.get(dir)))
    dir
  }

  /** Start `w` from checkpoint `ckpt` under the AvailableNow trigger: it
    * processes the backlog, then terminates. */
  def start(w: DataStreamWriter[Row], ckpt: String): StreamingQuery =
    w.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()

  /** Bounded wait: AvailableNow terminates on its own; the timeout is a
    * backstop so a misbehaving source can never wedge a run. A query
    * still running then is stopped and fails: the rows it has landed are
    * a partial result, never one to check or time. */
  def await(q: StreamingQuery): Unit =
    try {
      if (!q.awaitTermination(timeoutMs)) {
        q.stop()
        throw new IllegalStateException(
          s"stream query ${Option(q.name).getOrElse(q.id)} did not finish " +
            s"within ${timeoutMs / 1000} s; stopped")
      }
    } finally release(q)

  def run(w: DataStreamWriter[Row], ckpt: String = fresh("ckpt")): Unit =
    await(start(w, ckpt))

  /** Drain `df` into a memory sink named `tag<uuid>` (`go` runs the
    * writer, `run` by default) and return the sink's table. The temp view
    * the sink registers is dropped once the table has resolved: the
    * returned plan holds the sink itself, and a registered view would
    * keep every call's rows on the driver heap for the JVM's life. */
  def drain(df: DataFrame, mode: String, tag: String,
            go: DataStreamWriter[Row] => Unit = run(_)): DataFrame = {
    val name = tag + UUID.randomUUID().toString.replace("-", "")
    val s = df.sparkSession
    try {
      go(df.writeStream.format("memory").queryName(name).outputMode(mode))
      s.table(name)
    } finally s.catalog.dropTempView(name)
  }

  /** Unregister the listener bus of a finished query's cloned session.
    * Spark runs every stream query on a clone of its session, and a
    * stateful query asks the clone's `streams` for the state-store
    * coordinator, which registers the clone's StreamingQueryListenerBus
    * on the SparkContext's listener bus; Spark never unregisters it, so
    * each stateful call would leave one there for the JVM's life. */
  def release(q: StreamingQuery): Unit = q match {
    case w: StreamingQueryWrapper =>
      val e = w.streamingQuery
      val clone = cloneOf.invoke(e).asInstanceOf[classic.SparkSession]
      val mine = manager.get(clone.sessionState)
      if (mine != null && (mine ne manager.get(e.sparkSession.sessionState)))
        clone.sparkContext.removeSparkListener(
          managerBus.invoke(mine).asInstanceOf[SparkListener])
    case _ =>
  }

  // Spark keeps all three out of reach: a query's cloned session, a
  // session's lazily made query manager (null until first asked for)
  // and that manager's listener bus
  private val cloneOf =
    classOf[StreamExecution].getMethod("sparkSessionForStream")
  private val manager = {
    val f = Class.forName("org.apache.spark.sql.internal.SessionState")
      .getDeclaredField("streamingQueryManager")
    f.setAccessible(true)
    f
  }
  private val managerBus = {
    val m = classOf[classic.StreamingQueryManager].getDeclaredMethod("listenerBus")
    m.setAccessible(true)
    m
  }
}
