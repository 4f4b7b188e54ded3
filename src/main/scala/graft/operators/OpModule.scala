package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** A group of related operators contributing to the SparkEntry registry. */
trait OpModule {
  /** op name → (session, sfDir) => result. Names are SURVEY.md §2 keys. */
  def queries: Map[String, (SparkSession, String) => DataFrame]

  /** op name → equivalent DuckDB SQL over the fixture tables. Keys absent
    * here (streaming / approximate ops) get a rows-only check. */
  def oracle: Map[String, String]
}

private[graft] object MemoUtil {
  /** Free the block-manager storage behind a localCheckpoint'd DataFrame
    * (its analyzed plan is a LogicalRDD over the materialized blocks).
    * Memo resets must call this before dropping their references —
    * clearing the map alone strands the checkpoint blocks until GC,
    * inflating memory across bench passes. */
  def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Every Memo ever constructed; each registers itself on creation. */
  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[Memo[_, _]]

  private[operators] def register(m: Memo[_, _]): Unit = registry.add(m)

  def memos: Seq[Memo[_, _]] = registry.asScala.toList

  /** Reset every memo `owner` declares: the whole body of each module's
    * public reset hook. */
  def reset(owner: OpModule): Unit =
    memos.filter(_.owner eq owner).foreach(_.reset())

  /** The pass boundary: every registered memo, then per-query scratch. */
  def resetAll(): Unit = {
    memos.foreach(_.reset())
    dropScratch()
  }

  /** Lookups so far per memo family; diffed around a query, it names the
    * families that query reads. */
  def familyLookups: Map[String, Long] =
    memos.groupMapReduce(_.family)(_.lookups)(_ + _)

  /** INTRA-op checkpoints (multi-reader lineage cuts whose blocks the
    * returned plan still references) can't unpersist inside the op — the
    * caller hasn't executed the result yet, and a localCheckpoint'd RDD
    * is unrecoverable once its blocks drop. They register here instead,
    * and the harness frees them at the safe points: Verify after each
    * query's parquet is written, Bench between timing passes. Without
    * this they strand in the block manager until ContextCleaner GC —
    * the one leak the r6 advice flagged. */
  private val scratchRefs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  def scratch(df: DataFrame): DataFrame = synchronized {
    scratchRefs += df; df
  }

  /** Hooks run outside this object's lock: a hook that releases memo
    * entries takes the memo's lock, and a memo build takes this one. */
  def dropScratch(): Unit = {
    val (refs, hooks) = synchronized {
      val taken = (scratchRefs.toList, drainHooks.toList)
      scratchRefs.clear(); drainHooks.clear()
      taken
    }
    refs.foreach(dropCheckpoint)
    hooks.foreach(f => f())
  }

  /** One-shot cleanup hooks run at the same safe points as scratch
    * frees (Verify after each query's parquet lands, Bench after each
    * query's toRdd drains): an op whose RESULT still references session
    * state it wants released — scan_cached's eager `CACHE TABLE`, which
    * cannot uncache inline because the returned DataFrame executes
    * lazily — registers the release here instead of leaving it squatting
    * on executor memory under every subsequent query (ADVICE r12). */
  private val drainHooks = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  def onDrain(f: () => Unit): Unit = synchronized { drainHooks += f }
}

/** A per-pass memoized build shared across queries: the session-level
  * reuse cache behind every memo family. Declared once, beside its
  * builder, with the `family` of queries that share the build and the
  * frames of a value that THIS memo owns: `owned` lists the checkpoints
  * `reset` and `releaseWhere` unpersist. A value may also carry frames
  * it must not free, such as another memo's checkpoint (graphMemo holds
  * lloydMemo's qv) or a plain uncheckpointed plan. Resets happen between
  * timing passes (`MemoUtil.resetAll`, or each module's reset hook) and
  * on drain for entries keyed on a store that cannot be reused. */
private[graft] final class Memo[K, V](val owner: OpModule, val family: String)(
    owned: V => Seq[DataFrame]) {
  private val entries = scala.collection.mutable.HashMap.empty[K, V]
  private val lookupCount = new java.util.concurrent.atomic.AtomicLong
  private val buildCount = new java.util.concurrent.atomic.AtomicLong
  MemoUtil.register(this)

  /** Atomic memoized build. A concurrent map's getOrElseUpdate is NOT
    * atomic: two concurrent first callers can both run the builder, and
    * the loser's checkpoint blocks strand in the block manager. Builds
    * run once per key and the harness is single-threaded, so serializing
    * them on the memo costs nothing and makes the leak impossible. */
  def apply(k: K)(build: => V): V = {
    lookupCount.incrementAndGet()
    synchronized {
      entries.getOrElseUpdate(k, { buildCount.incrementAndGet(); build })
    }
  }

  def lookups: Long = lookupCount.get
  /** How many times a build actually ran in this JVM. */
  def builds: Long = buildCount.get
  def isEmpty: Boolean = synchronized(entries.isEmpty)
  def ownedFrames: Seq[DataFrame] =
    synchronized(entries.values.toList.flatMap(owned))

  def reset(): Unit = releaseWhere(_ => true)

  /** Drop the matching entries, unpersisting the frames they own. */
  def releaseWhere(p: K => Boolean): Unit = synchronized {
    entries.filterInPlace { (k, v) =>
      val drop = p(k)
      if (drop) owned(v).foreach(MemoUtil.dropCheckpoint)
      !drop
    }
  }
}

private[graft] object Memo {
  /** A memo whose value is one owned checkpointed frame. */
  def frame[K](owner: OpModule, family: String): Memo[K, DataFrame] =
    new Memo[K, DataFrame](owner, family)(Seq(_))
}
