package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators._

/** The memo lifecycle: each registered memo empties under its module's
  * reset hook and unpersists exactly the checkpoints it owns, the five
  * named hooks cover every memo, and the family map Bench observes
  * names registered queries only. */
class MemoSpec extends SparkSpec {
  /** Queries that between them fill every memo. */
  private val filling = Seq(
    "graph_components",
    "llm_kmeans", "llm_ann_pq_recall", "llm_ann_pq_residual_recall",
    "llm_ann_graph", "llm_ann_graph_delete", "llm_ann_ivf_incremental",
    "llm_ann_ivf_rebalance",
    "llm_ann_graph_persisted", "llm_ann_graph_persisted_filtered",
    "llm_ann_index_persisted", "sink_stream_graph",
    "llm_quality_classifier", "llm_dedup_near", "llm_hybrid_rrf")

  /** The five public reset hooks, keyed by the module that declares them. */
  private val hooks: Seq[(OpModule, () => Unit)] = Seq(
    LlmScale -> (() => LlmScale.resetLloydMemo()),
    Analytics -> (() => Analytics.resetGraphMemo()),
    LlmOps -> (() => LlmOps.resetNearMemo()),
    Retrieval -> (() => Retrieval.resetFusedMemo()),
    LlmCuration -> (() => LlmCuration.resetClfMemo()))

  private def fill(): Unit = filling.foreach { n =>
    SparkEntry.queries(n)(spark, sf).queryExecution.toRdd.count()
  }

  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("every registered memo: its module's reset empties it and unpersists every checkpoint it owns") {
    fill()
    val memos = MemoUtil.memos
    memos.foreach(m => assert(!m.isEmpty,
      s"a ${m.family} memo of ${m.owner} was not filled by $filling"))
    hooks.foreach { case (owner, reset) =>
      val mine = memos.filter(_.owner eq owner)
      val owned = mine.flatMap(_.ownedFrames).flatMap(rddIds).toSet
      assert(owned.nonEmpty && owned.subsetOf(persisted),
        s"$owner's memos must hold persisted checkpoints before the reset")
      reset()
      mine.foreach(m => assert(m.isEmpty, s"$owner's reset left a ${m.family} memo"))
      assert((owned & persisted).isEmpty,
        s"$owner's reset left owned checkpoints persisted: ${owned & persisted}")
    }
    MemoUtil.dropScratch()
  }

  test("releasing the store memos and the graph memo leaves lloydMemo's borrowed qv readable") {
    SparkEntry.queries("llm_ann_graph_persisted")(spark, sf).queryExecution.toRdd.count()
    val qv = LlmScale.lloyd(spark, sf)._1
    val (_, _, borrowed) = LlmScale.annGraphAdjacency(spark, sf)
    assert(rddIds(borrowed) == rddIds(qv) && rddIds(qv).nonEmpty,
      "graphMemo's third frame is lloydMemo's qv checkpoint")
    LlmScale.releaseFreshStoreMemos(LlmScale.graphStoreDir(spark, sf))
    LlmScale.graphMemo.reset()
    assert(rddIds(qv).toSet.subsetOf(persisted), "qv must stay persisted")
    assert(qv.count() == Tables.embeddings(spark, sf).count())
    MemoUtil.resetAll()
  }

  test("the five named resets leave every registered memo empty") {
    fill()
    assert(MemoUtil.memos.map(_.owner).toSet.subsetOf(hooks.map(_._1).toSet),
      "every memo must belong to a module with a named reset hook")
    hooks.foreach(_._2())
    MemoUtil.memos.foreach(m =>
      assert(m.isEmpty, s"a ${m.family} memo of ${m.owner} survived the resets"))
    MemoUtil.dropScratch()
  }

  test("Bench's observed family map names registered queries, one family per memo family") {
    val run = filling.map(n => n -> SparkEntry.queries(n)).toMap
    val pass = Bench.runPass(spark, sf, run)
    assert(pass.failed.isEmpty, s"failed: ${pass.failed}")
    assert(pass.families.keySet == Set("graph_adjacency", "lloyd_lattice",
      "classifier", "lsh_pairs", "fused_retrieval", "persisted_stores"))
    pass.families.foreach { case (f, members) =>
      assert(members.nonEmpty, s"$f observed no member")
      assert(members.subsetOf(SparkEntry.queries.keySet), s"$f: $members")
    }
    assert(pass.families("fused_retrieval") == Set("llm_hybrid_rrf"))
    MemoUtil.resetAll()
  }
}
