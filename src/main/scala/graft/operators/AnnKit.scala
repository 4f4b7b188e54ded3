package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The ANN evaluation kit: the pieces every LlmScale top-k search and
  * recall readout is built from (README "ANN kit"). Each helper emits
  * one fixed chain of expressions, so an op built on it plans exactly
  * as the hand-written chain did; callers own every checkpoint and
  * scratch registration. Tables use the family's column names: a
  * corpus is (vec_id, qv), a query set (qid, qq), a candidate list
  * (qid, cand_id, dist), a prediction or truth list (qid, cand_id).
  */
object AnnKit {

  /** An embedding array on the family's 10⁶ integer lattice: every
    * distance, rank and tie-break downstream is exact BIGINT. */
  def lattice(arr: String = "embedding"): Column =
    expr(s"transform($arr, x -> cast(round(cast(x as double) * 1e6, 0) as bigint))")

  /** The 10 evaluation queries of a corpus (vec_id < 10) as (qid, qq). */
  def evalQueries(vecs: DataFrame): DataFrame =
    vecs.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("qv").as("qq"))

  private val byDist = Window.partitionBy(col("qid"))
    .orderBy(col("dist").asc, col("cand_id").asc)

  /** Each query's k best candidates by (dist, cand_id), the total order
    * both engines walk; the row number stays in column `rank`. */
  def topK(cands: DataFrame, k: Int, rank: String = "rn"): DataFrame =
    cands.withColumn(rank, row_number().over(byDist)).where(col(rank) <= k)

  /** Exact top-3 of the queries `q` over `corpus` as (qid, cand_id):
    * corpus × broadcast(q), each query's own row excluded, ranked by
    * `dist` over the corpus vector and the query vector. */
  def exact(corpus: DataFrame, q: DataFrame,
            dist: String = "squared_distance(qv, qq)"): DataFrame =
    topK(corpus.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"), expr(dist).as("dist")), 3)
      .select(col("qid"), col("cand_id"))

  /** Each query's n nearest cells (`cell` id, `cv` centroid) by
    * (cdist, cell) as (qid, qq, cell, pr), pr the probe rank. */
  def probes(q: DataFrame, cells: DataFrame, n: Int,
             cell: String = "cluster"): DataFrame =
    q.crossJoin(broadcast(cells))
      .select(col("qid"), col("qq"), col(cell),
        expr("squared_distance(qq, cv)").as("cdist"))
      .withColumn("pr", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("cdist").asc, col(cell).asc)))
      .where(col("pr") <= n)
      .select(col("qid"), col("qq"), col(cell), col("pr"))

  /** `left` with `hit` set on the (qid, cand_id) rows `right` shares. */
  def hits(left: DataFrame, right: DataFrame): DataFrame =
    left.join(right.withColumn("hit", lit(1)), Seq("qid", "cand_id"), "left")

  /** Per-query counts of `pred` against `truth`: (qid, k, n_hit). */
  def recall(truth: DataFrame, pred: DataFrame): DataFrame =
    hits(truth, pred).groupBy(col("qid"))
      .agg(count(lit(1)).as("k"), count(col("hit")).as("n_hit"))

  /** recall@3 of a `recall` row, divided once and rounded once. */
  def recallAt3: Column =
    round(col("n_hit") / col("k").cast("double"), 4).as("recall_at_3")

  /** The filtered-search readout: per strategy and query of `truth`,
    * (n_ret, n_hit, n_truth, recall_bp) of `preds` (qid, cand_id and a
    * `strategy` column when strategies are named). A strategy × query
    * with no returned rows reads 0 instead of vanishing. */
  def filtered(preds: DataFrame, truth: DataFrame,
               strategies: String*): DataFrame = {
    val s = preds.sparkSession
    import s.implicits._
    val keys = (if (strategies.isEmpty) Nil else Seq("strategy")) :+ "qid"
    val nTruth = truth.groupBy(col("qid")).agg(count(lit(1)).as("n_truth"))
    val got = hits(preds, truth).groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_ret"), count(col("hit")).as("n_hit"))
    val rows =
      if (strategies.isEmpty) nTruth
      else strategies.toDF("strategy").crossJoin(broadcast(nTruth))
    rows.join(got, keys, "left")
      .select(keys.map(col) ++ Seq(
        coalesce(col("n_ret"), lit(0L)).as("n_ret"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        col("n_truth")): _*)
      .withColumn("recall_bp", expr("n_hit * 10000L div n_truth"))
  }
}
