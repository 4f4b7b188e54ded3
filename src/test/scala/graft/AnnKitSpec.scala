package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.AnnKit

/** The ANN evaluation kit (README "ANN kit"): its ranking and readout
  * rules on literal tables, and the lint that keeps LlmScale on it. */
class AnnKitSpec extends SparkSpec {
  import spark.implicits._

  test("exact: self pair excluded, a distance tie broken by cand_id; filtered reads a silent strategy as 0") {
    GraftExtensions.register(spark)
    // vecs 3 and 4 tie for third place from query 0
    val corpus = Seq((0L, Array(0L)), (1L, Array(1L)), (2L, Array(-2L)),
      (4L, Array(-5L)), (3L, Array(5L))).toDF("vec_id", "qv")
    val truth = AnnKit.exact(corpus, AnnKit.evalQueries(corpus.where(col("vec_id") === 0)))
    assert(truth.as[(Long, Long)].collect().sorted.toSeq == Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    val preds = Seq(("a", 0L, 2L), ("a", 0L, 4L)).toDF("strategy", "qid", "cand_id")
    val out = AnnKit.filtered(preds, truth, "a", "b")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(("a", 0L, 2L, 1L, 3L, 3333L), ("b", 0L, 0L, 0L, 3L, 0L)))
  }

  test("source lint: LlmScale ranks distances into a top-k and counts hits only through AnnKit") {
    val src = Paths.get("src/main/scala/graft/operators/LlmScale.scala")
    val lines = Files.readAllLines(src).asScala.toIndexedSeq
    // (enclosing def, why it ranks distances itself)
    val allowed = Seq(
      ("ivfDeltaAssign",
        "assigns each new vector its nearest persisted cell (rn = 1 over new_id), not a query top-k"),
      ("ivfSplitBuild",
        "picks each split cell's farthest member as its second seed, ordered by distance descending"),
      ("annGraphAdjacencyBuild",
        "builds the graph: each node keeps its 4 nearest by (dist, dst), capped at 8"))
    val defLine = """^\s*(?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r.unanchored
    def enclosing(i: Int): String =
      (i to 0 by -1).iterator.map(lines).collectFirst { case defLine(n) => n }.getOrElse("")
    // a distance followed within four lines by a row_number is a
    // hand-written ranking of it; a hit flag is a hand-written recall join
    val ranked = lines.indices.filter { i =>
      lines(i).contains("squared_distance(") &&
        lines.slice(i + 1, i + 5).exists(_.contains("row_number()"))
    }
    val offenders =
      ranked.filterNot(i => allowed.exists(_._1 == enclosing(i))).map(i => s"LlmScale.scala:${i + 1}") ++
        lines.indices.filter(i => lines(i).contains("withColumn(\"hit\"")).map(i => s"LlmScale.scala:${i + 1}")
    assert(offenders.isEmpty, s"hand-written ANN ranking or hit count outside AnnKit: $offenders")
    val stale = allowed.map(_._1).toSet -- ranked.map(enclosing).toSet
    assert(stale.isEmpty, s"allowlisted defs no longer rank a distance themselves: $stale")
  }
}
