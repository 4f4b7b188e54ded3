package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Every oracle string is pinned by its SHA-256 in `oracle_sql.sha256`
  * (one `<digest>  <query>` line per query, sorted by query), so a change
  * to an operator or to a shared oracle fragment cannot move an oracle
  * unnoticed. A deliberate oracle change re-records the file for the
  * current strings:
  * `sbt "Test/runMain graft.OracleDigestSpec src/test/resources/oracle_sql.sha256"`. */
class OracleDigestSpec extends AnyFunSuite {
  test("oracle SQL: every SparkEntry.oracleSql string matches its pinned SHA-256") {
    val src = scala.io.Source.fromResource("oracle_sql.sha256")
    val pinned =
      try src.getLines().map(_.split("  ", 2)).map(a => a(1) -> a(0)).toMap
      finally src.close()
    val now = OracleDigestSpec.digests
    val moved = (pinned.keySet ++ now.keySet).toSeq.sorted
      .filter(q => pinned.get(q) != now.get(q))
    assert(moved.isEmpty, s"oracle strings moved: ${moved.mkString(", ")}")
  }
}

object OracleDigestSpec {
  def digests: Map[String, String] = SparkEntry.oracleSql.map { case (q, sql) =>
    q -> MessageDigest.getInstance("SHA-256").digest(sql.getBytes(UTF_8))
      .map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      digests.toSeq.sorted.map { case (q, h) => s"$h  $q\n" }.mkString)
}
