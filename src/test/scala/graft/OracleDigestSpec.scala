package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.io.Source

/** Pins every declared query's DuckDB oracle text. The oracles define
  * "same behaviour" for the engine, so a refactor of how their SQL is
  * generated must leave each text unchanged up to whitespace: this spec
  * compares the sha256 of the whitespace-collapsed `oracle` and
  * `oracleSwapped` of every query in [[SparkEntry.all]] with
  * `oracle_sql_digests.tsv` (name, oracle digest, swapped digest or
  * `-`). An intended oracle edit updates that table in the same change;
  * a failure prints the row the current text would need.
  */
class OracleDigestSpec extends AnyFunSuite {

  private def digest(sql: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(sql.trim.replaceAll("\\s+", " ").getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  private def row(q: queries.QDef): String =
    Seq(q.name, q.oracle.fold("-")(digest), q.oracleSwapped.fold("-")(digest))
      .mkString("\t")

  private val pinned: Map[String, String] = {
    val src = Source.fromResource("oracle_sql_digests.tsv", getClass.getClassLoader)
    try src.getLines().filter(_.nonEmpty)
      .map(l => l.takeWhile(_ != '\t') -> l).toMap
    finally src.close()
  }

  test("all 211 declared queries carry an oracle") {
    assert(SparkEntry.all.size == 211)
    assert(SparkEntry.all.map(_.name).distinct.size == 211)
    assert(SparkEntry.all.filter(_.oracle.isEmpty).map(_.name) == Nil)
  }

  test("every oracle and swapped oracle matches its pinned digest") {
    val changed = SparkEntry.all.map(row).filterNot(r =>
      pinned.get(r.takeWhile(_ != '\t')).contains(r))
    assert(changed.isEmpty, changed.mkString("\n", "\n", ""))
    assert(pinned.keySet == SparkEntry.all.map(_.name).toSet)
  }
}
