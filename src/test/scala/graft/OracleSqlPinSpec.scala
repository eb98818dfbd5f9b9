package graft

import org.scalatest.funsuite.AnyFunSuite

/** Byte-identity pin for the oracle contract: every declared oracle SQL
  * string hashes to the sha256 recorded in
  * `src/test/resources/oracle_sql_sha256.tsv` (`name<TAB>sha256`, one
  * line per oracle key). A refactor behind the declared names may move
  * and share SQL builders freely; it may not change a single emitted
  * byte. Regenerate the golden file only together with a deliberate,
  * recorded change to an oracle statement.
  */
class OracleSqlPinSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private lazy val golden: Map[String, String] = {
    val src = scala.io.Source.fromResource("oracle_sql_sha256.tsv", getClass.getClassLoader)
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(k, h) = l.split('\t')
      k -> h
    }.toMap
    finally src.close()
  }

  test("oracle SQL key set matches the golden file") {
    val keys = SparkEntry.oracleSql.keySet
    assert((keys -- golden.keySet).isEmpty,
      s"oracle keys missing from the golden file: ${(keys -- golden.keySet).toSeq.sorted}")
    assert((golden.keySet -- keys).isEmpty,
      s"golden keys with no oracle SQL: ${(golden.keySet -- keys).toSeq.sorted}")
  }

  test("every oracle SQL string is byte-identical to the golden hash") {
    val changed = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (k, sql) if golden.get(k).exists(_ != sha256(sql)) => k
    }
    assert(changed.isEmpty, s"oracle SQL changed for: ${changed.mkString(", ")}")
  }
}
