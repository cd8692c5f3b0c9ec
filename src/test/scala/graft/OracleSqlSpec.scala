package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins every declared query's expanded oracle SQL
  * ([[SparkEntry.oracleSql]]): a refactor of the operator packs or of
  * [[Dsl.expandOracle]] must leave the names and the SQL the DuckDB
  * side runs byte-identical. Needs no Spark session. */
class OracleSqlSpec extends AnyFunSuite {

  /** The map as one JSON object, keys sorted, values as JSON strings. */
  private def sortedJson: String = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) =>
    "\"" + k + "\": " + org.json4s.jackson.JsonMethods.compact(org.json4s.JString(v))
  }.mkString("{", ", ", "}")

  test("expanded oracle SQL matches the pinned SHA-256") {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sortedJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(sha == "0cede6b58d9e73ef734827782fb9551b0704e6f5e67c43730847dc75f1fc4d36",
      s"oracle SQL changed (${SparkEntry.oracleSql.size} queries); if on purpose, re-pin")
  }
}
