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
    assert(sha == "07759c9468f23d726fac86435e5890030722926ab6cccadb82e8723b7c251c60",
      s"oracle SQL changed (${SparkEntry.oracleSql.size} queries); if on purpose, re-pin")
  }

  test("expandOracle expands each macro at a word boundary, through nested parentheses") {
    import Dsl.expandOracle
    def dN(n: Int, x: String) = s"CAST(CAST(ROUND($x, $n) AS DECIMAL(18,$n)) AS DOUBLE)"
    assert(expandOracle("SELECT D2(a) AS x") == s"SELECT ${dN(2, "a")} AS x")
    assert(expandOracle("D4(a / b)") == dN(4, "a / b"))
    assert(expandOracle("D6(f(a, g(b)))") == dN(6, "f(a, g(b))"))
    assert(expandOracle("D4SUM(p * (1 - d))") == dN(4, "SUM(CAST(p * (1 - d) AS DECIMAL(18,6)))"))
    assert(expandOracle("len(WORDS(lower(text)))") ==
      "len(list_filter(string_split(lower(text), ' '), x -> x <> ''))")
    assert(expandOracle("unnest(GRAMS(ws, 5))") ==
      "unnest(list_transform(range(1, len(ws) - 3), i -> array_to_string(ws[i:i+4], ' ')))")
    // macros nest: the outer call's argument is expanded too
    assert(expandOracle("D2(len(WORDS(t)))") ==
      dN(2, "len(list_filter(string_split(t, ' '), x -> x <> ''))"))
    // a name inside a longer identifier is not a macro call
    assert(expandOracle("KEYWORDS(t), XD2(a), SD4SUM(b)") == "KEYWORDS(t), XD2(a), SD4SUM(b)")
    assert(expandOracle("no macro here") == "no macro here")
  }

  test("expandOracle throws on a macro call without its closing parenthesis") {
    for (sql <- Seq("SELECT D4(a", "WORDS(lower(text)", "D4SUM(x + (y)", "GRAMS(ws, 5"))
      assert(intercept[IllegalArgumentException](Dsl.expandOracle(sql)).getMessage.contains("unbalanced"), sql)
  }
}
