package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** README's registry figures are checked, not hand-maintained: adding a
  * query or an oracle without updating README fails here. */
class ReadmeCountsSpec extends AnyFunSuite {

  private lazy val readme = Files.readString(Paths.get("README.md"))

  private def stated(pattern: String): Int =
    pattern.r.findFirstMatchIn(readme).map(_.group(1).toInt)
      .getOrElse(fail(s"README does not state /$pattern/"))

  test("README states the number of registered queries") {
    assert(stated("""(\d+) queries \(`SparkEntry\.queries`\)""") == SparkEntry.queries.size)
  }

  test("README states the number of oracle-checked queries") {
    assert(stated("""(\d+) carrying\s+equivalent DuckDB SQL \(`SparkEntry\.oracleSql`\)""") ==
      SparkEntry.oracleSql.size)
  }
}
