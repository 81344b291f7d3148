package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("Bench's contract line stays one JSON line under 400 characters " +
      "with every catalog query failed") {
    // worst case: 208 failed names, longest first
    val names = SparkEntry.queries.keys.toSeq.sortBy(n => (-n.length, n))
    assert(names.size == 208)
    val line = Bench.contractLine(1234.5678, names.size, names, 0,
      "data/sf0.1", 1.0123456789)
    assert(line.length <= Bench.ContractMaxChars, line)
    assert(!line.contains("\n"))
    assert(line.startsWith("""{"metric":"total","value":1234.5678,"unit":"sec","""))
    assert(line.contains(""""queries":208,"failed":208,"""))
    assert(line.contains(s""""failed_names":["${names.head}""""))
    assert(line.endsWith(""""sf":"data/sf0.1","sentinel_ratio":1.0123456789}"""))
  }

  test("Bench's contract line lists up to 10 failed names and renders " +
      "a non-finite ratio as null") {
    val failed = (1 to 12).map(i => f"q$i%02d")
    val line = Bench.contractLine(1.0, 208, failed, 2, "sf", Double.NaN)
    assert(line.contains(failed.take(10).mkString(""""failed_names":["""",
      """","""", """"],""")), line)
    assert(line.contains(""""skipped":2,"""))
    assert(line.endsWith(""""sentinel_ratio":null}"""))
    assert(Bench.contractLine(1.0, 208, Nil, 0, "sf", 1.0)
      .contains(""""failed":0,"failed_names":[],"""))
  }
}
