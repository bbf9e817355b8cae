package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the registry surface of [[SparkEntry]] against silent key
  * shadowing: a Scala `Map("k" -> a, ..., "k" -> b)` literal keeps only
  * the LAST binding, so a duplicated query name drops an operator from
  * the suite with no warning anywhere (round 8 shipped with `"d_zipf"`
  * bound twice, which silently removed `zipfSlope` and its oracle).
  * Both registries are built through [[SparkEntry.unique]], which
  * rejects a repeated key at construction; forcing them here fails the
  * suite on any duplicate.
  */
class EntryIntegritySpec extends AnyFunSuite {

  test("queries / oracleSql source literals contain no shadowed (duplicate) keys") {
    assert(SparkEntry.queries.nonEmpty)
    assert(SparkEntry.oracleSql.nonEmpty)
  }

  test("unique rejects a repeated key and names every duplicate") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.unique("a" -> 1, "b" -> 2, "a" -> 3, "c" -> 4, "b" -> 5))
    assert(e.getMessage.contains("a, b"))
    assert(SparkEntry.unique("a" -> 1, "b" -> 2) === Map("a" -> 1, "b" -> 2))
  }

  test("every oracle key names a declared query") {
    val orphans = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(orphans.isEmpty, s"oracleSql keys without a query: ${orphans.toSeq.sorted}")
  }
}
