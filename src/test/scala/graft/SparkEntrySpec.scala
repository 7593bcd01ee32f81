package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() rows>0 at sf0.001; every query has a
  * runnable function; every oracle key exists in queries.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("oracle keys are a subset of query names; no null functions") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    assert(qs.nonEmpty && qs.values.forall(_ != null))
    assert(qs.size >= 49)
  }

  test("every warm-table reader is a registry entry") {
    val names = SparkEntry.queries.keySet
    for ((store, readers, _) <- SparkEntry.warmTable) {
      assert(readers.nonEmpty, s"$store store has no reader")
      assert(readers.subsetOf(names), s"$store store readers not in the registry: ${readers -- names}")
    }
  }

  test("every query runs and returns rows at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { if (fn(TestSpark.spark, "/root/testdata/sf0.001").count() >= 0) None else Some(name) }
      catch { case e: Exception => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }
}
