package graft

import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  test("PROV-JSON: synthesized docs parse into typed edges") {
    import graft.sources.ProvJsonReader
    val docs = ProvJsonReader.synthesize(spark, 2)
    val edges = ProvJsonReader.typedEdges(spark, docs, "prov")
    val rows = edges.as[(String, Long, Long, Int, Int, Int)].collect()
    assert(rows.nonEmpty)
    // 2 docs × (3 used + 2 wasGeneratedBy + 2 wasInformedBy + 1 wasDerived)
    assert(rows.length == 16)
    // vertex types come from the declared vocab; edge types likewise
    assert(rows.forall(r => r._4 >= 0 && r._4 <= 26 && r._5 >= 0 && r._5 <= 26))
    assert(rows.forall(r => r._6 >= 0 && r._6 <= 38))
    // shared_act is one vertex across lines: the informed target of f*_0 in
    // both docs maps to the same id
    val informedTargets = rows.filter(_._6 == 8).map(_._3).toSet // clone edges
    assert(informedTargets.size < 4) // 4 clone edges, <4 distinct dsts
  }
}
