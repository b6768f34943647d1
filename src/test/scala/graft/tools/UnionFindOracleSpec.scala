package graft.tools

import graft.SparkSpec
import graft.ccf.{CCF, Generators}

/** The union-find oracle must agree with the distributed engines at spec
  * scale — that agreement is what licenses using it as the rehearsal gate
  * for the 5 recursive-reachability CCF keys at sf0.1/sf1, where the
  * DuckDB SQL oracle is intractable. */
class UnionFindOracleSpec extends SparkSpec {

  test("oracle == gated ccf_components on the co-purchase graph (long ids)") {
    val e = graft.graph.GraphBuilders.copurchaseEdges(spark, sf())
    val oracle = UnionFindOracle.assignments(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ccf = CCF.run(e).assignments
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oracle === ccf)
    assert(oracle.nonEmpty)
    // contract: no representative self-rows in either
    assert(oracle.forall { case (n, c) => n != c })
  }

  test("oracle == CCF on the string chain (lexicographic min semantics)") {
    val chain = Generators.chainDF(spark, 500)
    val oracle = UnionFindOracle.assignments(chain)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val ccf = CCF.run(chain, CCF.SecondarySort).assignments
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(oracle === ccf)
  }

  test("oracle orders strings by UTF-8 bytes, as Spark does") {
    // UTF-8 (code point) order: U+E000 < U+FFFD < U+1F600; Java's UTF-16
    // compareTo would pick the surrogate pair of U+1F600 as the minimum
    val edges = Seq("\uFFFD" -> "\uD83D\uDE00", "\uD83D\uDE00" -> "\uE000x")
    val (nodes, labels) = UnionFindOracle.labelsString(edges.iterator)
    assert(nodes.length === 3)
    assert(labels.toSet === Set("\uE000x"))
    val df = Generators.toDF(spark, edges)
    val oracle = UnionFindOracle.assignments(df)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val ccf = CCF.run(df).assignments.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(oracle === ccf)
  }

  test("oracle == CCF on seeded random multi-component graphs") {
    for (seed <- Seq(3, 17)) {
      val edges = Generators.randomGraph(200, 300, seed)
      val df = Generators.toDF(spark, edges)
      val oracle = UnionFindOracle.assignments(df)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val ccf = CCF.run(df).assignments
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(oracle === ccf, s"seed=$seed")
    }
  }
}
