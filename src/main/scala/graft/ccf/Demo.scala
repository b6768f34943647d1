package graft.ccf

/**
 * Runnable worked example — the CCF paper's Figure 5 graph, matching the
 * reference's example driver (`CCFConnectedComponents.scala:234-299`,
 * `ccf_connected_components.py:227-258`): both kernel variants over
 *
 *   A--B, B--D, D--E, A--C, A--E, F--G, F--H
 *
 * expected components {A,B,C,D,E} -> A and {F,G,H} -> F.
 *
 * Run with: sbt "runMain graft.ccf.Demo"
 */
object Demo {

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()

    val edges = Generators.toDF(spark, Seq(
      "A" -> "B", "B" -> "D", "D" -> "E", "A" -> "C", "A" -> "E",
      "F" -> "G", "F" -> "H"))

    for ((variant, fig) <- Seq(CCF.Basic -> "Figure 2", CCF.SecondarySort -> "Figure 3")) {
      println("=" * 60)
      println(s"CCF Connected Components - $variant ($fig)")
      println("=" * 60)
      val r = CCF.run(edges, variant)
      println(s"converged in ${r.iterations} iterations " +
        s"(newPairs per round: ${r.newPairsHistory.mkString(", ")})")
      println("\nNode -> Component ID mapping:")
      r.assignments.orderBy("node").collect()
        .foreach(row => println(s"  ${row.getString(0)} -> ${row.getString(1)}"))
      println()
    }

    println("=" * 60)
    println("Connected Components Summary")
    println("=" * 60)
    val membership = CCF.membership(CCF.run(edges).assignments)
    membership.orderBy("component").collect().foreach { row =>
      println(s"  Component ${row.getString(0)}: ${row.getSeq[String](1).mkString(", ")}")
    }

    spark.stop()
  }
}
