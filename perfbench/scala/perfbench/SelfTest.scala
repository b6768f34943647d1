package perfbench

import graft.ccf.CCF
import org.apache.spark.sql.SparkSession

/** Shows that the checks can fail: a relabelled CCF assignment, a missing
  * assignment row and a wrong row count are rejected, the true answers are
  * accepted, and every metric name is well-formed. Prints the emitted metric
  * names for run.py to compare with BENCHMARK.json; exits 1 on a failure. */
object SelfTest {
  val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"

  def main(args: Array[String]): Unit = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(what: String, ok: Boolean): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += what
    }

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      val edges = Workloads.CcfMatrix.clusterGraph(5, 20, 4, 42L)
      val want = Checks.oracleString(edges.iterator)
      val r = CCF.run(edges.toDF("src", "dst"))
      val got = r.assignments.collect().map(row => (row.get(0): Any, row.get(1): Any)).toSeq
      val comps = CCF.componentCount(r.assignments)
      expect("CCF answer accepted", Checks.assignment(want, got.iterator, comps).isEmpty)
      // same partition, each component labelled by its largest member
      val maxOf = got.groupBy(_._2).map { case (c, ms) => c -> (ms.map(_._1) :+ c).map(_.toString).max }
      val relabelled = got.map { case (n, c) => (n, maxOf(c): Any) }
      expect("relabelled CCF assignment rejected",
        Checks.assignment(want, relabelled.iterator, comps).nonEmpty)
      expect("CCF assignment with a missing row rejected",
        Checks.assignment(want, got.tail.iterator, comps).nonEmpty)
      expect("wrong component count rejected",
        Checks.assignment(want, got.iterator, comps + 1).nonEmpty)
    } finally spark.stop()

    val expected = Workloads.Suite.expected
    expect("every suite key has an expected row count", Workloads.Suite.Keys.forall(expected.contains))
    val key = Workloads.Suite.Keys.head
    expect("true row count accepted", Checks.rows(key, expected(key), expected).isEmpty)
    expect("wrong row count rejected", Checks.rows(key, expected(key) + 1, expected).nonEmpty)

    val e2e = Main.endToEnd.map(_._1)
    val layers = Main.perLayer.map(_._1)
    val names = e2e ++ layers ++ Main.artifactLayer.map(_._1)
    val bad = names.filterNot(_.matches(NameRe))
    expect(s"metric names match $NameRe ${bad.mkString(" ")}", bad.isEmpty)
    expect("metric names are unique", names.distinct.size == names.size)

    println(Main.ResultTag + Json.obj(
      "ok" -> failures.isEmpty.toString,
      "end_to_end" -> Json.arr(e2e.map(Json.str)),
      "per_layer" -> Json.arr(layers.map(Json.str))))
    if (failures.nonEmpty) sys.exit(1)
  }
}
