package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Driver-side union-find ORACLE for the CCF component queries, closing the
 * one gap in the scale-rehearsal gate: the recursive-CTE reachability SQL
 * that defines `ccf_components` & co. is DuckDB-intractable past ~1M edges
 * (BENCH_NOTES — the 5 CCF keys were excluded at sf0.1/sf1 and
 * cross-validated only by the three Spark engines agreeing). Path-compressed
 * union-by-size replays connectivity in O(m α(n)) driver time — ~12M edges
 * verify in seconds, where the SQL oracle needs hours.
 *
 * This is VERIFICATION TOOLING in the spirit of [[graft.Verify]]: it streams
 * the edge list to the driver once (`toLocalIterator`, primitive arrays —
 * ~2M nodes ≈ tens of MB of driver state) and must never appear in a query
 * path; the distributed answer is what's under test.
 *
 * Semantics match the reference CCF contract (component label = min member
 * — numeric order for long ids, lexicographic for strings; the
 * representative emits no self-row), cf. reference CCF paper fig. 2
 * (ccf-iterate) — the fixpoint's converged labeling IS min-member.
 */
object UnionFindOracle {

  /** Growable union-find over dense int indices (path compression +
    * union by size). */
  private final class DSU {
    private var parent = new Array[Int](1 << 16)
    private var size = new Array[Int](1 << 16)
    private var n = 0
    def fresh(): Int = {
      if (n == parent.length) {
        parent = java.util.Arrays.copyOf(parent, parent.length << 1)
        size = java.util.Arrays.copyOf(size, size.length << 1)
      }
      parent(n) = n; size(n) = 1; n += 1; n - 1
    }
    def find(x0: Int): Int = {
      var r = x0
      while (parent(r) != r) r = parent(r)
      var x = x0
      while (parent(x) != r) { val nx = parent(x); parent(x) = r; x = nx }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (size(ra) < size(rb)) { parent(ra) = rb; size(rb) += size(ra) }
        else { parent(rb) = ra; size(ra) += size(rb) }
      }
    }
  }

  /** (nodes, labels) aligned arrays: labels(i) = min member of nodes(i)'s
    * component, numeric order. */
  def labelsLong(edges: Iterator[(Long, Long)]): (Array[Long], Array[Long]) = {
    val idx = new scala.collection.mutable.LongMap[Int](1 << 16)
    val nodes = new scala.collection.mutable.ArrayBuffer[Long]
    val dsu = new DSU
    def of(v: Long): Int =
      idx.getOrElse(v, { val i = dsu.fresh(); idx(v) = i; nodes += v; i })
    for ((a, b) <- edges) dsu.union(of(a), of(b))
    val n = nodes.length
    val minOfRoot = Array.fill(n)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val r = dsu.find(i)
      if (nodes(i) < minOfRoot(r)) minOfRoot(r) = nodes(i)
      i += 1
    }
    val labels = new Array[Long](n)
    i = 0
    while (i < n) { labels(i) = minOfRoot(dsu.find(i)); i += 1 }
    (nodes.toArray, labels)
  }

  /** String-keyed twin (lexicographic min member — CCF's string semantics).
    * Strings compare by their UTF-8 bytes, as Spark's `min` and `<` do
    * (`UTF8String` order, which is code point order); Java's `<` compares
    * UTF-16 units and puts a supplementary-plane character below U+E000. */
  def labelsString(edges: Iterator[(String, String)]): (Array[String], Array[String]) = {
    val idx = new scala.collection.mutable.AnyRefMap[String, Int](1 << 16)
    val nodes = new scala.collection.mutable.ArrayBuffer[String]
    val dsu = new DSU
    def of(v: String): Int =
      idx.getOrElse(v, { val i = dsu.fresh(); idx(v) = i; nodes += v; i })
    for ((a, b) <- edges) dsu.union(of(a), of(b))
    val n = nodes.length
    val minOfRoot = new Array[String](n)
    var i = 0
    while (i < n) {
      val r = dsu.find(i)
      if (minOfRoot(r) == null || UTF8String.fromString(nodes(i))
          .compareTo(UTF8String.fromString(minOfRoot(r))) < 0) minOfRoot(r) = nodes(i)
      i += 1
    }
    val labels = new Array[String](n)
    i = 0
    while (i < n) { labels(i) = minOfRoot(dsu.find(i)); i += 1 }
    (nodes.toArray, labels)
  }

  /** Stream a 2-column frame to the driver as typed pairs. */
  private def pairs[T](df: DataFrame)(get: org.apache.spark.sql.Row => T): Iterator[T] = {
    val it = df.toLocalIterator()
    new Iterator[T] {
      def hasNext = it.hasNext
      def next() = get(it.next())
    }
  }

  /** The gated assignment contract as a DataFrame — (node, component), no
    * representative self-row — for spec-scale set comparison. Node type
    * (long/string) follows the edge columns. */
  def assignments(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.schema.head.dataType match {
      case LongType =>
        val (nodes, labels) = labelsLong(pairs(edges)(r => (r.getLong(0), r.getLong(1))))
        nodes.indices.collect {
          case i if nodes(i) != labels(i) => (nodes(i), labels(i))
        }.toSeq.toDF("node", "component")
      case StringType =>
        val (nodes, labels) = labelsString(pairs(edges)(r => (r.getString(0), r.getString(1))))
        nodes.indices.collect {
          case i if nodes(i) != labels(i) => (nodes(i), labels(i))
        }.toSeq.toDF("node", "component")
      case t => throw new IllegalArgumentException(s"unsupported node type $t")
    }
  }

  /** Standalone rehearsal gate for the 5 recursive-reachability CCF keys:
    * `UnionFindOracle <sfDir>` streams the gated Spark results and checks
    * them row-by-row against the union-find labeling — the sf0.1/sf1
    * replacement for the DuckDB compare those keys must skip. Exits 1 on
    * any mismatch. */
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.GraftSession.local()

    // the exact edge set the gated queries run on, then the oracle labeling
    val e = graft.graph.GraphBuilders.copurchaseEdges(spark, sfDir)
    val (nodes, labels) = labelsLong(pairs(e)(r => (r.getLong(0), r.getLong(1))))
    val expect = new scala.collection.mutable.LongMap[Long](nodes.length * 2)
    var nonRep = 0L
    nodes.indices.foreach { i =>
      expect(nodes(i)) = labels(i)
      if (nodes(i) != labels(i)) nonRep += 1
    }
    val nComponents = nodes.length - nonRep

    var failed = false
    def check(name: String)(ok: => Boolean): Unit = {
      val pass = try ok catch {
        case ex: Throwable => System.err.println(s"[uf] $name threw: $ex"); false
      }
      println(s"${if (pass) "PASS" else "FAIL"} $name")
      if (!pass) failed = true
    }

    def checkAssignments(name: String): Unit = check(name) {
      var n = 0L
      var good = true
      val it = graft.SparkEntry.queries(name)(spark, sfDir).toLocalIterator()
      while (it.hasNext && good) {
        val r = it.next(); n += 1
        good = expect.get(r.getLong(0)).contains(r.getLong(1)) &&
          r.getLong(0) != r.getLong(1)
      }
      good && n == nonRep
    }

    checkAssignments("ccf_components")
    checkAssignments("ccf_components_secondary_sort")
    checkAssignments("ccf_components_pj")
    check("ccf_component_count") {
      graft.SparkEntry.queries("ccf_component_count")(spark, sfDir)
        .head().getLong(0) == nComponents
    }
    check("ccf_membership") {
      // expected member CSV per component, representative re-added
      val members = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[Long]]()
      nodes.indices.foreach { i =>
        members.getOrElseUpdate(labels(i), new scala.collection.mutable.ArrayBuffer[Long]) += nodes(i)
      }
      var n = 0L
      var good = true
      val it = graft.SparkEntry.queries("ccf_membership")(spark, sfDir).toLocalIterator()
      while (it.hasNext && good) {
        val r = it.next(); n += 1
        val exp = members.get(r.getLong(0)).map(_.sorted.mkString(","))
        good = exp.contains(r.getString(1))
      }
      good && n == members.size
    }

    spark.stop()
    if (failed) sys.exit(1)
  }
}
