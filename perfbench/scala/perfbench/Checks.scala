package perfbench

import graft.tools.UnionFindOracle

/** Output checks. They run after an operation's timer has stopped; a check
  * that fails marks the operation failed. */
object Checks {

  /** The expected CCF answer for one edge list: the label (minimum member)
    * of every node that is not its component's representative, and the
    * number of components. Built with the library's union-find oracle. */
  final case class Oracle(labels: collection.Map[Any, Any], components: Long)

  def oracleString(edges: Iterator[(String, String)]): Oracle = {
    val (nodes, labels) = UnionFindOracle.labelsString(edges)
    oracle(nodes.toSeq, labels.toSeq)
  }

  private def oracle(nodes: Seq[Any], labels: Seq[Any]): Oracle = {
    val m = new java.util.HashMap[Any, Any](nodes.size * 2)
    nodes.indices.foreach(i => if (nodes(i) != labels(i)) m.put(nodes(i), labels(i)))
    Oracle(scala.jdk.CollectionConverters.MapHasAsScala(m).asScala, labels.distinct.size.toLong)
  }

  /** None when `assigned` (node, component) rows and `components` equal the
    * oracle's answer exactly; otherwise what differs. */
  def assignment(want: Oracle, assigned: Iterator[(Any, Any)], components: Long): Option[String] = {
    if (components != want.components)
      return Some(s"components $components, expected ${want.components}")
    var n = 0L
    for ((node, comp) <- assigned) {
      n += 1
      want.labels.get(node) match {
        case Some(c) if c == comp => ()
        case Some(c) => return Some(s"node $node labelled $comp, expected $c")
        case None => return Some(s"node $node labelled $comp, expected no row (representative or unknown)")
      }
    }
    if (n != want.labels.size) Some(s"${want.labels.size - n} assignment rows missing")
    else None
  }

  /** None when a query's row count matches the expected table. */
  def rows(key: String, got: Long, expected: Map[String, Long]): Option[String] =
    expected.get(key) match {
      case Some(n) if n == got => None
      case Some(n) => Some(s"$key returned $got rows, expected $n")
      case None => Some(s"$key returned $got rows; no expected row count")
    }
}
