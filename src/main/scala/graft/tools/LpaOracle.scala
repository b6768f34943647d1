package graft.tools

/**
 * Driver-side ORACLE for g3_label_propagation at rehearsal scales, the
 * same pattern as [[UnionFindOracle]]: the unrolled 3-round mode-vote SQL
 * that defines g3 is DuckDB-intractable at the sf1 co-purchase graph
 * (measured: three runs OOM-killed at ~130 GB RSS, with `memory_limit`,
 * spill temp directory, and MATERIALIZED CTEs — the per-round
 * join + two-level aggregate over the 24M-row bidirected edge list blows
 * past the limit in the hash join/aggregate build). A driver-side replay
 * is trivial by comparison: pack each (dst, neighborLabel) vote into one
 * long, sort, and scan runs keeping the (count desc, label asc) argmax —
 * O(rounds · m log m) with primitive arrays, ~12M edges in seconds.
 *
 * VERIFICATION TOOLING ONLY — never a query path; the distributed answer
 * is what's under test. Semantics are exactly
 * [[graft.queries.GraphQueries.lpaOf]]: synchronous rounds, label_0 =
 * self, adopt the modal neighbor label, ties to the smallest label.
 *
 * Usage: `runMain graft.tools.LpaOracle <sfDir>` — exits 1 on mismatch.
 */
object LpaOracle {

  /** Synchronous LPA labels after `iters` rounds over a bidirected edge
    * list given as aligned (a, b) arrays of dense int node indices
    * (votes flow a → b). Returns labels as node INDICES (label_0 = self). */
  def labels(a: Array[Int], b: Array[Int], nNodes: Int, iters: Int): Array[Int] = {
    var lbl = Array.tabulate(nNodes)(identity)
    val m = a.length
    val packed = new Array[Long](m)
    for (_ <- 1 to iters) {
      var i = 0
      while (i < m) {
        // (dst, neighbor's current label) in one sortable long: both are
        // dense indices < 2^31, so (dst << 32) | lbl orders by dst then label
        packed(i) = (b(i).toLong << 32) | (lbl(a(i)).toLong & 0xffffffffL)
        i += 1
      }
      java.util.Arrays.sort(packed)
      val next = lbl.clone()
      var j = 0
      while (j < m) {
        val dst = (packed(j) >>> 32).toInt
        var bestLbl = -1
        var bestCnt = 0L
        var k = j
        while (k < m && (packed(k) >>> 32).toInt == dst) {
          val l = (packed(k) & 0xffffffffL).toInt
          var cnt = 0L
          while (k < m && packed(k) == (dst.toLong << 32 | l.toLong)) { cnt += 1; k += 1 }
          // strict > keeps the first (smallest) label on count ties —
          // labels arrive in ascending order within a dst run
          if (cnt > bestCnt) { bestCnt = cnt; bestLbl = l }
        }
        next(dst) = bestLbl
        j = k
      }
      lbl = next
    }
    lbl
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.GraftSession.local()

    // the exact bidirected edge set the gated query runs on
    val e = graft.ccf.CCF.bidirect(
      graft.graph.GraphBuilders.copurchaseEdges(spark, sfDir))
    val ea = new scala.collection.mutable.ArrayBuffer[Long]
    val eb = new scala.collection.mutable.ArrayBuffer[Long]
    val it = e.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      ea += r.getLong(0); eb += r.getLong(1)
    }
    // dense indices in SORTED id order, so index comparisons reproduce the
    // engine's label-VALUE tie order ((count, -label) argmax)
    val ids = (ea ++ eb).distinct.sorted.toArray
    val idx = new scala.collection.mutable.LongMap[Int](ids.length * 2)
    ids.indices.foreach(i => idx(ids(i)) = i)
    val ab = ea.map(idx(_)).toArray
    val bb = eb.map(idx(_)).toArray
    val lbl = labels(ab, bb, ids.length, graft.queries.GraphQueries.LpaIters)
    val expect = new scala.collection.mutable.LongMap[Long](ids.length * 2)
    ids.indices.foreach(i => expect(ids(i)) = ids(lbl(i)))

    var n = 0L
    var good = true
    val out = graft.SparkEntry.queries("g3_label_propagation")(spark, sfDir).toLocalIterator()
    while (out.hasNext && good) {
      val r = out.next(); n += 1
      good = expect.get(r.getLong(0)).contains(r.getLong(1))
    }
    val pass = good && n == ids.length
    println(s"${if (pass) "PASS" else "FAIL"} g3_label_propagation ($n rows, ${ids.length} nodes)")
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
