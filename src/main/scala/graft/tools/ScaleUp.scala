package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic scale-rehearsal data generator: tiles an existing testdata
 * directory N× into a larger one (e.g. sf0.1 → sf1) while preserving the
 * workload's STRUCTURE, so per-family bench scaling factors are meaningful
 * (VERDICT r07 #7 — ground the 100 TB design claims with one measured
 * decade of scaling instead of extrapolating from sf0.1).
 *
 * Tiling rules (copy 0 is the original data, bit-for-bit):
 *  - Relational keys get a per-copy offset of `i × (max(key)+1)`, applied
 *    consistently across FK edges (custkey in customer+orders+events,
 *    orderkey/partkey/suppkey in orders+lineitem+part+supplier), so each
 *    copy is a self-contained star with the original join fan-outs and the
 *    co-purchase graph becomes N disjoint copies of the original graph —
 *    component structure preserved, N× the nodes/edges.
 *  - `nation`/`region` are shared dimensions — copied once, unchanged
 *    (exactly how a real 100 TB lake scales: facts grow, dims don't).
 *  - `documents.text` gets a per-copy SUFFIX ON EVERY TOKEN (`tok` → `tokI`),
 *    so within a copy the shingle/df distribution is IDENTICAL to the
 *    original (planted near-dups, hot shingles, posting sizes all preserved)
 *    while shingle sets across copies are DISJOINT — near-dup pair counts
 *    scale ×N, not ×N² as naive row duplication would.
 *  - `embeddings.embedding` gets a per-copy cyclic ROTATION (shift by i·7
 *    positions): a permutation is orthogonal, so every intra-copy cosine is
 *    exactly preserved (planted ANN neighborhoods intact) while cross-copy
 *    cosines are the near-zero dot products of unrelated random vectors.
 *  - `events.ts` is left in place: N× events over the same horizon models a
 *    busier site — windowed-agg groups stay fixed in number and grow in
 *    size, which is the interesting scaling direction for e1/e8.
 *
 * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <copies> [tables]
 * `tables` (optional, comma-separated) regenerates only those tables —
 * id strides derive from the SOURCE, so a partial rerun reproduces the
 * exact rows a full run would have written.
 */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleUp <srcDir> <dstDir> <copies> [tables]")
    val (src, dst, n) = (args(0), args(1), args(2).toInt)
    val tables: Option[Set[String]] =
      if (args.length == 4) Some(args(3).split(",").toSet) else None
    require(n >= 1, s"copies must be >= 1, got $n")
    val spark = graft.GraftSession.local()
    run(spark, src, dst, n, tables)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, n: Int,
          tables: Option[Set[String]] = None): Unit = {
    def want(t: String) = tables.forall(_.contains(t))
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: => DataFrame, t: String, parts: Int): Unit = if (want(t))
      df.repartition(parts).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // key strides: max+1 keeps every copy's id range disjoint
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    val (cust, supp, part, ord, li, ev, doc, emb) =
      (rd("customer"), rd("supplier"), rd("part"), rd("orders"),
        rd("lineitem"), rd("events"), rd("documents"), rd("embeddings"))
    val (cS, sS, pS, oS) = (stride(cust, "c_custkey"), stride(supp, "s_suppkey"),
      stride(part, "p_partkey"), stride(ord, "o_orderkey"))
    val eS = stride(ev, "event_id")
    val dS = stride(doc, "doc_id")
    val vS = stride(emb, "vec_id")

    def tile(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(i => f(df, i)).reduce(_ unionByName _)

    def off(c: String, s: Long, i: Int) = (col(c) + lit(s * i)).as(c)

    // shared dims: copied once, unchanged
    if (want("region"))
      rd("region").write.mode("overwrite").parquet(s"$dst/region.parquet")
    if (want("nation"))
      rd("nation").write.mode("overwrite").parquet(s"$dst/nation.parquet")

    wr(tile(cust)((d, i) => d.select(off("c_custkey", cS, i), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))), "customer", 4)
    wr(tile(supp)((d, i) => d.select(off("s_suppkey", sS, i), col("s_name"),
      col("s_nationkey"), col("s_acctbal"))), "supplier", 1)
    wr(tile(part)((d, i) => d.select(off("p_partkey", pS, i), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))), "part", 2)
    wr(tile(ord)((d, i) => d.select(off("o_orderkey", oS, i), off("o_custkey", cS, i),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))), "orders", 8)
    wr(tile(li)((d, i) => d.select(off("l_orderkey", oS, i), off("l_partkey", pS, i),
      off("l_suppkey", sS, i), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))), "lineitem", 16)
    // normalize ts to a REAL µs timestamp whatever flavor the driver data
    // carries (BIGINT nanos via nanosAsLong, naive µs read as ntz, or ltz —
    // Tables.normalizeEventTs handles all three) so every reader of the
    // rehearsal data — Spark AND the DuckDB oracle — sees the same
    // timestamp type the original table presents (a raw int64 column would
    // break every oracle that does timestamp arithmetic on ts)
    wr(tile(graft.sources.Tables.normalizeEventTs(ev))((d, i) =>
      d.select(off("event_id", eS, i), col("ts"),
        off("user_id", cS, i), col("event_type"), col("value"), col("props"))),
      "events", 8)
    wr(tile(doc)((d, i) =>
      if (i == 0) d
      else {
        // "_" separator keeps suffixed tokens disjoint across copies: a bare
        // digit suffix would let copy 0's "tok11" collide with copy 1's
        // "tok1"→"tok11", inflating cross-copy shingle overlap past the
        // documented exact ×N near-dup scaling
        val t = regexp_replace(col("text"), "(\\S+)", "$1_" + i.toString)
        d.select(off("doc_id", dS, i), t.as("text"), col("lang"), col("source"),
          length(t).cast("long").as("n_chars"))
      }), "documents", 8)
    wr(tile(emb)((d, i) =>
      if (i == 0) d
      else {
        val dim = size(col("embedding"))
        val shift = lit(i * 7) % dim
        d.select(off("vec_id", vS, i),
          concat(slice(col("embedding"), shift + 1, dim - shift),
            slice(col("embedding"), lit(1), shift)).as("embedding"),
          col("label"))
      }), "embeddings", 4)
  }
}
