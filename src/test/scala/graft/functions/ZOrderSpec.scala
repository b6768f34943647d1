package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Morton interleave: known bit patterns, curve locality, and
  * codegen/interpreted agreement through the SQL-registered
  * `graft_interleave_bits`. */
class ZOrderSpec extends SparkSpec {

  test("known bit patterns") {
    assert(ZOrder.interleave(1L, 0L) === 1L)              // a -> even bits
    assert(ZOrder.interleave(0L, 1L) === 2L)              // b -> odd bits
    assert(ZOrder.interleave(3L, 3L) === 15L)             // 0b11,0b11 -> 0b1111
    assert(ZOrder.spread(0xFFFFFFFFL) === 0x5555555555555555L)
    assert(ZOrder.interleave(0xFFFFFFFFL, 0xFFFFFFFFL) === -1L) // all 64 bits
  }

  test("curve locality: a 2^k-aligned tile is one contiguous z-range") {
    // every 2x2-aligned block occupies exactly 4 consecutive codes
    for (bx <- 0 until 8; by <- 0 until 8) {
      val codes = for (dx <- 0 to 1; dy <- 0 to 1)
        yield ZOrder.interleave(bx * 2L + dx, by * 2L + dy)
      val s = codes.sorted
      assert(s.last - s.head === 3L, s"block ($bx,$by): $s")
    }
  }

  test("codegen agrees with interpreted eval") {
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    val df = (0L until 1000L).map(i => (i * 2654435761L & 0xFFFFFFFFL,
      i * 40503L & 0xFFFFFFFFL)).toDF("a", "b")
    val viaDf = df.select(expr("graft_interleave_bits(a, b)"))
      .collect().map(_.getLong(0))
    val direct = df.collect().map(r => ZOrder.interleave(r.getLong(0), r.getLong(1)))
    assert(viaDf.toSeq === direct.toSeq)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = df.select(expr("graft_interleave_bits(a, b)"))
        .collect().map(_.getLong(0))
      assert(interp.toSeq === direct.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("null in either input yields null") {
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    val df = Seq((Some(1L), None: Option[Long]), (None: Option[Long], Some(2L)),
      (Some(1L), Some(1L))).toDF("a", "b")
    val out = df.select(expr("graft_interleave_bits(a, b)")).collect()
    assert(out.count(_.isNullAt(0)) === 2)
    assert(out.exists(r => !r.isNullAt(0) && r.getLong(0) === 3L))
  }
}
