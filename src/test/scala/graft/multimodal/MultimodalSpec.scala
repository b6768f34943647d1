package graft.multimodal

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private lazy val media = Multimodal.mediaFromDocuments(Tables.documents(spark, sf()))

  test("media table: schema, kinds, payload round-trip") {
    val rows = media.limit(10).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(m => Set("image", "audio", "video")(m.kind)))
    // payload is the UTF-8 text — deterministic, non-empty
    assert(rows.forall(_.payload.nonEmpty))
    val doc0 = Tables.documents(spark, sf()).where(col("doc_id") === 0)
      .select("text").collect().head.getString(0)
    val m0 = media.filter(_.media_id == 0).collect().head
    assert(new String(m0.payload, "UTF-8") === doc0)
  }

  test("feature extraction: histogram sums to byte count; deterministic") {
    val f = Multimodal.extractFeatures(media).collect()
    assert(f.length === media.count())
    assert(f.forall(x => x.histogram16.sum === x.n_bytes))
    assert(f.forall(x => x.byte_mean > 0))
    val again = Multimodal.extractFeatures(media).collect()
    assert(f.map(_.byte_mean).sorted === again.map(_.byte_mean).sorted)
  }

  test("frame sampling: offsets follow stride; frames have exact length") {
    val frames = Multimodal.sampleFrames(media, stride = 32, frameLen = 16).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_bytes.length === 16))
    assert(frames.forall(f => f.offset_bytes === f.frame_idx * 32L))
  }

  test("resize bounds payload length") {
    val resized = Multimodal.resizeAll(media, target = 64).collect()
    assert(resized.forall(_.payload.length <= 64))
    // deterministic sampling: same input -> same bytes
    val twice = Multimodal.resizeAll(media, target = 64).collect()
    assert(resized.sortBy(_.media_id).zip(twice.sortBy(_.media_id))
      .forall { case (a, b) => java.util.Arrays.equals(a.payload, b.payload) })
  }


  test("m7 media ANN: rank contract, exact-dup media at rank 1, bucket recall bound") {
    val got = graft.queries.MultimodalQueries.defs("m7_media_ann")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // per query: ranks are 1..k contiguous, cosines non-increasing, ties id-asc
    for ((qid, rows) <- got.groupBy(_._1)) {
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to rows.length).toSeq, s"query $qid")
      for (Array(a, b) <- sorted.sliding(2).map(_.toArray) if rows.length > 1)
        assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3), s"query $qid order")
    }
    // exact-dup recall floor, on a PLANTED corpus (sf0.001 carries no
    // exact dups — an earlier corpus-derived version of this assertion was
    // vacuously true): identical payloads have identical histograms, hence
    // the same bucket ALWAYS and cosine ~1.0 (within an ulp of sqrt), so
    // the dup must surface at rank 1. ids 1 and 4 are congruent mod 3
    // (same kind); the fillers share the pair's kind but not its content.
    import spark.implicits._
    val planted = Seq(
      (1L, "alpha beta gamma delta"), (4L, "alpha beta gamma delta"),
      (7L, "epsilon zeta eta theta iota"), (10L, "unrelated content here"),
      (13L, "other filler words entirely"), (2L, "different kind text"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
    val pg = graft.queries.MultimodalQueries.mediaAnnOf(planted)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val hit = pg.filter(r => r._1 == 1L && r._3 == 4L)
    assert(hit.nonEmpty && hit.head._2 === 1 && math.abs(hit.head._4 - 1.0) < 1e-9,
      s"exact dup must surface at rank 1 cos ~ 1.0: ${pg.toSeq}")
  }

  test("versioned media index: closed probe loop through published segments") {
    import spark.implicits._
    val M = graft.queries.MultimodalQueries
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val root = java.nio.file.Files.createTempDirectory("media-idx-v").toString
    // all ids ≡ 0 mod 3 → one kind, so kind-blocking never hides a pair
    val corpus0 = df(Seq(3L -> "alpha beta gamma delta"))
    M.appendMediaIndexVersioned(corpus0, root) // day 1: initial publish
    // batch 1 against the resolved index: the corpus dup is flagged, the
    // novel doc (far band, L1 ≫ T) is not — it is admitted and appended
    // AS A NEW VERSION
    val b1 = df(Seq(6L -> "alpha beta gamma delta", 9L -> ("z " * 100)))
    val hits1 = M.mediaNearDupProbeOf(
        M.mediaBandFeatures(b1), M.readMediaIndexVersioned(spark, root))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits1 === Set((6L, 3L)), s"$hits1")
    M.appendMediaIndexVersioned(df(Seq(9L -> ("z " * 100))), root)
    // batch 2 duplicates ONLY batch 1's admission — visible solely through
    // the re-resolved versioned index
    val hits2 = M.mediaNearDupProbeOf(
        M.mediaBandFeatures(df(Seq(12L -> ("z " * 100)))),
        M.readMediaIndexVersioned(spark, root))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits2 === Set((12L, 9L)), s"$hits2")
  }

  test("metadata summary never reads payload (column pruning)") {
    // the analyzed plan of a metadata-only projection over the parquet-backed
    // documents scan must not require the text payload column once pruned
    val plan = Tables.documents(spark, sf()).select("doc_id", "lang")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("text"))
  }
}
