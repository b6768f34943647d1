package graft.queries

import graft.SparkSpec
import graft.SparkEntry
import org.apache.spark.sql.functions._

/** Cross-family invariants for the SparkEntry query surface (the DuckDB
  * value-equality gate runs driver-side; these are the structural/semantic
  * checks that don't need an oracle). */
class QueriesSpec extends SparkSpec {

  test("every query has an oracle, runs, and returns consistent schema") {
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
  }

  test("flagship entry returns non-empty membership rollup") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq === Seq("component", "n_members", "members"))
  }

  test("minhash-LSH pair set equals exact n-gram Jaccard pair set") {
    // LSH banding at 8x4 has ~certain recall at the planted >=0.9 dups and
    // the verification step removes false candidates, so the two operators
    // must agree exactly on this corpus.
    val exact = DedupQueries.defs("d2_ngram_jaccard")(spark, sf())
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupQueries.defs("d3_minhash_lsh")(spark, sf())
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === lsh)
    assert(exact.nonEmpty)
  }

  test("minhash-LSH banding dial: 16x2 re-dial keeps full recall at the planted dups") {
    // The b x r banding is the recall/precision knob a production dedup pass
    // tunes (P(candidate) = 1-(1-j^r)^b). Re-dialing to 16 bands x 2 rows
    // RAISES candidate recall at every similarity level, and the exact
    // verification step keeps precision — so the verified pair set must
    // still contain every exact >=T pair. Fails if the dial stops being
    // honored (e.g. a hard-coded 8x4 sneaking back into the band slicing).
    val sh = DedupQueries.shingleSets(spark, sf())
    val exact = DedupQueries.defs("d2_ngram_jaccard")(spark, sf())
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val redialed = DedupQueries.minhashLshOf(sh, bands = 16, rowsPerBand = 2)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(redialed))
    assert(exact.nonEmpty)
    // and an over-budget dial is rejected, not silently truncated
    intercept[IllegalArgumentException] {
      DedupQueries.minhashLshOf(sh, bands = 16, rowsPerBand = 4)
    }
  }

  test("e7 binned range join == naive non-equi range join") {
    val binned = EventQueries.defs("e7_range_join")(spark, sf())
      .select("incident_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = graft.sources.Tables.events(spark, sf())
    val inc = e.where(col("event_type") === "error" && col("event_id") % 50 === 0)
      .select(col("event_id").as("incident_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
    val naive = e.join(inc, col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select("incident_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(binned === naive)
    assert(binned.nonEmpty)
  }

  test("d8 passage dedup: planted fixture — first occurrence wins, tails ignored") {
    import spark.implicits._
    def words(prefix: String, n: Int) = (0 until n).map(i => s"$prefix$i").mkString(" ")
    val base = words("a", 32)                       // 2 passages
    val fixture = Seq(
      (1L, base),                                   // original: 0 dups
      (2L, base),                                   // exact copy: both passages dup
      (3L, base + " " + words("t", 10)),            // copy + short tail: tail ignored
      (4L, words("u", 16) + " " + base.split(" ").take(16).mkString(" ")),
      //    ^ unique first passage, second repeats doc 1's FIRST passage
      (5L, words("v", 15))                          // too short: no row
    ).toDF("doc_id", "text")
    val got = DedupQueries.passageDedupOf(fixture)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map(
      1L -> (2L, 0L), 2L -> (2L, 2L), 3L -> (2L, 2L), 4L -> (2L, 1L)))
  }

  test("d8 passage dedup: corpus bookkeeping — dups = passages − distinct passages") {
    val d8 = DedupQueries.defs("d8_passage_dedup")(spark, sf())
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = graft.sources.Tables.documents(spark, sf())
    val perDoc = docs.select(floor(size(split(col("text"), " ")) / 16).as("np"))
      .where(col("np") >= 1).agg(sum("np")).head.getLong(0)
    assert(d8.values.map(_._1).sum === perDoc)
    val distinctPassages = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= 16)
      .select(explode(expr(
        "transform(sequence(0, cast(size(ws)/16 as int) - 1)," +
          " i -> array_join(slice(ws, i*16+1, 16), ' '))")).as("p"))
      .distinct().count()
    assert(d8.values.map(_._2).sum === perDoc - distinctPassages)
  }

  test("d14 substring dedup: catches the shifted copy d8 provably misses") {
    import spark.implicits._
    def words(prefix: String, n: Int) = (0 until n).map(i => s"$prefix$i").mkString(" ")
    val base = words("a", 32)
    // doc 2 = doc 1 shifted ONE token off d8's 16-token grid: d8's
    // fixed-stride passages ("x0 a0..a14" / "a15..a30") match nothing in
    // doc 1 ("a0..a15" / "a16..a31") — 0 reported dups — while the copy is
    // a full 32-token duplicated span.
    val fixture = Seq((1L, base), (2L, "x0 " + base)).toDF("doc_id", "text")
    val d8 = DedupQueries.passageDedupOf(fixture)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(d8 === Map(1L -> 0L, 2L -> 0L), "d8 must miss the shifted copy")
    val d14 = DedupQueries.substringDedupOf(fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(d14.toSet === Set((1L, 2L, 0L, 1L, 32L)))
  }

  test("d14 substring dedup: maximal spans per diagonal, sub-threshold spans ignored") {
    import spark.implicits._
    def words(prefix: String, n: Int) = (0 until n).map(i => s"$prefix$i").mkString(" ")
    val A = words("a", 20); val B = words("b", 18)
    val fixture = Seq(
      (1L, A + " " + words("j", 5) + " " + B),   // A at 0..19, B at 25..42
      (2L, B + " " + words("k", 7) + " " + A),   // B at 0..17, A at 25..44
      (3L, words("a", 15) + " " + words("m", 10)) // 15 shared tokens: below SpanLen
    ).toDF("doc_id", "text")
    val got = DedupQueries.substringDedupOf(fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === Set((1L, 2L, 0L, 25L, 20L), (1L, 2L, 25L, 0L, 18L)))
  }

  test("d14 sampled twin: stride 1 equals exact; stride 4 is an exact-row subset that catches long copies") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val docs = graft.sources.Tables.documents(spark, sf())
    val exact = rows(DedupQueries.substringDedupOf(docs))
    assert(exact.nonEmpty)
    // stride 1 = every gram is an anchor: extension must reproduce the
    // exact variant's maximal spans identically (same rows, not just pairs)
    assert(rows(DedupQueries.substringDedupSampledOf(docs, stride = 1)) === exact)
    // production stride: every emitted row is an exact-variant row
    // (extension is exact), recall bounded by the anchor-hit probability
    val sampled = rows(DedupQueries.substringDedupSampledOf(docs))
    assert(sampled.subsetOf(exact))
    // a 64-token copy at arbitrary shift: 49 anchor candidates — caught
    // (deterministic hashes, so this is a fixed property of the fixture)
    def w(prefix: String, n: Int) = (0 until n).map(i => s"$prefix$i").mkString(" ")
    val planted = Seq((1L, w("p", 64)), (2L, "z0 z1 z2 " + w("p", 64))).toDF("doc_id", "text")
    assert(rows(DedupQueries.substringDedupSampledOf(planted)) ===
      Set((1L, 2L, 0L, 3L, 64L)))
  }

  test("d16 long-span collapse: the extension join sees islands, not anchors (VERDICT r14 #1)") {
    import spark.implicits._
    def w(prefix: String, n: Int) = (0 until n).map(i => s"$prefix$i").mkString(" ")
    // a 600-token shared span at shifted alignment: ~600/stride anchors all
    // collide on ONE diagonal. Pre-fix, EACH anchor became its own
    // extension candidate carrying both docs' full token arrays and
    // re-deriving the same maximal span; the island collapse must cut the
    // candidate set to the handful of > SpanLen-gap islands BEFORE the
    // token-array join (anchorIslandCandidates IS that join's input).
    val planted = Seq(
      (1L, w("p", 600)),
      (2L, "q0 q1 q2 q3 q4 " + w("p", 600))).toDF("doc_id", "text")
    val hits = DedupQueries.anchorPairHits(planted, DedupQueries.AnchorStride).count()
    val islands = DedupQueries.anchorIslandCandidates(planted, DedupQueries.AnchorStride).count()
    // ~150 anchors expected on the diagonal (hash % 4 == 0 over 585 grams);
    // islands split only at > SpanLen anchor gaps (P ≈ 0.75^16 per anchor)
    assert(hits >= 100L, s"fixture must plant a dense anchor diagonal (got $hits)")
    assert(islands >= 1L && islands * 8 <= hits,
      s"island collapse must shrink the candidate set ($hits hits -> $islands islands)")
    // and the collapsed extension still emits exactly the one maximal span
    val got = DedupQueries.substringDedupSampledOf(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === Set((1L, 2L, 0L, 5L, 600L)))
  }

  test("d14/d16 gram-df cap ACTIVE: exact variant splits at the hot gram, anchor twin extends through") {
    import spark.implicits._
    // the documented cap-active contracts, pinned: a 56-token shared span
    // whose middle 16 tokens are boilerplate B planted in 30 other docs
    // (df(B) = 32 > cap 10). Exactly ONE gram sits fully inside B (the B
    // gram itself); every gram overlapping B partially carries pair-unique
    // tokens (df 2, rare).
    def w(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val B = w("boil", 16)
    val span = w("u", 20) + " " + B + " " + w("v", 20) // 56 tokens
    val fixture = (Seq(
      1L -> (span + " " + w("x", 5)),
      2L -> (span + " " + w("y", 5))) ++
      (0 until 30).map(i => (100L + i) -> (s"z${i}a z${i}b " + B)))
      .toDF("doc_id", "text")
    def spans(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // uncapped: one maximal 56-token span for (1,2); every doc carrying B
    // pairs with every other at the 16-token B span
    val un = spans(DedupQueries.substringDedupOf(fixture)) // default cap 1000, inert
    assert(un.count(s => s._1 == 1L && s._2 == 2L) === 1)
    assert(un.find(s => s._1 == 1L && s._2 == 2L).get._5 === 56L)
    assert(un.count(s => s._1 >= 100L) === 30 * 29 / 2) // B-doc pairs, span 16
    // cap 10 ACTIVE: the hot B gram's postings drop. Exact variant: the
    // (1,2) diagonal loses position 20, gaps-and-islands SPLITS the span
    // into two 35-token halves; the B-only docs share nothing rare → no
    // pairs at all
    val capped = spans(DedupQueries.spansFromCapped(
      DedupQueries.cappedGramPostings(fixture, DedupQueries.SpanLen, maxDf = 10)))
    assert(capped.toSet === Set((1L, 2L, 0L, 0L, 35L), (1L, 2L, 21L, 21L, 35L)))
    // anchor twin at stride 1, same cap: candidates come only from rare
    // anchors, but the exact token-compare extension runs THROUGH the
    // capped gram — the span is reported UNSPLIT (the documented superset
    // caveat), and the B-only docs still produce nothing
    val anchorCapped = spans(DedupQueries.substringDedupFrom(fixture,
      DedupQueries.cappedAnchorPostings(fixture, DedupQueries.SpanLen, stride = 1, maxDf = 10)))
    assert(anchorCapped.toSet === Set((1L, 2L, 0L, 0L, 56L)))
  }

  test("d15 cut: 1000+ overlapping owed intervals merge row-locally, rewrite byte-identical") {
    import spark.implicits._
    // VERDICT r14 #2: a popular-boilerplate doc can owe thousands of
    // overlapping intervals; they must fold into disjoint merged intervals
    // before the per-token scan, with coverage (hence the rewritten text)
    // EXACTLY preserved — including the adjacent-interval union case.
    val text = (0 until 100).map(i => s"a$i").mkString(" ")
    val docs = Seq((1L, text), (2L, "hello world")).toDF("doc_id", "text")
    val spans = ((0 until 1200).map { i =>
      val st = (i % 41).toLong; (0L, 1L, st, st, 20L) // 1200 overlapping: [0,60)
    } ++ Seq((0L, 1L, 60L, 60L, 10L), (0L, 1L, 70L, 70L, 10L))) // adjacent: [60,80)
      .toDF("doc_a", "doc_b", "a_pos", "b_pos", "span_len")
    val got = DedupQueries.substringCutOf(docs, spans).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got === Map(
      1L -> (100L, 80L, (80 until 100).map(i => s"a$i").mkString(" ")),
      2L -> (2L, 0L, "hello world")))
  }

  test("d15 substring cut: keep-first rewrite, overlapping cut intervals, pass-through") {
    import spark.implicits._
    def words(from: Int, until: Int) = (from until until).map(i => s"a$i").mkString(" ")
    // doc 3 owes overlapping intervals to TWO partners: [0,20) from doc 1
    // and [10,30) from doc 2 — together they cover it entirely. Docs 1 and
    // 2 share only 10 tokens (< SpanLen): no span, both keep-first intact.
    val fixture = Seq(
      (1L, words(0, 20)), (2L, words(10, 30)), (3L, words(0, 30)),
      (4L, "hello world") // < SpanLen tokens: never in the posting index
    ).toDF("doc_id", "text")
    val got = DedupQueries.substringCutOf(fixture)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got === Map(
      1L -> (20L, 0L, words(0, 20)),
      2L -> (20L, 0L, words(10, 30)),
      3L -> (30L, 30L, ""),
      4L -> (2L, 0L, "hello world")))
  }

  test("d15 on the corpus: n_cut equals the d14 doc_b interval coverage, text consistent") {
    val docs = graft.sources.Tables.documents(spark, sf())
    val spans = DedupQueries.substringDedupOf(docs).collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(3) + r.getLong(4)))
    val covered = spans.groupBy(_._1).view.mapValues(
      _.flatMap { case (_, st, en) => st until en }.toSet).toMap
    val toks = docs.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ", -1)).toMap
    val got = DedupQueries.substringCutOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got.keySet === toks.keySet)
    assert(got.values.map(_._2).sum > 0, "corpus must contain at least one cut")
    for ((id, (nTok, nCut, text)) <- got) {
      val ws = toks(id); val cut = covered.getOrElse(id, Set.empty)
      assert(nTok === ws.length.toLong, s"doc $id")
      assert(nCut === cut.size.toLong, s"doc $id")
      assert(text === ws.zipWithIndex.collect {
        case (t, i) if !cut(i.toLong) => t }.mkString(" "), s"doc $id")
    }
  }

  test("incremental dedup: batch deduped against corpus + itself, corpus never re-paired") {
    import spark.implicits._
    def doc(prefix: String) = (0 until 12).map(i => s"$prefix$i").mkString(" ")
    val old = Seq((1L, doc("a")), (2L, doc("b")), (3L, doc("c"))).toDF("doc_id", "text")
    val batch = Seq(
      (10L, doc("b")),   // exact copy of corpus doc 2 -> dropped
      (11L, doc("x")),   // novel -> kept (cluster rep of {11, 12})
      (12L, doc("x")),   // in-batch copy of 11 -> dropped
      (13L, doc("y"))    // novel singleton -> kept
    ).toDF("doc_id", "text")
    val admitted = DedupQueries.incrementalDedup(old, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted === Set(11L, 13L))
    // idempotence: admitting the admitted docs against old ∪ admitted is a no-op
    val grown = old.unionByName(batch.where(col("doc_id").isin(11L, 13L)))
    assert(DedupQueries.incrementalDedup(grown, batch).count() === 0)
    // similarity CHAIN 20≈21≈22 (20,22 dissimilar): sliding 12-token windows
    // at stride 3 over t0..t17 — adjacent windows share 7 of 13 distinct
    // 3-gram shingles (J≈0.54), the ends only 4 of 16 (J=0.25). One cluster,
    // rep 20 kept.
    val ts = (0 until 18).map(i => s"t$i")
    val chain = Seq(
      (20L, ts.slice(0, 12).mkString(" ")),
      (21L, ts.slice(3, 15).mkString(" ")),
      (22L, ts.slice(6, 18).mkString(" "))
    ).toDF("doc_id", "text")
    val chainKept = DedupQueries.incrementalDedup(old, chain)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(chainKept === Set(20L))
    // all-unique batch (empty in-batch pair graph) admits everything
    val uniq = Seq((30L, doc("u")), (31L, doc("v"))).toDF("doc_id", "text")
    assert(DedupQueries.incrementalDedup(old, uniq).count() === 2)
  }

  test("incremental dedup hot-band cap: planted hot band bounds candidates, dial trades recall") {
    import spark.implicits._
    def doc(prefix: String) = (0 until 12).map(i => s"$prefix$i").mkString(" ")
    // plant a HOT band: 5 identical corpus docs — all 8 of their bands carry
    // population 5 (identical shingle sets → identical signatures) — plus
    // one cold doc whose bands have population 1
    val old = ((1L to 5L).map(id => (id, doc("hot"))) :+ (6L, doc("cold")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, doc("hot")),   // duplicates the corpus-saturated boilerplate
      (11L, doc("cold")),  // duplicates the cold doc
      (12L, doc("z"))      // novel
    ).toDF("doc_id", "text")
    // BOUNDED CANDIDATE VOLUME, on the capped index directly: at cap 4 the
    // hot band contributes ZERO postings to the candidate join (vs 5 per
    // band uncapped — the fan-out that grows with corpus population), the
    // cold bands pass whole, and no residual band exceeds the cap
    val idx = DedupQueries.lshBandIndex(old)
    val capped = DedupQueries.capBandIndex(idx, 4)
    assert(capped.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet === Set(6L))
    assert(capped.groupBy("bkey").count().agg(max("count")).head.getLong(0) <= 4L)
    // default cap (1000) is inert here: both copies are caught
    assert(DedupQueries.incrementalDedup(old, batch).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(12L))
    // dialed under the planted population, the hot band is excluded: the
    // boilerplate copy is ADMITTED (the documented MaxGramDf-style recall
    // trade — corpus-saturated content is what a 100 TB recipe caps away),
    // while the cold-band copy is still rejected
    assert(DedupQueries.incrementalDedup(old, batch, maxBandPop = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(10L, 12L))
  }

  test("incremental dedup: a cluster touching the corpus via ANY member is wholly rejected") {
    import spark.implicits._
    val ts = (0 until 18).map(i => s"t$i")
    // corpus holds the chain's TAIL window: batch rep 20 is NOT directly
    // similar to it (end windows share 4 of 16 shingles, J=0.25 < T) but
    // member 22 is an exact copy — the whole cluster must go, rep included
    val old = Seq((1L, ts.slice(6, 18).mkString(" "))).toDF("doc_id", "text")
    val chain = Seq(
      (20L, ts.slice(0, 12).mkString(" ")),
      (21L, ts.slice(3, 15).mkString(" ")),
      (22L, ts.slice(6, 18).mkString(" "))
    ).toDF("doc_id", "text")
    assert(DedupQueries.incrementalDedup(old, chain).count() === 0)
  }

  test("incremental dedup: persisted LSH band index round-trips through parquet") {
    import spark.implicits._
    def doc(prefix: String) = (0 until 12).map(i => s"$prefix$i").mkString(" ")
    val old = Seq((1L, doc("a")), (2L, doc("b")), (3L, doc("c"))).toDF("doc_id", "text")
    val batch = Seq(
      (10L, doc("b")), (11L, doc("x")), (12L, doc("x")), (13L, doc("y"))
    ).toDF("doc_id", "text")
    // the documented production path: index written once, re-read next batch
    val dir = java.nio.file.Files.createTempDirectory("graft-bandidx").toString
    DedupQueries.lshBandIndex(old).write.parquet(s"$dir/band_index")
    val idx = spark.read.parquet(s"$dir/band_index")
    val viaIdx = DedupQueries.incrementalDedup(old, batch, Some(idx))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val derived = DedupQueries.incrementalDedup(old, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaIdx === derived)
    assert(viaIdx === Set(11L, 13L))
  }

  test("incremental dedup: closed ingest loop — batch 2 sees batch 1's admissions via the appended index") {
    import spark.implicits._
    def doc(prefix: String) = (0 until 12).map(i => s"$prefix$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val corpusPath = s"$dir/corpus"
    val idxPath = s"$dir/band_index"
    // bootstrap: corpus text store + band index, both persisted
    val corpus0 = Seq((1L, doc("a")), (2L, doc("b"))).toDF("doc_id", "text")
    corpus0.write.parquet(corpusPath)
    DedupQueries.appendBandIndex(corpus0, idxPath)
    def corpus() = spark.read.parquet(corpusPath)
    def idx() = spark.read.parquet(idxPath)
    // batch 1: a corpus dup (dropped) and a novel doc (admitted)
    val b1 = Seq((10L, doc("b")), (11L, doc("x"))).toDF("doc_id", "text")
    val adm1 = DedupQueries.incrementalDedup(corpus(), b1, Some(idx()))
    assert(adm1.select("doc_id").collect().map(_.getLong(0)).toSet === Set(11L))
    // the production writes: admitted text -> corpus store, bands -> index
    adm1.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(corpusPath)
    DedupQueries.appendBandIndex(adm1, idxPath)
    // batch 2 duplicates ONLY batch 1's admission — visible solely through
    // the persisted index read back from disk (no in-session state survives)
    val b2 = Seq((20L, doc("x")), (21L, doc("z"))).toDF("doc_id", "text")
    val adm2 = DedupQueries.incrementalDedup(corpus(), b2, Some(idx()))
    assert(adm2.select("doc_id").collect().map(_.getLong(0)).toSet === Set(21L))
    adm2.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(corpusPath)
    DedupQueries.appendBandIndex(adm2, idxPath)
    // re-running batch 1 against the grown stores is a no-op: 10 still hits
    // corpus doc 2, 11 now hits its own admitted copy
    assert(DedupQueries.incrementalDedup(corpus(), b1, Some(idx())).count() === 0)
  }

  test("incremental dedup: stale index (candidate without corpus text) fails loudly") {
    import spark.implicits._
    def doc(prefix: String) = (0 until 12).map(i => s"$prefix$i").mkString(" ")
    val full = Seq((1L, doc("a")), (2L, doc("b"))).toDF("doc_id", "text")
    val idx = DedupQueries.lshBandIndex(full)
    // oldDocs is missing doc 2's text, but the index still carries its bands
    val partial = full.where(col("doc_id") === 1L)
    val batch = Seq((10L, doc("b"))).toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      DedupQueries.incrementalDedup(partial, batch, Some(idx)).count()
    }
    assert(err.getMessage.contains("no corpus"), err.getMessage)
    // with the full corpus text present the same index admits nothing (10 is a dup)
    assert(DedupQueries.incrementalDedup(full, batch, Some(idx)).count() === 0)
  }

  test("c7 bloom-pruned decontam equals the bloom-free exact semi-join") {
    val bloomRes = graft.queries.CurationQueries.defs("c7_decontam_bloom")(spark, sf())
      .collect().map(_.getLong(0)).toSet
    // exact-only formulation: no bloom anywhere
    val g8 = graft.sources.Tables.documents(spark, sf()).select(col("doc_id"),
      explode(graft.functions.VectorFunctions.shingleHashes(col("text"), 8,
        graft.text.TextFunctions.HashP)).as("g"))
    val bench = g8.where(col("doc_id") % 20 === 0).select("g").distinct()
    val exact = g8.where(col("doc_id") % 20 =!= 0)
      .join(bench, "g").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(bloomRes === exact)
    assert(bloomRes.nonEmpty)
  }

  test("t8 heavy hitters: sketch+recount equals the exact full aggregation") {
    val viaSketch = graft.queries.TextQueries.defs("t8_heavy_hitters")(spark, sf())
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val tok = graft.sources.Tables.documents(spark, sf())
      .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("word"))
    val n = tok.count()
    val exact = tok.groupBy("word").count()
      .where(col("count") > n / 51.0)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(viaSketch === exact)
    assert(viaSketch.nonEmpty)
  }

  test("d9 ensemble: exact union of d2 and d7 pair sets with true provenance") {
    def pairs(name: String, a: String, b: String) =
      graft.SparkEntry.queries(name)(spark, sf())
        .select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val text = pairs("d2_ngram_jaccard", "doc_a", "doc_b")
    val emb = pairs("d7_embedding_neardup_lsh", "vec_a", "vec_b")
    val rows = DedupQueries.defs("d9_ensemble_neardup")(spark, sf()).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet === (text ++ emb))
    for (r <- rows) {
      val p = (r.getLong(0), r.getLong(1))
      assert(r.getBoolean(4) === text.contains(p), s"by_text wrong for $p")
      assert(r.getBoolean(5) === emb.contains(p), s"by_embedding wrong for $p")
    }
  }

  test("e8 hopping windows: every event in exactly 4 windows, 15-min aligned") {
    val df = EventQueries.defs("e8_hopping_window")(spark, sf())
    val total = df.agg(sum("n")).head.getLong(0)
    val events = graft.sources.Tables.events(spark, sf()).count()
    assert(total === events * 4)
    val misaligned = df.where(
      unix_micros(col("window_start")) % (900L * 1000000L) =!= 0).count()
    assert(misaligned === 0)
  }

  test("e9 retention: day-0 row equals cohort size; offsets non-negative") {
    val rows = EventQueries.defs("e9_retention")(spark, sf())
      .collect().map(r => (r.getDate(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 >= 0))
    // every user appears in their cohort's day-0 row, so per cohort:
    // n_users(day 0) >= n_users(day n) for all n
    val day0 = rows.filter(_._2 == 0).map(r => r._1 -> r._3).toMap
    for ((cohort, dayN, n) <- rows)
      assert(n <= day0(cohort), s"cohort $cohort day $dayN: $n > ${day0(cohort)}")
    // cohorts partition the user base
    val users = graft.sources.Tables.events(spark, sf())
      .select("user_id").distinct().count()
    assert(day0.values.sum === users)
  }

  test("g1 triangles: K4+path golden counts; degree-oriented == naive 3-join") {
    import spark.implicits._
    // K4 on {1,2,3,4} (every node in C(3,2)=3 triangles) + a triangle-free
    // path 5-6-7 (no rows at all)
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val fixture = (k4 ++ Seq((5L, 6L), (6L, 7L))).toDF("src", "dst")
    val got = GraphQueries.trianglesOf(fixture)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // ids beyond 2^31 force the generic (unpacked) closing join — same counts
    val big = 1L << 40
    val wide = GraphQueries.trianglesOf(
      fixture.select((col("src") + big).as("src"), (col("dst") + big).as("dst")))
      .collect().map(r => (r.getLong(0) - big) -> r.getLong(1)).toMap
    assert(wide === got)
    // byte-budget auto-selection (VERDICT r07 #4): at 0 bytes both broadcast
    // hints are dropped and the SHUFFLED wedge and closing joins run; at 150
    // bytes the fixture's 8 edges fit as a closing list (8 B packed, 16 B
    // wide per edge) but not as a wedge build (24 B packed, 32 B wide), so
    // the closing join broadcasts and the wedge join shuffles — both the
    // packed and unpacked variants must agree with the broadcast results
    for (budget <- Seq("0", "150")) {
      spark.conf.set(graft.Checkpoints.BroadcastBudgetKey, budget)
      try {
        val shuffledPacked = GraphQueries.trianglesOf(fixture)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(shuffledPacked === got, s"budget $budget")
        val shuffledWide = GraphQueries.trianglesOf(
          fixture.select((col("src") + big).as("src"), (col("dst") + big).as("dst")))
          .collect().map(r => (r.getLong(0) - big) -> r.getLong(1)).toMap
        assert(shuffledWide === got, s"budget $budget")
      } finally spark.conf.unset(graft.Checkpoints.BroadcastBudgetKey)
    }
    // agreement with the orientation-free formulation on the real graph
    val e = graft.graph.GraphBuilders.copurchaseEdges(spark, sf())
    val naive = e.as("e1")
      .join(e.as("e2"), col("e2.src") === col("e1.dst"))
      .join(e.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .select(explode(array(col("e1.src"), col("e1.dst"), col("e2.dst"))).as("node"))
      .groupBy("node").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oriented = GraphQueries.trianglesOf(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oriented === naive)
    assert(oriented.nonEmpty)
    // and in the mixed shape: a budget of 16 B per edge holds the packed
    // closing list (8 B) but not the wedge build (24 B)
    spark.conf.set(graft.Checkpoints.BroadcastBudgetKey, (e.count() * 16).toString)
    try {
      val mixed = GraphQueries.trianglesOf(e)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(mixed === naive)
    } finally spark.conf.unset(graft.Checkpoints.BroadcastBudgetKey)
  }

  test("g2 pagerank: uniform on a cycle; mass conserved; hubs outrank leaves") {
    import spark.implicits._
    // 4-cycle is vertex-transitive: every node's rank is exactly 1/4 at
    // every iteration (the fold sums two identical halves — no fp drift)
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("src", "dst")
    val pc = GraphQueries.pagerankOf(cycle, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pc.keySet === Set(1L, 2L, 3L, 4L))
    pc.values.foreach(v => assert(math.abs(v - 0.25) < 1e-15))
    // star K1,4: symmetric graph => total mass conserved at 1; the center
    // must outrank the (identical-by-symmetry) leaves
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("src", "dst")
    val ps = GraphQueries.pagerankOf(star, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ps.values.sum - 1.0) < 1e-9)
    val leaves = (2L to 5L).map(ps)
    assert(leaves.toSet.size === 1)
    assert(leaves.head < ps(1L))
  }

  test("g2 pagerank: map-side-combining fast path agrees with the parity fold to 1e-12") {
    val e = graft.graph.GraphBuilders.copurchaseEdges(spark, sf())
    def ranks(step: GraphQueries.PagerankStep) = GraphQueries.pagerankOf(e, 3, Some(step))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val parity = ranks(GraphQueries.pagerankParityStep)
    val fast = ranks(GraphQueries.pagerankFastStep)
    assert(fast.keySet === parity.keySet)
    assert(parity.nonEmpty)
    for ((k, v) <- parity) assert(math.abs(fast(k) - v) < 1e-12, s"node $k")
  }

  test("g2 pagerank: auto-selection swaps to the hub-safe SUM path on skew") {
    import spark.implicits._
    // the pick is a pure function of the observed max degree, cut at the cap
    val cap = GraphQueries.MaxParityInDegree
    assert(GraphQueries.pagerankStrategy(cap) === "parity")
    assert(GraphQueries.pagerankStrategy(cap + 1) === "fast")
    // co-purchase degrees are modest: the core keeps the oracle-parity fold,
    // bit for bit
    val e = graft.graph.GraphBuilders.copurchaseEdges(spark, sf())
    val maxDeg = graft.ccf.CCF.bidirect(e).groupBy("src").count()
      .agg(max(col("count"))).head().getLong(0)
    assert(GraphQueries.pagerankStrategy(maxDeg) === "parity")
    def ranks(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks(GraphQueries.pagerankOf(e, 3)) ===
      ranks(GraphQueries.pagerankOf(e, 3, Some(GraphQueries.pagerankParityStep))))
    // the fast result on a hub-skewed star still agrees with parity
    val star = (2L to 40L).map(l => (1L, l)).toDF("src", "dst")
    val fast = ranks(GraphQueries.pagerankOf(star, 3, Some(GraphQueries.pagerankFastStep)))
    val parity = ranks(GraphQueries.pagerankOf(star, 3, Some(GraphQueries.pagerankParityStep)))
    assert(fast.keySet === parity.keySet)
    for ((k, v) <- parity) assert(math.abs(fast(k) - v) < 1e-12, s"node $k")
  }

  test("g2 and g3 rounds without broadcasts: a zero budget gives the default session's ranks and labels") {
    // a session whose budget is 0, with Spark's own size-based broadcast
    // off, runs every PageRank and LPA round as a shuffled join (PlanSpec
    // pins the plans); the parity fold and the mode vote are exact under any
    // partitioning, the plain SUM within fp reordering
    val shuffled = spark.newSession()
    shuffled.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    shuffled.conf.set(graft.Checkpoints.BroadcastBudgetKey, "0")
    def edges(s: org.apache.spark.sql.SparkSession) = graft.graph.GraphBuilders.copurchaseEdges(s, sf())
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def pagerank(s: org.apache.spark.sql.SparkSession, step: GraphQueries.PagerankStep) =
      ranks(GraphQueries.pagerankOf(edges(s), 3, Some(step)))
    val parity = pagerank(spark, GraphQueries.pagerankParityStep)
    assert(parity.nonEmpty)
    assert(pagerank(shuffled, GraphQueries.pagerankParityStep) === parity)
    val fast = pagerank(spark, GraphQueries.pagerankFastStep)
    val fastShuffled = pagerank(shuffled, GraphQueries.pagerankFastStep)
    assert(fastShuffled.keySet === fast.keySet)
    for ((k, v) <- fast) assert(math.abs(fastShuffled(k) - v) < 1e-12, s"node $k")
    def labels(s: org.apache.spark.sql.SparkSession) =
      GraphQueries.lpaOf(graft.ccf.CCF.bidirect(edges(s)), GraphQueries.LpaIters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lpa = labels(spark)
    assert(lpa.nonEmpty)
    assert(labels(shuffled) === lpa)
  }

  test("g2 differential: parity and fast steps agree across budgets on adversarial inputs") {
    // canonical (src < dst, distinct) edge sets: empty, one hub with 1,000
    // leaves, two seeded random components, and ids at or above 2^31. Parity
    // ranks are exact under any partitioning, so equal at both budgets; the
    // plain SUM is within fp reordering of them
    val rng = new scala.util.Random(20)
    def component(base: Long, n: Int, m: Int): Seq[(Long, Long)] =
      (1 until n).map(i => (base + rng.nextInt(i), base + i)) ++ // spanning tree
        Seq.fill(m)((rng.nextInt(n), rng.nextInt(n))).collect {
          case (a, b) if a < b => (base + a, base + b)
        }
    val big = 1L << 31
    val inputs: Seq[(String, Seq[(Long, Long)])] = Seq(
      "empty" -> Seq.empty,
      "hub with 1,000 leaves" -> (1L to 1000L).map(l => (0L, l)),
      "two components" -> (component(0L, 60, 120) ++ component(1000L, 40, 80)),
      "ids >= 2^31" -> component(big, 50, 100))
    val shuffled = spark.newSession()
    shuffled.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    shuffled.conf.set(graft.Checkpoints.BroadcastBudgetKey, "0")
    for ((name, edges) <- inputs) {
      val canonical = edges.distinct
      def ranks(s: org.apache.spark.sql.SparkSession, step: GraphQueries.PagerankStep) =
        GraphQueries.pagerankOf(s.createDataFrame(canonical).toDF("src", "dst"), 3, Some(step))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val parity = ranks(spark, GraphQueries.pagerankParityStep)
      assert(parity.size === canonical.flatMap(e => Seq(e._1, e._2)).distinct.size, name)
      assert(ranks(shuffled, GraphQueries.pagerankParityStep) === parity, name)
      for (s <- Seq(spark, shuffled)) {
        val fast = ranks(s, GraphQueries.pagerankFastStep)
        assert(fast.keySet === parity.keySet, name)
        for ((k, v) <- parity) assert(math.abs(fast(k) - v) < 1e-12, s"$name, node $k")
      }
    }
  }

  test("e10 funnel: planted fixture — strict ordering, out-of-order stages don't count") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val e = Seq(
      (1L, ts(0), "view"), (1L, ts(1), "click"), (1L, ts(2), "purchase"), // full funnel
      (2L, ts(0), "view"), (2L, ts(1), "click"),                          // stops at click
      (3L, ts(0), "view"),                                                // view only
      (4L, ts(5), "view"), (4L, ts(1), "click"), (4L, ts(6), "purchase"), // click BEFORE view
      (5L, ts(0), "click"), (5L, ts(1), "purchase"),                      // never viewed
      (6L, ts(0), "view"), (6L, ts(0), "click"), (6L, ts(1), "purchase")  // same-instant click: strict > excludes
    ).toDF("user_id", "ts", "event_type")
    val got = graft.queries.EventQueries.funnelOf(e)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 4: purchase exists but no click-after-view => stage 1
    // 5: absent (funnel entry requires a view)
    // 6: click at exactly t1 doesn't count => stage 1
    assert(got === Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 1, 6L -> 1))
  }

  test("m6 media near-dup: banded join finds exactly the all-pairs L1 matches") {
    val banded = graft.queries.MultimodalQueries.defs("m6_media_neardup")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // blocking-free formulation: same-kind all-pairs, same L1, no bands
    val media = graft.multimodal.Multimodal.mediaFromDocuments(
      graft.sources.Tables.documents(spark, sf()))
    val h = graft.multimodal.Multimodal.extractFeatures(media).toDF()
      .select(col("media_id"), col("kind"), col("histogram16"))
    val all = h.as("x").join(h.as("y"),
        col("x.kind") === col("y.kind") && col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id"), col("y.media_id"),
        expr("aggregate(zip_with(x.histogram16, y.histogram16, (p, q) -> abs(p - q)), 0L, (acc, v) -> acc + v)").as("l1"))
      .where(col("l1") <= 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded === all)
    assert(banded.nonEmpty)
  }

  test("t9 bigram LM: MLE probabilities bounded in (0,1], n_bigrams == tokens - 1") {
    val r = TextQueries.defs("t9_bigram_lm")(spark, sf()).collect()
    assert(r.nonEmpty)
    for (row <- r) {
      val p = row.getDouble(2)
      // each instance's P(w2|w1) = c(bigram)/c(prefix) <= 1 by construction
      assert(p > 0.0 && p <= 1.0 + 1e-12, s"doc ${row.getLong(0)}: avg_p $p")
    }
    val nb = graft.sources.Tables.documents(spark, sf())
      .select(col("doc_id"),
        (size(graft.text.TextFunctions.tokens(col("text"))) - 1).as("nb"))
      .collect().map(x => x.getLong(0) -> x.getInt(1).toLong).toMap
    for (row <- r) assert(row.getLong(1) === nb(row.getLong(0)))
  }

  test("c8 quantile gate: every source keeps >= a quarter") {
    val dcs = graft.sources.Tables.documents(spark, sf())
    val kept = CurationQueries.defs("c8_quantile_filter")(spark, sf())
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot = dcs.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.keySet === tot.keySet) // >= keeps the quantile row itself
    for ((k, n) <- tot)
      assert(kept(k) >= n / 4 - 1 && kept(k) < n, s"source $k kept ${kept(k)} of $n")
  }

  test("d2 hot-shingle df cap: hot-only pairs dropped, rare-shingle dups keep exact jaccard") {
    import spark.implicits._
    // 20 identical docs — every shingle hot (df=20); capped at 5, they can't
    // generate candidates (the recall contract). Two near-dups on RARE
    // shingles must survive the cap with the UNCAPPED exact Jaccard value
    // (the verify step reads full sets, not the capped index).
    val docs = ((100L until 120L).map(i => (i, "alpha beta gamma delta epsilon")) ++
      Seq((1L, "zeta eta theta iota kappa"), (2L, "zeta eta theta iota lambda")) ++
      (200L until 205L).map(i => (i, s"f${i}a f${i}b f${i}c f${i}d")))
      .toDF("doc_id", "text")
    val sh = DedupQueries.shingleSetsOf(docs)
    val capped = DedupQueries.jaccardPairsOf(sh, maxDf = 5).collect()
    val uncapped = DedupQueries.jaccardPairsOf(sh, maxDf = Int.MaxValue).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    // |{zeta eta theta, eta theta iota}| / |union of 4| = 0.5, cap-independent
    assert(capped.head.getDouble(2) === 0.5)
    assert(uncapped.length === 190 + 1) // C(20,2) hot pairs + the rare pair
    val rareUncapped = uncapped.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(rareUncapped.getDouble(2) === capped.head.getDouble(2))
  }

  test("t6 hot-term df cap: hot-only pairs dropped, rare-term dups survive") {
    import spark.implicits._
    // 10 identical single-term docs (df=10 > cap 5) pair up only without the
    // cap; two identical docs on rare terms (df=2) survive it.
    val docs = ((100L until 110L).map(i => (i, "alpha beta gamma")) ++
      Seq((1L, "zeta eta theta iota"), (2L, "zeta eta theta iota")) ++
      (200L until 205L).map(i => (i, s"f${i}a f${i}b f${i}c")))
      .toDF("doc_id", "text")
    val capped = TextQueries.tfidfPairsOf(docs, maxDf = 5).collect()
    val uncapped = TextQueries.tfidfPairsOf(docs, maxDf = Long.MaxValue).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(capped.head.getDouble(2) > 0.99) // identical vectors
    assert(uncapped.length === 45 + 1) // C(10,2) hot pairs + the rare pair
  }

  test("exact dedup marks no false duplicates (texts are unique at sf0.001)") {
    val d = DedupQueries.defs("d1_exact_dedup")(spark, sf())
    assert(d.where(col("is_dup")).count() === 0)
  }

  test("knn: LSH results are a subset-ranking of brute-force candidates") {
    val brute = SimilarityQueries.defs("s1_knn_brute")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = SimilarityQueries.defs("s2_knn_lsh")(spark, sf()).collect()
    assert(lsh.nonEmpty)
    // every LSH rank-1 neighbor that shares the query bucket scores no higher
    // than the brute-force rank-1 (sanity: LSH cannot beat exact search)
    val bruteTop = SimilarityQueries.defs("s1_knn_brute")(spark, sf())
      .where(col("rank") === 1).collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val lshTop = SimilarityQueries.defs("s2_knn_lsh")(spark, sf())
      .where(col("rank") === 1).collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(lshTop.forall { case (q, cos) => cos <= bruteTop(q) + 1e-12 })
  }

  test("knn: IVF multi-probe has high recall vs brute force, never beats it") {
    val brute = SimilarityQueries.defs("s1_knn_brute")(spark, sf()).collect()
    val ivf = SimilarityQueries.defs("s3_knn_ivf")(spark, sf()).collect()
    val bruteSet = brute.map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfSet = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    // IVF only searches probed cells, so its results are a subset-quality
    // approximation: top-1 cosine can never exceed the exact top-1
    val bruteTop = brute.filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val ivfTop = ivf.filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ivfTop.forall { case (q, cos) => cos <= bruteTop(q) + 1e-12 })
    // recall@5 across the 10 queries: probing 4/16 cells must recover most of
    // the exact top-5 (planted near-dup structure makes cells coherent)
    val recall = ivfSet.intersect(bruteSet).size.toDouble / bruteSet.size
    assert(recall >= 0.5, s"IVF recall@${SimilarityQueries.TopK} too low: $recall")
  }

  test("knn: IVF k-means training is monotone in the spherical objective") {
    // spherical k-means (assign by cosine, update to the cell mean) never
    // decreases the mean best-cell cosine; each Lloyd round must improve on
    // the raw first-k seed quantizer or leave it unchanged
    val objs = (0 to SimilarityQueries.KMeansIters)
      .map(i => SimilarityQueries.quantizerObjective(spark, sf(), i))
    objs.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, s"objective decreased across a Lloyd round: $objs")
    }
    // and training moved the quantizer: the trained objective strictly beats
    // the untrained seed (planted cluster structure makes this robust)
    assert(objs.last > objs.head, s"training had no effect: $objs")
  }

  test("s6 k-means clusters: a partition of the corpus, bounded by k") {
    val rows = SimilarityQueries.defs("s6_kmeans_clusters")(spark, sf()).collect()
    val n = graft.sources.Tables.embeddings(spark, sf()).count()
    assert(rows.map(_.getLong(1)).sum === n, "cluster sizes must sum to the corpus")
    assert(rows.length <= SimilarityQueries.NumCentroids)
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    // the representative is a member, so it can't precede its cluster's id
    // space; every size is positive
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("sessions: per-user session ids are dense from 1 and ordered by time") {
    val s = EventQueries.defs("e2_sessions")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byUser = s.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toList)
    assert(byUser.values.forall(ids => ids === (1L to ids.length).toList))
  }

  test("simhash: identical texts get identical simhash; near-identical close") {
    val sh = DedupQueries.defs("d4_simhash")(spark, sf())
    assert(sh.count() === graft.sources.Tables.documents(spark, sf()).count())
    // near-dup pairs (jaccard >= 0.9) must sit within small hamming distance
    val dupPairs = DedupQueries.defs("d2_ngram_jaccard")(spark, sf())
      .where(col("jaccard") >= 0.9)
    val shA = sh.select(col("doc_id").as("doc_a"), col("simhash").as("ha"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("simhash").as("hb"))
    val joined = dupPairs.join(shA, "doc_a").join(shB, "doc_b")
      .select(bit_count(col("ha").bitwiseXOR(col("hb"))).as("hm"))
      .collect().map(_.getInt(0))
    assert(joined.forall(_ <= 4))
  }

  test("t10 chunking: stride grid covers every token; windows truncate only at doc end") {
    val n = TextQueries.defs("t1_token_stats")(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ch = TextQueries.defs("t10_chunking")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val byDoc = ch.groupBy(_._1)
    assert(byDoc.keySet === n.filter(_._2 >= 1).keySet)
    byDoc.foreach { case (d, rows) =>
      val starts = rows.map(_._2).sorted
      assert(starts === (0 until n(d) by 24).toArray, s"doc $d start grid")
      rows.foreach { case (_, s, w) =>
        assert(w === math.min(32, n(d) - s), s"doc $d window at $s") }
      // exact coverage: the last window ends exactly at the doc end
      assert(rows.map(r => r._2 + r._3).max === n(d), s"doc $d coverage")
    }
  }

  test("g3 label propagation: two bridged cliques resolve to per-clique communities") {
    import spark.implicits._
    // cliques {1,2,3} and {10,11,12} joined by bridge 3-10; hand-simulated
    // synchronous rounds (mode vote, ties to smallest label):
    //   l1: 1->2, 2->1, 3->1, 10->3, 11->10, 12->10
    //   l2: 1->1, 2->1, 3->1, 10->10, 11->3, 12->3
    //   l3: clique one all 1; clique two all 3
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L),
      (11L, 12L), (3L, 10L)).toDF("src", "dst")
    val out = GraphQueries.lpaOf(graft.ccf.CCF.bidirect(e), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
  }

  test("g3 lpaUntilStable: converges to the fixed-round labels and stops") {
    import spark.implicits._
    // same bridged-clique fixture as above: labels stabilize after round 3,
    // so the observed changed-count hits 0 on round 4 and the loop ends
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L),
      (11L, 12L), (3L, 10L))
    val e = pairs.toDF("src", "dst")
    val r = GraphQueries.lpaUntilStable(graft.ccf.CCF.bidirect(e))
    assert(r.converged)
    assert(r.iterations === 4) // 3 changing rounds + the zero-change confirm
    val out = r.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
    // and the production form agrees with the gated fixed-round def
    val fixed = GraphQueries.lpaOf(graft.ccf.CCF.bidirect(e), 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(out === fixed)
    // at a zero budget, with Spark's own size-based broadcast off, every
    // label join shuffles: the same labels in the same rounds
    val shuffled = spark.newSession()
    shuffled.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    shuffled.conf.set(graft.Checkpoints.BroadcastBudgetKey, "0")
    val r0 = GraphQueries.lpaUntilStable(graft.ccf.CCF.bidirect(
      shuffled.createDataFrame(pairs).toDF("src", "dst")))
    assert(r0.converged)
    assert(r0.iterations === r.iterations)
    assert(r0.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap === out)
  }

  test("t11 subword stats: BPE-ish splitting on planted mixed text") {
    import spark.implicits._
    // "abc de12 fg,hi" pre-tokenizes to abc | " de" | 12 | " fg" | , | hi
    // (letter/digit/punct runs, space attached to the following token);
    // 3 whitespace tokens -> fertility 2.0. Second doc: repeated subwords
    // collapse in the distinct count; digits split from letters.
    val docs = Seq((0L, "abc de12 fg,hi"), (1L, "x1x1 x1")).toDF("doc_id", "text")
    val out = TextQueries.subwordStatsOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(out(0L) === ((6, 6, 2.0)))
    // "x1x1 x1" -> x | 1 | x | 1 | " x" | 1 = 6 subwords, distinct {x, 1, " x"} = 3
    assert(out(1L) === ((6, 3, 3.0)))
    // and the corpus run is non-degenerate: counts positive, gate corpus
    // fertility exactly 1.0 (pure word tokens — documents the calibration)
    val corpus = TextQueries.defs("t11_subword_stats")(spark, sf()).collect()
    assert(corpus.nonEmpty && corpus.forall(_.getInt(1) > 0))
    assert(corpus.forall(_.getDouble(3) == 1.0))
  }

  test("d10 semantic dedup: verdict per vector; removals = higher-(ccos,id) member of same-cell >=T pairs") {
    val out = DedupQueries.defs("d10_semantic_dedup")(spark, sf("sf0.01")).collect()
    val nVec = graft.sources.Tables.embeddings(spark, sf("sf0.01")).count()
    assert(out.length.toLong === nVec)
    val cid = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccos = out.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val removed = out.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    // rebuild the expected removal set from first principles: d5's exact
    // >=0.4 pairs restricted to same trained cell, keep rule = drop the
    // higher-(centroid-cos, id) member
    val expect = DedupQueries.defs("d5_embedding_neardup")(spark, sf("sf0.01"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => cid(a) == cid(b) }
      .map { case (a, b) =>
        if (ccos(a) > ccos(b) || (ccos(a) == ccos(b) && a > b)) a else b }
      .toSet
    assert(removed === expect)
    assert(removed.nonEmpty) // the planted near-dups share a cell at sf0.01
  }

  test("d11 semantic clusters: CCF over d7 pairs == driver union-find; reps have no row") {
    val pairs = DedupQueries.defs("d7_embedding_neardup_lsh")(spark, sf("sf0.01"))
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // first-principles oracle: path-compressed union-find, min-id labels
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expect = nodes.map(n => n -> find(n)).filter { case (n, r) => n != r }.toMap
    val out = DedupQueries.defs("d11_semantic_clusters")(spark, sf("sf0.01"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === expect)
    // representative-has-no-row: no key maps to itself, reps appear only as values
    assert(out.forall { case (n, r) => n != r && !out.contains(r) })
  }

  test("e11 rate anomaly: planted burst flagged, steady baseline quiet, empty trail unflaggable") {
    import spark.implicits._
    def tstamp(h: Int, i: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(h * 3600L + i * 60L))
    // type "a": 25 steady hours at 4 events/hour, then a 20-event burst hour
    val rows = (for { h <- 0 until 25; i <- 0 until 4 } yield ("a", tstamp(h, i))) ++
      (0 until 20).map(i => ("a", tstamp(25, i)))
    val out = EventQueries.rateAnomalyOf(rows.toDF("event_type", "ts")).collect()
      .map(r => (r.getTimestamp(1).toInstant.getEpochSecond -
          java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond) / 3600 ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4))))
      .toMap
    assert(out.size === 26)
    assert(out(25) === ((20L, Some(4.0), true)), "burst hour must be flagged")
    assert(out(0) === ((4L, None, false)), "hour 0 has no trail — unflaggable")
    for (h <- 1 until 25)
      assert(out(h) === ((4L, Some(4.0), false)), s"steady hour $h must stay quiet")
  }

  test("e11 rate anomaly: the trail is wall-clock, not last-24-present-hours (ADVICE r11)") {
    import spark.implicits._
    def tstamp(h: Int, i: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(h * 3600L + i * 60L))
    // type "b": 4 events/hour for hours 0..9, then SILENCE, then a 30-event
    // hour at h=40 (31 h after the last active hour). A ROWS frame would
    // average the stale hours 0..9 and flag it; the wall-clock RANGE frame
    // finds nothing in (h=16..39] -> empty trail -> unflaggable.
    val gap = (for { h <- 0 until 10; i <- 0 until 4 } yield ("b", tstamp(h, i))) ++
      (0 until 30).map(i => ("b", tstamp(40, i)))
    // type "c": steady 2/hour for hours 0..5, quiet 6..11, burst at h=12:
    // the wall-clock trail still sees hours 0..5 (within 24 h) -> avg 2.0,
    // burst 20 > 2×2.0 -> flagged (a PARTIAL gap must not disable the flag)
    val partial = (for { h <- 0 until 6; i <- 0 until 2 } yield ("c", tstamp(h, i))) ++
      (0 until 20).map(i => ("c", tstamp(12, i)))
    val out = EventQueries.rateAnomalyOf((gap ++ partial).toDF("event_type", "ts")).collect()
      .map(r => (r.getString(0),
        (r.getTimestamp(1).toInstant.getEpochSecond -
          java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond) / 3600) ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4))))
      .toMap
    assert(out(("b", 40L)) === ((30L, None, false)),
      "post-silence burst has an empty wall-clock trail — must be unflaggable, not compared to stale hours")
    assert(out(("c", 12L)) === ((20L, Some(2.0), true)),
      "burst after a partial gap still flags against the in-range hours")
  }

  test("t12 LM quality gate: exact per-lang cut partitions the t9 universe") {
    import org.apache.spark.sql.functions._
    val kept = TextQueries.defs("t12_lm_quality")(spark, sf()).collect()
    assert(kept.nonEmpty)
    val p30 = kept.map(r => r.getString(1) -> r.getDouble(4)).toMap
    // universe = every t9-scored doc; the gate must keep EXACTLY the
    // >= p30 rows of each language, drop the rest
    val uni = TextQueries.defs("t9_bigram_lm")(spark, sf())
      .join(graft.sources.Tables.documents(spark, sf()).select(col("doc_id"), col("lang")), "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(3), r.getDouble(2)))
    val keptIds = kept.map(_.getLong(0)).toSet
    for ((id, lang, p) <- uni)
      assert(keptIds.contains(id) === (p >= p30(lang)), s"doc $id lang $lang p=$p cut=${p30(lang)}")
    // a real cut: something dropped per head language, most kept overall
    assert(uni.length > keptIds.size)
    assert(keptIds.size.toDouble / uni.length > 0.6)
  }

  test("d10 hot-cell guard: planted hot cell bounds candidates, exact dups never missed") {
    import spark.implicits._
    // 64 vectors in ONE cell — a cell 8x past a cap of 8. Background is
    // seeded Gaussian (no near-dups at 0.999); two planted exact-dup pairs
    // must survive the sub-split (identical vector -> identical LSH bucket
    // -> identical sub-cell, the guard's recall floor).
    val rnd = new scala.util.Random(7)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    val twin1 = vec(); val twin2 = vec()
    val rows = (0 until 60).map(i => (0L, 100L + i, vec())) ++
      Seq((0L, 500L, twin1), (0L, 501L, twin1), (0L, 600L, twin2), (0L, 601L, twin2))
    val cc = rows.toDF("cid", "vec_id", "v")
      .withColumn("nrm", sqrt(graft.functions.VectorFunctions.dot(col("v"), col("v"))))
      .withColumn("ccos", col("vec_id") / 1000.0)
    val full = DedupQueries.withinCellCandidates(cc, Int.MaxValue).count()
    val guarded = DedupQueries.withinCellCandidates(cc, 8).count()
    assert(full === 64L * 63 / 2)
    // nsub = ceil(64/8) = 8 sub-buckets -> candidate work collapses toward
    // pop x cap; assert well under half the quadratic count
    assert(guarded < full / 2, s"guard did not bound candidates: $guarded of $full")
    assert(guarded >= 2, "planted twin pairs must remain candidates")
    // both planted pairs verified under the guard; keep rule drops the
    // higher-(ccos, id) member (ccos here rises with id)
    val verd = DedupQueries.semanticDedupVerdicts(cc, 0.999, 8).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(verd(501L) && !verd(500L))
    assert(verd(601L) && !verd(600L))
    // and the guarded verdicts equal the unguarded formulation here (only
    // the exact twins sit above 0.999, and twins never cross sub-cells)
    val unguarded = DedupQueries.semanticDedupVerdicts(cc, 0.999, Int.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(verd === unguarded)
  }
}
