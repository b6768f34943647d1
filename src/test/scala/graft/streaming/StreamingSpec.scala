package graft.streaming

import graft.SparkSpec
import graft.queries.EventQueries
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Structured Streaming pipelines vs their batch twins: identical logical
  * shape, so the batch EventQueries results are the oracle. */
class StreamingSpec extends SparkSpec {

  private def sorted(rows: Array[Row]): Seq[Seq[String]] =
    rows.map(_.toSeq.map(String.valueOf)).map(_.toList).toSeq.sortBy(_.mkString("|"))

  test("late data below the watermark is dropped, closed windows emit exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:${min}%02d:00")
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = input.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .count()
      .select(col("w.start").as("ws"), col("event_type"), col("count"))
      .writeStream.format("memory").queryName("late_spec")
      .outputMode("append").start()
    try {
      // batch 1: two rows in [10:00,10:10) + one at 10:21 that will advance
      // the watermark to 10:11, closing the first window
      input.addData((t(0), "a"), (t(5), "a"), (t(21), "a"))
      q.processAllAvailable()
      // batch 2: a LATE row for the closed window (10:02 < watermark 10:11)
      // — must be dropped, not re-open or re-emit the window
      input.addData((t(2), "a"))
      q.processAllAvailable()
      // batch 3: advance the watermark past [10:20,10:30) to flush it
      input.addData((t(45), "a"))
      q.processAllAvailable()
      val rows = spark.table("late_spec")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      val first = rows.filter(_._1 == t(0))
      assert(first === Array((t(0), "a", 2L)), // late row NOT counted, one emission
        rows.mkString(", "))
      assert(rows.filter(_._1 == t(20)) === Array((t(20), "a", 1L)), rows.mkString(", "))
    } finally q.stop()
  }

  test("streaming hourly windowed agg equals batch e1_hourly_agg") {
    val streamed = Streams.runHourlyAggOnce(spark, sf(), "hourly_agg_spec")
    val batch = EventQueries.defs("e1_hourly_agg")(spark, sf())
    assert(sorted(streamed.collect()) === sorted(batch.collect()))
  }

  test("streaming hopping windowed agg equals batch e8_hopping_window") {
    val streamed = Streams.runHoppingAggOnce(spark, sf(), "hopping_agg_spec")
    val batch = EventQueries.defs("e8_hopping_window")(spark, sf())
    assert(sorted(streamed.collect()) === sorted(batch.collect()))
  }

  test("streaming dedup on a doubled stream returns exactly the distinct events") {
    val deduped = Streams.runDedupOnce(spark, sf(), "dedup_spec")
    val batch = graft.sources.Tables.events(spark, sf())
    assert(deduped.count() === batch.count())
    assert(deduped.select("event_id").distinct().count() === batch.count())
  }

  test("stream-stream join equals the batch time-bounded join") {
    val streamed = Streams.runStreamJoinOnce(spark, sf(), "pcjoin_spec")
    val ev = graft.sources.Tables.events(spark, sf())
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_event"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_event"))
    val batch = p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_user").as("user_id"), col("p_event"), col("c_event"), col("p_ts"), col("c_ts"))
    assert(streamed.count() > 0)
    assert(sorted(streamed.collect()) === sorted(batch.collect()))
  }

  test("streaming sessionization == batch closed-by-event sessions + watermark-timed-out finals") {
    val streamed = Streams.runSessionizeOnce(spark, sf(), "sessions_spec")
    // a session emits when (a) a later event of the user opens the next one
    // (closed-by-event — every non-max session_id of the batch), or (b) —
    // r15 state eviction — the watermark (max event time minus the 2 h
    // delay) passes its 30-min gap deadline: the user's FINAL batch session
    // also emits iff its end is older than max_ts - 2 h - 30 min (strict,
    // the FlatMapGroupsWithStateExec `timeout < watermark` rule, ms math).
    // Final sessions younger than that remain open in state.
    val batch = EventQueries.defs("e2_sessions")(spark, sf())
    val maxTsMs = graft.sources.Tables.events(spark, sf())
      .agg(max(col("ts"))).head.getTimestamp(0).getTime
    val watermarkMs = maxTsMs - 2L * 3600 * 1000
    val w = Window.partitionBy("user_id")
    val flagged = batch.withColumn("max_sid", max("session_id").over(w))
    val timeoutFires =
      (unix_millis(col("session_end")) + 30L * 60 * 1000) < watermarkMs
    val expected = flagged
      .where(col("session_id") =!= col("max_sid") || timeoutFires)
      .drop("max_sid")
    assert(streamed.count() > 0)
    // all three populations must actually occur on the corpus: closed by
    // event, closed by timeout (the r15 eviction path), still open
    assert(flagged.where(col("session_id") === col("max_sid") && timeoutFires).count() > 0,
      "the timeout-eviction path must fire on the corpus")
    assert(batch.count() > expected.count(),
      "some final sessions must remain open (inside the horizon)")
    assert(sorted(streamed.collect()) === sorted(expected.collect()))
  }

  test("streaming funnel equals batch e10_funnel exactly") {
    // O(1)-state one-pass chain == batch 3-stage min-chain (single-trigger
    // replay: per-user order holds, so the equality is exact incl. strictness)
    val streamed = Streams.runFunnelOnce(spark, sf(), "funnel_spec")
    val batch = EventQueries.defs("e10_funnel")(spark, sf())
    assert(streamed.count() > 0)
    assert(sorted(streamed.collect()) === sorted(batch.collect()))
    // the corpus converts every funnel-entering user (verified against the
    // oracle), so every journey settled via the CONVERSION-eviction path —
    // each converted user's final emission is exactly one (3, is_final) row
    val finals = spark.table("funnel_spec")
      .where(col("is_final") && col("stage_reached") === 3)
      .select("user_id").distinct()
    assert(finals.count() === batch.where(col("stage_reached") === 3).count())
  }

  test("funnel eviction: converted / timed-out / still-open populations, state freed live") {
    // The VERDICT r15 #1 contract, mirroring the sessionize template: a
    // journey settles by CONVERSION (purchase → emit 3 + evict now) or by
    // TIMEOUT (no stage advance within the horizon once the watermark
    // passes it → emit final stage + evict); journeys inside the horizon
    // stay open in state. All three populations planted:
    //  - user 100 converts (view→click→purchase) → one (3, final) row;
    //  - user 200 reaches stage 2 then goes silent for > horizon → the
    //    update-mode (2, open) row AND the timeout's (2, final) row;
    //  - user 300 views inside the horizon → (1, open) only, state kept;
    //  - user 400 clicks but never views → NO state, NO rows (a funnel
    //    starts at a view; nothing to time out).
    import org.apache.spark.sql.streaming.OutputMode
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel-evict").toString
    val base = 1704067200L * 1000000L // 2024-01-01 00:00:00 UTC in µs
    val H = Streams.FunnelHorizonUs
    val hr = 3600L * 1000000L
    val tlate = base + H + 3 * hr // watermark lands at base + H + 1h
    val rows = Seq(
      (1L, base, 100L, "view"), (2L, base + 60000000L, 100L, "click"),
      (3L, base + 120000000L, 100L, "purchase"),
      (4L, base, 200L, "view"), (5L, base + 60000000L, 200L, "click"),
      (6L, tlate - hr / 2, 300L, "view"),
      (7L, tlate, 400L, "click"))
    import spark.implicits._
    rows.toDF("event_id", "us", "user_id", "event_type")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"), col("user_id"),
        col("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$dir/_stage")
    val part = new java.io.File(s"$dir/_stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))

    val q = Streams.runToEnd(
      Streams.funnelStream(Streams.eventStream(spark, dir).as[Streams.Event])
        .writeStream.format("memory").queryName("funnel_evict_spec")
        .outputMode(OutputMode.Update()))
    val raw = spark.table("funnel_evict_spec")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(raw(100L) === Set((3, true)), "conversion settles in-batch: one final row only")
    assert(raw(200L) === Set((2, false), (2, true)),
      "abandoned journey: the open emission, then the timeout's final")
    assert(raw(300L) === Set((1, false)), "in-horizon journey stays open — no final")
    assert(!raw.contains(400L), "no view → no funnel, no state")
    // live-eviction evidence: after the timeout batch, state holds EXACTLY
    // the one still-open journey (user 300) — converted and timed-out rows
    // are gone from the store, not just re-labeled in the output
    val lastState = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).get.stateOperators(0)
    assert(lastState.numRowsTotal === 1L,
      s"state must hold only the open journey, got ${lastState.numRowsTotal}")
    // and the settled populations agree with batch e10 on the same replay
    val batch = EventQueries.defs("e10_funnel")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(batch === Map(100L -> 3, 200L -> 2, 300L -> 1))
    val upsert = Streams.runFunnelOnce(spark, dir, "funnel_evict_upsert")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(upsert === batch)
  }

  test("streaming rate anomaly equals batch e11 minus each type's open final hour") {
    // the stream emits a verdict when an hour CLOSES (a later event for the
    // type arrives), so each type's last hour stays open in state — exactly
    // the sessionize open-session contract. Everything emitted must match
    // the batch wall-clock-trail verdicts bit for bit.
    val streamed = Streams.runRateAnomalyOnce(spark, sf(), "rate_anomaly_spec")
    val batch = EventQueries.defs("e11_rate_anomaly")(spark, sf())
    val closed = batch
      .withColumn("mx", max(col("hour")).over(Window.partitionBy("event_type")))
      .where(col("hour") < col("mx")).drop("mx")
    assert(streamed.count() > 0)
    assert(sorted(streamed.collect()) === sorted(closed.collect()))
  }

  test("rate-anomaly state stays monotone under pathologically late events") {
    // pathological replay: after the stream has advanced far ahead, a batch
    // of ancient events (weeks older than the trail horizon) arrives. The
    // kernel must DROP them — not fold them into state for the next prune
    // to clean up — so state never exceeds the horizon and no bogus late
    // verdict is emitted.
    val trailH = EventQueries.TrailHours
    def ev(id: Long, hour: Long): Streams.Event =
      Streams.Event(id, new java.sql.Timestamp(hour * 3600L * 1000L), 1L, "t", 0.0, "{}")
    // trigger 1: in-order hours 1000..1003 — three closes, hour 1003 open
    val (st1, out1) = Streams.rateAnomalyKernel("t",
      (0 to 3).map(i => ev(i, 1000L + i)),
      Streams.RateState(Map.empty, Long.MinValue))
    assert(st1.openHour === 1003L)
    assert(out1.map(_.hour.getTime / 3600000L) === Seq(1000L, 1001L, 1002L))
    // trigger 2: ancient events (hour 1 and hour 900, both < openHour-trailH)
    // plus one in-horizon late event for the already-emitted hour 1002
    val (st2, out2) = Streams.rateAnomalyKernel("t",
      Seq(ev(10, 1L), ev(11, 900L), ev(12, 1002L)), st1)
    assert(out2.isEmpty, "late events must not emit verdicts")
    assert(!st2.counts.contains(1L) && !st2.counts.contains(900L),
      s"ancient events must be dropped, state=${st2.counts}")
    assert(st2.counts(1002L) === 2L, "in-horizon late event refines future trails")
    assert(st2.counts.keySet.forall(h => h >= st2.openHour - trailH),
      s"state must stay within the trail horizon, state=${st2.counts}")
    // trigger 3: the stream moves on — the refined 1002 count feeds the
    // new trail, and state stays bounded
    val (st3, out3) = Streams.rateAnomalyKernel("t", Seq(ev(13, 1004L)), st2)
    assert(out3.map(_.n) === Seq(1L)) // verdict for hour 1003
    assert(st3.counts.keySet.forall(h => h >= st3.openHour - trailH))
    assert(st3.counts.size <= trailH + 1)
  }

  test("rate-anomaly late-UNSEEN hour: no verdict ever, but it refines the next trail") {
    // the emit-or-watermark contract's chosen half, asserted explicitly
    // (VERDICT r13 #6): an hour FIRST SEEN only after a later hour opened
    // never emits its own (necessarily non-bit-identical) late verdict —
    // but its count DOES feed every future verdict's wall-clock trail.
    def ev(id: Long, hour: Long): Streams.Event =
      Streams.Event(id, new java.sql.Timestamp(hour * 3600L * 1000L), 1L, "t", 0.0, "{}")
    // trigger 1: hours 1000..1003 in order — hour 990 passes with NO events
    val (st1, out1) = Streams.rateAnomalyKernel("t",
      (0 to 3).map(i => ev(i, 1000L + i)),
      Streams.RateState(Map.empty, Long.MinValue))
    assert(out1.map(_.hour.getTime / 3600000L) === Seq(1000L, 1001L, 1002L))
    // trigger 2: three late events for the UNSEEN in-horizon hour 990
    // (990 >= 1003 - TrailHours = 979, absent from state)
    val (st2, out2) = Streams.rateAnomalyKernel("t",
      (10L to 12L).map(ev(_, 990L)), st1)
    assert(out2.isEmpty, "a late-unseen hour must not emit a late verdict")
    assert(st2.counts(990L) === 3L)
    // trigger 3: hour 1004 closes hour 1003 — its trail over present hours
    // in [979, 1003) is {990->3, 1000->1, 1001->1, 1002->1} = avg 1.5; had
    // the late-unseen hour been ignored it would be 1.0
    val (_, out3) = Streams.rateAnomalyKernel("t", Seq(ev(13, 1004L)), st2)
    assert(out3.map(_.hour.getTime / 3600000L) === Seq(1003L))
    assert(out3.head.trail_avg === Some(1.5))
    // and the unseen hour never appears among emitted verdict hours
    assert(!(out1 ++ out2 ++ out3).exists(_.hour.getTime / 3600000L == 990L))
  }

  test("rate-anomaly end to end: watermark-bound disorder, late-unseen contract holds") {
    // the same pathological replay through the REAL streaming operator with
    // the pre-bound horizon watermark runRateAnomalyOnce uses: the engine
    // bounds disorder to the trail horizon; whatever straggles through is
    // handled by the kernel's no-verdict/drop rules. Emitted verdict hours
    // and the refined trail must match the kernel-level contract exactly.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, hour: Long): Streams.Event =
      Streams.Event(id, new java.sql.Timestamp(hour * 3600L * 1000L), 1L, "t", 0.0, "{}")
    val trailH = EventQueries.TrailHours
    val input = MemoryStream[Streams.Event]
    val q = Streams.rateAnomalyStream(
        input.toDS().withWatermark("ts", s"$trailH hours").as[Streams.Event])
      .writeStream.format("memory").queryName("rate_anomaly_wm_spec")
      .outputMode("append").start()
    try {
      input.addData((0 to 3).map(i => ev(i, 1000L + i)): _*)
      q.processAllAvailable()
      // late batch: 3 events for the unseen in-horizon hour 990, plus one
      // ancient event (hour 100, far below the watermark = 1003h - 24h)
      input.addData(ev(10, 990L), ev(11, 990L), ev(12, 990L), ev(13, 100L))
      q.processAllAvailable()
      input.addData(ev(14, 1004L))
      q.processAllAvailable()
      val rows = spark.table("rate_anomaly_wm_spec")
        .select(col("hour").cast("long") / 3600, col("n"), col("trail_avg"))
        .collect().map(r => (r.getDouble(0).toLong, r.getLong(1), Option(r.get(2))))
        .sortBy(_._1)
      assert(rows.map(_._1) === Seq(1000L, 1001L, 1002L, 1003L),
        s"exactly the closed hours emit, never 990 or 100: $rows")
      // hour 1003's trail saw the late-unseen 990 count (avg 1.5, not 1.0)
      assert(rows.last === ((1003L, 1L, Some(1.5))))
    } finally q.stop()
  }

  test("stream-static enrichment equals the batch dimension join") {
    val streamed = Streams.runEnrichOnce(spark, sf(), "enrich_spec")
    val cust = graft.sources.Tables.customer(spark, sf())
      .join(graft.sources.Tables.nation(spark, sf()),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"),
        col("n_name").as("c_nation"))
    val batch = graft.sources.Tables.events(spark, sf())
      .join(cust, Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("c_mktsegment"), col("c_nation"))
    assert(streamed.count() > 0)
    assert(sorted(streamed.collect()) === sorted(batch.collect()))
  }

  test("streaming hash-sample equals batch c1_hash_sample exactly") {
    // stateless determinism: the stream selects the SAME rows as the batch
    // run — the property rand()-sampling cannot give under replays
    val streamed = Streams.runSampleOnce(spark, sf(), "sample_spec")
    val batch = graft.queries.CurationQueries.defs("c1_hash_sample")(spark, sf())
    assert(streamed.count() > 0)
    assert(sorted(streamed.collect()) === sorted(batch.collect()))
  }

  test("streaming heavy hitters: per-window superset of batch t8's bar, O(windows) state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:${min}%02d:00")
    val k = 5
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streams.heavyHittersStream(input.toDF().toDF("ts", "text"),
        k = k, windowDur = "10 minutes", watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("hh_spec")
      .outputMode("append").start()
    val fed = scala.collection.mutable.ArrayBuffer.empty[(java.sql.Timestamp, String)]
    def feed(rows: (java.sql.Timestamp, String)*): Unit = {
      fed ++= rows; input.addData(rows: _*); q.processAllAvailable()
    }
    try {
      // window 1 [10:00,10:10): 'hh' x15 of 30 tokens (> 30/6 = 5, a true
      // heavy hitter), 15 singletons — more distinct words than k
      feed(t(1) -> Seq.fill(10)("hh").mkString(" "),
           t(3) -> ("hh hh hh hh hh w1 w2 w3 w4 w5"))
      feed(t(7) -> "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10",
      // window 2 [10:10,10:20): x(3) and y(2) > 6/6 = 1; z is not. The
      // 10:12 arrival also advances the watermark to 10:11, closing w1
           t(12) -> "x x x y y z")
      // close window 2 (watermark 10:30); [10:30,10:40) stays open
      feed(t(31) -> "zz")
      val got = spark.table("hh_spec").collect()
        .map(r => (r.getTimestamp(0), (r.getLong(2), r.getString(4), r.getLong(5))))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      assert(got.keySet === Set(t(0), t(10)), got.keySet)
      // the batch-t8 contract per closed window: exact total, candidates a
      // SUPERSET of the true heavy hitters at the n/(k+1) bar, MG bounds
      for ((ws, we) <- Seq(t(0) -> t(10), t(10) -> t(20))) {
        val exact = fed.filter(r => !r._1.before(ws) && r._1.before(we))
          .flatMap(_._2.split(" ")).groupBy(identity).view.mapValues(_.size.toLong).toMap
        val total = exact.values.sum
        val heavy = exact.filter(_._2 > total / (k + 1.0)).keySet
        val rows = got(ws)
        assert(rows.forall(_._1 == total), s"$ws: n_total must be exact: $rows")
        val cands = rows.map(r => r._2 -> r._3).toMap
        assert(cands.size <= k, s"$ws: ${cands.size} candidates > k")
        assert(heavy.subsetOf(cands.keySet), s"$ws: $heavy not in $cands")
        for ((w, est) <- cands) {
          assert(est <= exact(w) && est >= exact(w) - total / (k + 1.0), s"$ws/$w")
        }
      }
      assert(got(t(0)).exists(_._2 == "hh") && got(t(10)).map(_._2).toSet.contains("x"))
      // O(windows) state, not O(vocabulary): >20 distinct words flowed, at
      // most 2 windows were ever open, and the state-store row count is the
      // window count (each row holding one <= k-counter MG buffer)
      val stateMax = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal)).max
      assert(stateMax <= 3, s"state rows $stateMax must track open windows, not vocab")
    } finally q.stop()
  }

  test("band-key columns are byte-identical to the persisted index's bkey format") {
    // the streaming admission probe joins the SAME index a batch ingest
    // appends to — the row-local bandKeyCols and lshBandIndex's exploded
    // bkey must never drift apart
    val D = graft.queries.DedupQueries
    val docs = graft.sources.Tables.documents(spark, sf())
    val viaIndex = D.lshBandIndex(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val sh = D.shingleSetsOf(docs)
      .select(col("doc_id"), col("sh"),
        graft.text.TextFunctions.minhashSignature(col("sh")).as("sig"))
    val viaCols = sh.select(col("doc_id"),
        explode(array(D.bandKeyCols(col("sig"), col("sh")): _*)).as("bkey"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaCols === viaIndex)
  }

  test("streaming admission == the batch corpus-dup rule, verdicts per arrival") {
    // corpus = even doc_ids (static), arrivals = the full documents stream;
    // expected rejections = exactly incrementalDedup's dupVsOld rule: a
    // band collision with the corpus that VERIFIES at Jaccard >= T. Corpus
    // members streaming past their own index entry are exact self-dups
    // (Jaccard 1) — the stream must reject them, which doubles as the
    // self-collision case
    val D = graft.queries.DedupQueries
    val docs = graft.sources.Tables.documents(spark, sf())
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val streamed = Streams.runAdmissionOnce(spark, sf(), corpus, "admission_spec")
    assert(streamed.count() === docs.count()) // one verdict per arrival
    val got = streamed.collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    // batch oracle: band-collision candidates, exact-Jaccard verify
    val nb = D.lshBandIndex(docs)
    val ob = D.lshBandIndex(corpus)
    val sh = D.shingleSetsOf(docs)
    val expected = nb.as("n").join(ob.as("o"), col("n.bkey") === col("o.bkey"))
      .select(col("n.doc_id").as("doc_id"), col("o.doc_id").as("cid")).distinct()
      .join(sh.select(col("doc_id"), col("sh").as("sn")), "doc_id")
      .join(sh.select(col("doc_id").as("cid"), col("sh").as("so")), "cid")
      .where(size(array_intersect(col("sn"), col("so"))).cast("double") /
        (size(col("sn")) + size(col("so")) - size(array_intersect(col("sn"), col("so"))))
        >= D.JaccardT)
      .groupBy("doc_id").agg(countDistinct("cid").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, (n, adm)) <- got) {
      assert(n.toLong === expected.getOrElse(id, 0L), s"doc $id")
      assert(adm === (n == 0), s"doc $id")
    }
    // every corpus member is its own exact dup — all rejected
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0))
    assert(corpusIds.forall(id => !got(id)._2))
    // and real attrition both ways on the corpus data
    assert(got.values.count(_._2) > 0)
  }

  test("admission over an APPENDED postings artifact: re-created stream sees new corpus, duplicate bkeys stay one-verdict-per-arrival") {
    // the corpus-growth freshness contract (VERDICT r13 missing #4): the
    // postings map is maintained by per-version APPENDS, so (a) a stream
    // created after an append must reject copies of the newly indexed
    // content, and (b) the artifact then holds DUPLICATE bkey rows across
    // versions (here: version 2 re-indexes doc("c")'s text under a new id)
    // — the in-function re-group must flatten them into ONE verdict row
    // per arrival with the dup count summed across versions (ADVICE r13).
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def doc(p: String) = (0 until 12).map(i => s"$p$i").mkString(" ")
    val posts = java.nio.file.Files.createTempDirectory("postings").toString +
      "/postings.parquet"
    def runOnce(name: String): Map[Long, (Int, Boolean)] = {
      val input = MemoryStream[(Long, String)]
      input.addData((20L, doc("c")), (21L, doc("x")), (22L, doc("f")))
      Streams.toMemory(Streams.admissionStreamAgainst(
          input.toDF().toDF("doc_id", "text"), spark.read.parquet(posts)), name)
        .collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    }
    // version 1: only doc("c") content is indexed
    Streams.admissionPostings(Seq((1L, doc("c"))).toDF("doc_id", "text"))
      .write.parquet(posts)
    assert(runOnce("adm_v1") ===
      Map(20L -> (1, false), 21L -> (0, true), 22L -> (0, true)))
    // version 2 APPENDED: doc("x") newly indexed + doc("c") re-indexed
    // under a new id — every bkey of the latter now appears twice
    Streams.admissionPostings(
        Seq((2L, doc("c")), (10L, doc("x"))).toDF("doc_id", "text"))
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(posts)
    assert(runOnce("adm_v2") ===
      Map(20L -> (2, false), 21L -> (1, false), 22L -> (0, true)))
  }

  test("admission over VERSIONED postings: manifest-resolved snapshot, torn manifest skipped") {
    // the object-store-safe postings artifact (VERDICT r14 missing #2): the
    // same corpus-growth scenario as the append test, but the stream loads
    // through the Manifests segment protocol — whole published versions
    // only, so a mid-append crash or in-flight writer can never tear the
    // probe side of an always-on stream.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.Manifests
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def doc(p: String) = (0 until 12).map(i => s"$p$i").mkString(" ")
    val root = java.nio.file.Files.createTempDirectory("postings-v").toString
    def runOnce(name: String): Map[Long, (Int, Boolean)] = {
      val input = MemoryStream[(Long, String)]
      input.addData((20L, doc("c")), (21L, doc("x")), (22L, doc("f")))
      Streams.toMemory(Streams.admissionStreamAgainst(
          input.toDF().toDF("doc_id", "text"), Manifests.readSegments(spark, root)), name)
        .collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    }
    // version 1: only doc("c") content is indexed
    Manifests.appendSegment(
      Streams.admissionPostings(Seq((1L, doc("c"))).toDF("doc_id", "text")), root)
    assert(runOnce("admv_v1") ===
      Map(20L -> (1, false), 21L -> (0, true), 22L -> (0, true)))
    // version 2 published: doc("x") newly indexed + doc("c") re-indexed
    // under a new id — duplicate bkeys across segments, re-grouped to one
    // verdict per arrival with the dup count summed (the append contract)
    Manifests.appendSegment(
      Streams.admissionPostings(
        Seq((2L, doc("c")), (10L, doc("x"))).toDF("doc_id", "text")), root)
    // a torn manifest ABOVE the live one (crashed publisher) must not hide
    // or corrupt the newest complete version
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(root, f"MANIFEST-${7L}%020d"), "seg-torn")
    assert(runOnce("admv_v2") ===
      Map(20L -> (2, false), 21L -> (1, false), 22L -> (0, true)))
  }

  test("streaming substring probe == batch d16 cross pairs; one emission per span, stateless") {
    // the substring-dedup modality's online counterpart (VERDICT r14
    // missing #3): arrivals probed against the persisted corpus anchor
    // postings, exact LCP extension per hit, and the row-local
    // first-in-span-anchor rule standing in for the batch run's
    // island-collapse + distinct — so a 600-token shared span emits ONE
    // row, not one per ~span/stride anchors, with zero streaming state.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def w(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val A = w("aa", 600); val B = w("bb", 40)
    val corpus = Seq((1L, A), (2L, B + " " + w("q", 20))).toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, "z0 z1 z2 " + A + " y0"),                    // one 600-token span vs doc 1
      (11L, w("nv", 30)),                                // novel → no rows
      (12L, w("m", 5) + " " + w("aa", 100) + " " + w("mm", 5) + " " + B), // vs BOTH docs
      (13L, "too short"))                                // < SpanLen tokens → no rows
    val posts = graft.Checkpoints.eager(Streams.substringPostings(corpus))
    val store = graft.Checkpoints.eager(Streams.substringTokenStore(corpus))
    val input = MemoryStream[(Long, String)]
    input.addData(arrivals: _*)
    val got = Streams.toMemory(Streams.substringHitStream(
        input.toDF().toDF("doc_id", "text"), posts, store), "substr_hits").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // batch twin: d16 over corpus ∪ arrivals, restricted to (corpus,
    // arrival) pairs — arrival-arrival spans (10 and 12 share aa0..aa99)
    // settle in the nightly batch, corpus ids < arrival ids so doc_a is
    // always the corpus side here
    val union = corpus.unionByName(arrivals.toDF("doc_id", "text"))
    val corpusIds = Set(1L, 2L)
    val expected = graft.queries.DedupQueries.substringDedupSampledOf(union).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .collect { case (ca, ar, cpos, apos, len)
        if corpusIds(ca) && !corpusIds(ar) => (ar, ca, apos, cpos, len) }.toSet
    assert(got === expected)
    // the fixture exercised what it planted: the long span emitted ONCE,
    // doc 12 hit both corpus docs, the novel/short arrivals emitted nothing
    assert(got.count { case (a, c, _, _, _) => a == 10L && c == 1L } === 1)
    assert(got.exists { case (a, c, _, _, len) => a == 12L && c == 1L && len == 100L })
    assert(got.exists { case (a, c, _, _, len) => a == 12L && c == 2L && len == 40L })
    assert(!got.exists { case (a, _, _, _, _) => a == 11L || a == 13L })
  }

  test("substring probe over VERSIONED artifacts: corpus growth visible, torn manifest skipped") {
    // the probe's persisted pair (anchor postings + token store) rides the
    // same Manifests protocol as the admission postings — whole published
    // versions only, tokens published before postings so a reader can
    // never resolve a posting whose cid the token store lacks
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def w(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val root = java.nio.file.Files.createTempDirectory("substr-v").toString
    def runOnce(name: String): Set[(Long, Long)] = {
      val (posts, toks) = Streams.substringArtifactsVersioned(spark, root)
      val input = MemoryStream[(Long, String)]
      input.addData((20L, w("aa", 40)), (21L, w("bb", 40)))
      Streams.toMemory(Streams.substringHitStream(
          input.toDF().toDF("doc_id", "text"), posts, toks), name)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // corpus v1: only the aa content exists
    Streams.publishSubstringArtifacts(Seq((1L, w("aa", 40))).toDF("doc_id", "text"), root)
    assert(runOnce("sub_v1") === Set((20L, 1L)))
    // corpus v2 appended: bb content — a re-created stream sees both; a
    // torn manifest above the live postings version must not break it
    Streams.publishSubstringArtifacts(Seq((2L, w("bb", 40))).toDF("doc_id", "text"), root)
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(root, "postings", f"MANIFEST-${7L}%020d"), "seg-torn")
    assert(runOnce("sub_v2") === Set((20L, 1L), (21L, 2L)))
    // a crash-between-appends + retry publishes the SAME rows twice; the
    // loader's read-side dedup must keep hits one-per-span (duplicate
    // token rows would otherwise multiply every hit row)
    Streams.publishSubstringArtifacts(Seq((2L, w("bb", 40))).toDF("doc_id", "text"), root)
    val hits = {
      val (posts, toks) = Streams.substringArtifactsVersioned(spark, root)
      val input = MemoryStream[(Long, String)]
      input.addData((30L, w("bb", 40)))
      Streams.toMemory(Streams.substringHitStream(
          input.toDF().toDF("doc_id", "text"), posts, toks), "sub_v3")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(hits.toSeq === Seq((30L, 2L)), s"duplicate publish must not multiply hits: ${hits.toSeq}")
  }

  test("streaming vector ingest equals the batch IVF cell assignment exactly") {
    // map-side literal argmax on the stream == broadcast-join argmax in batch
    // (same (cos, -cid) composite, bit-identical cosines)
    val cents = graft.queries.SimilarityQueries.trainCentroids(
      spark, sf(), graft.queries.SimilarityQueries.KMeansIters)
    val streamed = Streams.runVectorIngestOnce(
        spark, sf(), Streams.collectCentroids(cents), "vec_ingest_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch twin: the persisted index's posting lists carry the same
    // (vec_id, cid) assignment (IvfIndex.build -> assignCells)
    val tmp = java.nio.file.Files.createTempDirectory("vecingest").toString
    graft.queries.IvfIndex.build(spark, sf(), s"$tmp/idx")
    val batch = graft.queries.IvfIndex.cells(spark, s"$tmp/idx")
      .select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming vector near-dup probe == the d13 corpus-probe kernel exactly") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val S = graft.queries.SimilarityQueries
    val dot = graft.functions.VectorFunctions.dot _
    // persisted corpus: the even half of the embeddings, indexed under the
    // shared trained quantizer (the d13 fixture shape)
    val cents = S.trainCentroids(spark, sf(), S.KMeansIters)
    val corpus = graft.sources.Tables.embeddings(spark, sf())
      .where(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val posting = corpus
      .join(S.assignCells(corpus.withColumn(
        "nrm", sqrt(dot(col("v"), col("v")))), cents), "vec_id")
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select("cid", "vec_id", "v", "nrm")
    // arrivals: an exact dup of corpus vector 0 (cos 1.0 — must hit it at
    // rank of certainty) and its NEGATION (cos -1 to vec 0, far from all)
    val v0 = corpus.where(col("vec_id") === 0L)
      .collect().head.getSeq[Double](1)
    val arrivals = Seq(900001L -> v0, 900002L -> v0.map(-_))
    val input = MemoryStream[(Long, Seq[Double])]
    val q = Streams.vectorNearDupProbeStream(
        input.toDF().toDF("vec_id", "embedding"),
        Streams.collectCentroids(cents), posting, threshold = 0.95)
      .writeStream.format("memory").queryName("vec_probe_spec")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(arrivals.take(1)); q.processAllAvailable()
      input.addData(arrivals.drop(1)); q.processAllAvailable()
      assert(q.recentProgress.forall(_.stateOperators.isEmpty),
        "the probe is a stateless stream-static join")
    } finally q.stop()
    val streamed = spark.table("vec_probe_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch twin: the SAME kernel over the broadcast-join argmax assignment
    val bArr = arrivals.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val b = bArr.join(S.assignCells(bArr, cents), "vec_id")
      .select("cid", "vec_id", "v", "nrm")
    val batch = graft.queries.IvfIndex.corpusHitPairsOf(b, posting, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch)
    assert(streamed.exists(h => h._1 == 900001L && h._2 == 0L && h._3 > 0.999),
      s"the exact dup must hit corpus vector 0 at cos ~1: $streamed")
    assert(!streamed.exists(_._1 == 900002L), s"the negated vector must not hit: $streamed")
  }

  test("streaming chunking equals the batch t10 exactly") {
    // stateless per-row generate: the stream needs no watermark and its
    // output set is bit-identical to the batch chunker on the same files
    val streamed = Streams.runChunkingOnce(spark, sf(), "chunking_spec")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    val batch = graft.queries.TextQueries.defs("t10_chunking")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming media ingest equals the batch m7 feature/bucket frame exactly") {
    // stateless per-row codec + bucket assignment over arriving media —
    // shared code with batch m7's candidate side, so the streamed frame
    // (features, norms, LSH buckets) is bit-identical on the same files
    val docs = graft.sources.Tables.documents(spark, sf())
    val batch = graft.queries.MultimodalQueries.mediaFeatureBuckets(docs)
    val streamed = Streams.runMediaIngestOnce(spark, sf(), "media_ingest_spec")
    assert(streamed.count() > 0)
    assert(sorted(streamed.collect()) === sorted(batch.collect()))
    // every media kind flowed through (the modality-blocked search probe
    // would silently degrade if a kind's features stopped arriving)
    assert(streamed.select("kind").distinct().count() === 3)
  }

  test("funnel property: random event streams over random trigger splits == batch e10") {
    // Randomized multi-trigger replay of the eviction kernel: events drawn
    // from a seeded RNG, time-sorted, split into random contiguous trigger
    // chunks (the in-order-per-user replay contract). All timestamps sit
    // inside ONE horizon so no abandonment timeout fires mid-stream — the
    // property is EXACT upsert-max equality with batch e10, conversion
    // eviction and in-batch re-entry journeys included.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rng = new scala.util.Random(4242)
    val types = Array("view", "click", "purchase", "error")
    val base = 1704067200L * 1000000L
    for (round <- 1 to 3) {
      val n = 300 + rng.nextInt(200)
      val events = (1 to n).map { i =>
        Streams.Event(i.toLong, new java.sql.Timestamp((base + rng.nextInt(3600) * 1000000L) / 1000)
          , rng.nextInt(25).toLong, types(rng.nextInt(4)), 1.0, "{}")
      }.sortBy(e => (e.ts.getTime, e.event_id))
      val input = MemoryStream[Streams.Event]
      val name = s"funnel_prop_$round"
      val q = Streams.funnelStream(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        var rest = events
        while (rest.nonEmpty) {
          val take = 1 + rng.nextInt(120)
          input.addData(rest.take(take)); q.processAllAvailable()
          rest = rest.drop(take)
        }
      } finally q.stop()
      val streamed = spark.table(name)
        .groupBy(col("user_id")).agg(max(col("stage_reached")).as("stage_reached"))
        .where(col("stage_reached") >= 1)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val batch = EventQueries.funnelOf(
          events.toDF().select(col("user_id"), col("ts"), col("event_type")))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streamed === batch, s"round $round (n=$n)")
    }
  }

  test("funnel re-entry trade: a post-timeout straggler counts against a FRESH journey") {
    // The documented eviction trade, pinned explicitly: user A views+clicks,
    // goes silent past the horizon (journey times out, final stage 2), then
    // a purchase arrives — batch e10 on the full history says 3, but the
    // stream (having evicted) counts the purchase against a fresh journey
    // that never saw a view: no state, no emission, upsert stays 2. This
    // divergence is the price of bounded state; this spec exists so a
    // future change that silently alters it fails loudly.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1704067200L * 1000000L
    val hr = 3600L * 1000000L
    val H = Streams.FunnelHorizonUs
    def ev(id: Long, us: Long, uid: Long, t: String) =
      Streams.Event(id, new java.sql.Timestamp(us / 1000), uid, t, 1.0, "{}")
    val input = MemoryStream[Streams.Event]
    val q = Streams.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnel_reentry_spec")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(Seq(ev(1, base, 7L, "view"), ev(2, base + hr, 7L, "click")))
      q.processAllAvailable()
      // another user's event drives the watermark past 7's deadline → evict
      input.addData(Seq(ev(3, base + H + 4 * hr, 8L, "error")))
      q.processAllAvailable()
      // the straggler purchase: against an evicted journey, starts nothing
      input.addData(Seq(ev(4, base + H + 5 * hr, 7L, "purchase")))
      q.processAllAvailable()
      val rows = spark.table("funnel_reentry_spec")
        .where(col("user_id") === 7L)
        .collect().map(r => (r.getInt(1), r.getBoolean(2))).toSet
      assert(rows === Set((2, false), (2, true)),
        s"timed-out journey emits (2, open) then (2, final); the straggler adds nothing: $rows")
      // a FRESH view after eviction starts journey 2 from stage 1
      input.addData(Seq(ev(5, base + H + 6 * hr, 7L, "view")))
      q.processAllAvailable()
      val after = spark.table("funnel_reentry_spec")
        .where(col("user_id") === 7L && !col("is_final"))
        .collect().map(_.getInt(1)).toSet
      assert(after === Set(2, 1), s"re-entry restarts at stage 1: $after")
    } finally q.stop()
  }

  test("streaming media near-dup probe == batch m6 rule against the same corpus index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val M = graft.queries.MultimodalQueries
    // corpus = even doc_ids of the sf docs plus a planted doc; arrivals
    // stream in over TWO triggers and include an exact dup of the planted
    // corpus doc (same kind: 1 ≡ 4 mod 3) — identical payload, identical
    // histogram, L1 = 0, must emit; the long filler (> T bytes away from
    // everything) must not.
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val corpusDocs = graft.sources.Tables.documents(spark, sf())
      .where(col("doc_id") % 2 === 0)
      .select("doc_id", "text", "n_chars")
      .unionByName(df(Seq(4000000L -> "alpha beta gamma delta"))) // kind 1
    val corpusIdx = M.mediaBandFeatures(corpusDocs)
    val arrivals = Seq(
      4000003L -> "alpha beta gamma delta", // kind 1: exact dup of the plant
      4000009L -> ("x" * 400))              // kind 1, far from everything
    val input = MemoryStream[(Long, String)]
    val q = Streams.mediaNearDupProbeStream(
        input.toDF().toDF("doc_id", "text")
          .withColumn("n_chars", length(col("text")).cast("long")), corpusIdx)
      .writeStream.format("memory").queryName("media_probe_spec")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(arrivals.take(1)); q.processAllAvailable()
      input.addData(arrivals.drop(1)); q.processAllAvailable()
      // no state operator anywhere: the probe is a stateless stream-static join
      assert(q.recentProgress.forall(_.stateOperators.isEmpty))
    } finally q.stop()
    val streamed = spark.table("media_probe_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = M.mediaNearDupProbeOf(M.mediaBandFeatures(df(arrivals)), corpusIdx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.contains((4000003L, 4000000L, 0L)),
      s"the exact dup must emit with L1 = 0: $streamed")
    assert(!streamed.exists(_._1 == 4000009L), "the far filler must not emit")
  }

  test("sub-millisecond ordering: same-ms out-of-order events still match the batch twins") {
    // Two events ONE MILLISECOND apart is the granularity getTime() can see;
    // inside a millisecond only epoch-micros ordering works. Plant pairs in
    // the SAME millisecond, different microseconds, stored in REVERSED order
    // (and with ids that make any millis-granular sort pick the later event
    // first) — the exact shape the r9 µs-sort fix addressed; this spec FAILS
    // if the per-trigger sort reverts to ts.getTime:
    //  - funnel user 10: view at T+100µs (id 2), click at T+200µs (id 1),
    //    file order click-first. µs sort → view then click → stage 2; a
    //    millis sort processes the click before any view → stage 1.
    //  - session user 20: ids 3/4 at S+200µs/S+100µs, file order id3-first,
    //    then a closer event 31 min later. The emitted session's start/end
    //    are the first/last PROCESSED stamps — a millis sort yields
    //    (start=S+200µs, end=S+100µs), the batch oracle (min/max) does not.
    val dir = java.nio.file.Files.createTempDirectory("graft-us-fixture").toString
    val base = 1704067200L * 1000000L // 2024-01-01 00:00:00 UTC in µs
    val rows = Seq(
      // (event_id, us, user_id, event_type) — THIS order is the file order
      (1L, base + 5000200L, 10L, "click"),
      (2L, base + 5000100L, 10L, "view"),
      (6L, base + 7000000L, 10L, "purchase"), // later ms: completes the chain
      (3L, base + 9000200L, 20L, "view"),
      (4L, base + 9000100L, 20L, "view"),
      (5L, base + 9000100L + 31L * 60 * 1000000L, 20L, "view")) // closes session 1
    import spark.implicits._
    rows.toDF("event_id", "us", "user_id", "event_type")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"), col("user_id"),
        col("event_type"), lit(1.0).as("value"), lit("""{"k": 1}""").as("props"))
      .coalesce(1)
      .write.parquet(s"$dir/_stage")
    // single FILE named events.parquet, the driver's testdata layout (the
    // stream source's pathGlobFilter matches leaf file names)
    val part = new java.io.File(s"$dir/_stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))

    val funnelStreamed = Streams.runFunnelOnce(spark, dir, "funnel_us_spec")
    val funnelBatch = EventQueries.defs("e10_funnel")(spark, dir)
    assert(sorted(funnelStreamed.collect()) === sorted(funnelBatch.collect()))
    // and the planted user really exercised the same-ms path to stage 3
    assert(funnelStreamed.where(col("user_id") === 10).head.getInt(1) === 3)

    val sessStreamed = Streams.runSessionizeOnce(spark, dir, "sessions_us_spec")
    val sessBatch = EventQueries.defs("e2_sessions")(spark, dir)
    val w = Window.partitionBy("user_id")
    val closedBatch = sessBatch
      .withColumn("max_sid", max("session_id").over(w))
      .where(col("session_id") =!= col("max_sid"))
      .drop("max_sid")
    assert(sorted(sessStreamed.collect()) === sorted(closedBatch.collect()))
    // the planted session's bounds are the µs-precise min/max
    val s20 = sessStreamed.where(col("user_id") === 20).head
    assert(s20.getAs[java.sql.Timestamp]("session_start").getNanos === 100000)
    assert(s20.getAs[java.sql.Timestamp]("session_end").getNanos === 200000)
  }

  test("checkpointed ingest: restart resumes from the offset log — exactly once end-to-end") {
    val ev = graft.sources.Tables.events(spark, sf())
    val dir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    val (in, ck, out) = (s"$dir/in", s"$dir/state", s"$dir/out")
    val half1 = ev.where(col("event_id") % 2 === 0)
    val half2 = ev.where(col("event_id") % 2 === 1)
    half1.write.parquet(in)
    Streams.runCheckpointedIngestOnce(spark, in, ck, out)
    assert(spark.read.parquet(out).count() === half1.count())
    // more files land after the first run "crashed"/stopped; a FRESH query
    // with the same checkpoint consumes only the delta
    half2.write.mode("append").parquet(in)
    Streams.runCheckpointedIngestOnce(spark, in, ck, out)
    val got = spark.read.parquet(out)
    assert(got.count() === ev.count())                                  // no loss
    assert(got.select("event_id").distinct().count() === ev.count())    // no dups
    // idempotent re-run with no new input: nothing re-emitted
    Streams.runCheckpointedIngestOnce(spark, in, ck, out)
    assert(spark.read.parquet(out).count() === ev.count())
  }

  test("lake ingest: file sink -> date partitions -> pruned re-read") {
    // a streaming ingest lands date-partitioned parquet; batch readers see
    // the batch table's rows and prune on the partition column
    val tmp = java.nio.file.Files.createTempDirectory("graft-lake").toString
    val lake = s"$tmp/events_lake"
    Streams.runEventsToPartitionedParquet(spark, sf(), lake, s"$tmp/ckpt",
      parallelism = Some(4))
    val batch = graft.sources.Tables.events(spark, sf())
      .withColumn("event_date", to_date(col("ts")))
    // stream == batch (exactly-once file sink)
    val landed = spark.read.parquet(lake)
    assert(landed.count() === batch.count())
    assert(landed.agg(sum("event_id")).head.getLong(0) ===
      batch.agg(sum("event_id")).head.getLong(0))
    // a filter on event_date reaches the scan as a PartitionFilter and
    // returns exactly that date's rows
    val d = new java.io.File(lake).listFiles().filter(_.isDirectory)
      .map(_.getName).find(_.startsWith("event_date=")).get
      .stripPrefix("event_date=")
    val pruned = landed.where(col("event_date") === lit(d).cast("date"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_date"), plan)
    assert(pruned.count() ===
      batch.where(col("event_date") === lit(d).cast("date")).count())
  }

  test("streaming domain cap == batch c10, and the bounded state carries across triggers") {
    // the final emission per domain (max n_seen) must equal the batch answer
    def finalRows(df: org.apache.spark.sql.DataFrame): Set[(String, Int, Long, Double)] = {
      val rows = df.collect().map(r =>
        (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      val maxSeen = rows.groupBy(_._1).view.mapValues(_.map(_._5).max).toMap
      rows.filter(t => t._5 == maxSeen(t._1)).map(t => (t._1, t._2, t._3, t._4)).toSet
    }
    val batch = graft.queries.CurationQueries.defs("c10_domain_cap")(spark, sf("sf0.01"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // single AvailableNow pass over the gate corpus
    val one = finalRows(Streams.runDomainCapOnce(spark, sf("sf0.01"), "domcap_one"))
    assert(one === batch)
    // split the same corpus into two files and force one file per trigger:
    // the per-domain top-k must carry across micro-batches and land on the
    // identical final answer
    val dir = java.nio.file.Files.createTempDirectory("domcap").toString
    val docs = graft.sources.Tables.documents(spark, sf("sf0.01"))
    def writeHalf(name: String, cond: org.apache.spark.sql.Column): Unit = {
      val tmp = s"$dir/stage_$name"
      docs.where(cond).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
    }
    // split by id RANGE (not parity — source/lang derive from doc_id mod
    // cycles, so a parity split would give every domain a single-trigger
    // life and prove nothing about cross-trigger state)
    val mid = docs.count() / 2
    writeHalf("h0", col("doc_id") < mid)
    writeHalf("h1", col("doc_id") >= mid)
    val multi = Streams.runDomainCapOnce(spark, dir, "domcap_multi",
      maxFilesPerTrigger = 1, glob = "h*.parquet")
    // both triggers actually ran: some domain emitted at two n_seen marks
    val perDomainSeen = multi.collect().map(r => (r.getString(0), r.getLong(4)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length).toMap
    assert(perDomainSeen.values.exists(_ > 1), s"single trigger only: $perDomainSeen")
    assert(finalRows(multi) === batch)
  }

  test("day-2 bundle: publish → resolve drives the stream; re-publishes re-resolve whole, torn claim skipped") {
    // VERDICT r17 missing #1, closed-loop: the WHOLE artifact bundle
    // (bench grams, frozen model, thresholds, postings) rides ONE
    // Manifests publish, so a restarted stream resolves the persisted
    // day-1 state instead of re-deriving it, and a corpus re-publish can
    // never pair a new index with an old model
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def w(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val C = graft.queries.CurationQueries
    // arrival ids: non-bench, mixture-passing under source src1
    val mixOk = spark.range(1, 400).select(col("id").as("doc_id"))
      .withColumn("source", lit("src1"))
      .where(C.mixPred && col("doc_id") % 20 =!= 0)
      .collect().map(_.getLong(0))
    val Array(aAdmit, aDup, aBench) = mixOk.take(3)
    val corpus = Seq((20L, w("bz", 8)), (2L, w("cc", 40)), (3L, w("mm", 40)))
      .toDF("doc_id", "text") // 20 is the bench member
    val modelCorpus = Seq((3L, w("mm", 40))).toDF("doc_id", "text")
    val thr1 = Seq(("en", 0.0)).toDF("lang", "p30")
    val kept1 = Seq((2L, w("cc", 40))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("day2-bundle").toString
    val built = Streams.day2Artifacts(corpus, modelCorpus, thr1, kept1)
    Streams.publishDay2Artifacts(built, root)
    def verdicts(art: Streams.Day2Artifacts, name: String): Map[Long, (Int, Boolean)] = {
      val input = MemoryStream[(Long, String, String, String)]
      input.addData(
        (aAdmit, "en", "src1", w("dd", 40)),  // clean → admitted (v1)
        (aDup, "en", "src1", w("cc", 40)),    // exact dup of kept doc 2
        (aBench, "en", "src1", w("bz", 8) + " tail0")) // bench 8-gram overlap
      Streams.toMemory(Streams.day2AdmissionStream(
          input.toDF().toDF("doc_id", "lang", "source", "text"), art), name)
        .collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    }
    val expect1 = Map(aAdmit -> (15, true), aDup -> (3, false), aBench -> (0, false))
    // the RESOLVED bundle reproduces the in-session artifacts bit-for-bit
    assert(verdicts(built, "d2b_insession") === expect1)
    assert(verdicts(Streams.day2ArtifactsVersioned(spark, root), "d2b_v1") === expect1)
    // corpus re-publish #1: the kept corpus gained the dd content — a
    // RE-CREATED stream resolves the new POSTINGS leg (the old verdict's
    // admit flips to corpus-dup)
    val kept2 = Seq((2L, w("cc", 40)), (4L, w("dd", 40))).toDF("doc_id", "text")
    Streams.publishDay2Artifacts(
      Streams.day2Artifacts(corpus, modelCorpus, thr1, kept2), root)
    assert(verdicts(Streams.day2ArtifactsVersioned(spark, root), "d2b_v2") ===
      Map(aAdmit -> (3, false), aDup -> (3, false), aBench -> (0, false)))
    // corpus re-publish #2: day-1 re-froze an unpassable quality bar — the
    // THRESHOLDS leg re-resolves too; and a torn in-flight manifest claim
    // above the complete publish must be skipped, not resolved
    val thr3 = Seq(("en", 1e9)).toDF("lang", "p30")
    Streams.publishDay2Artifacts(
      Streams.day2Artifacts(corpus, modelCorpus, thr3, kept2), root)
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(root, f"MANIFEST-${9L}%020d"), "bundle-torn")
    assert(verdicts(Streams.day2ArtifactsVersioned(spark, root), "d2b_v3") ===
      Map(aAdmit -> (1, false), aDup -> (1, false), aBench -> (0, false)))
  }

  test("day2Artifacts refuses a past-broadcast model — the executable scale bound") {
    import spark.implicits._
    def w(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val corpus = Seq((1L, w("aa", 12))).toDF("doc_id", "text")
    val thr = Seq(("en", 0.0)).toDF("lang", "p30")
    val e = intercept[IllegalArgumentException] {
      Streams.day2Artifacts(corpus, corpus, thr, corpus, maxModelEntries = 1)
    }
    assert(e.getMessage.contains("semi-join-pruned"), e.getMessage)
    // the default bound admits any test-scale model
    Streams.day2Artifacts(corpus, corpus, thr, corpus)
  }

  test("heavy-hitter day cycle: stream candidates → exact recount == per-window batch t8") {
    // VERDICT r17 #4: the stream/batch division of labor, composed and
    // executable — MG's superset guarantee means recounting ONLY the
    // emitted candidates and re-applying the strict bar is exact
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val k = 5
    val rows = Seq(
      t(1) -> Seq.fill(10)("hh").mkString(" "),
      t(3) -> "hh hh hh hh hh w1 w2 w3 w4 w5",
      t(7) -> "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10",
      t(12) -> "x x x y y z",
      t(31) -> "zz") // closes both 10-minute windows; its own stays open
    val input = MemoryStream[(java.sql.Timestamp, String)]
    input.addData(rows: _*)
    val recounted = Streams.runHeavyHittersRecountOnce(spark,
        input.toDF().toDF("ts", "text"), rows.toDF("ts", "text"),
        k = k, windowDur = "10 minutes", watermarkDelay = "1 minute",
        queryName = "hh_day_spec")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3), r.getLong(4))).toSet
    // batch truth per CLOSED window
    val expected = Seq(t(0) -> t(10), t(10) -> t(20)).flatMap { case (ws, we) =>
      val exact = rows.filter(r => !r._1.before(ws) && r._1.before(we))
        .flatMap(_._2.split(" ")).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val total = exact.values.sum
      exact.filter(_._2 > total / (k + 1.0)).map { case (wd, n) => (ws, wd, n, total) }
    }.toSet
    assert(recounted === expected)
    // the stream genuinely over-reported (emitted candidates beyond the
    // true heavy hitters) — the recount's bar is what restores exactness
    val cands = spark.table("hh_day_spec").collect()
      .map(r => (r.getTimestamp(0), r.getString(4))).toSet
    assert(cands.size > expected.size, s"expected over-report: $cands vs $expected")
  }

  /** Seeded events for the stateful property specs: time-sorted by
    * (µs, event_id), all inside a 100-minute span (under the 2-hour
    * watermark delay, so no timeout fires and no row is late). Timestamps
    * cluster around three centres 40 minutes apart, so per-user gaps both
    * above and below 30 min occur. Planted: user ids at or above 2^31, events
    * in the same millisecond, and one gap of exactly 30 min. */
  private def propertyEvents(rng: scala.util.Random): Seq[(Streams.Event, Long)] = {
    val base = 1704067200L * 1000000L
    val min = 60L * 1000000L
    def ev(id: Long, us: Long, user: Long) = {
      val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
      Streams.Event(id, t, user, "view", 1.0, "{}") -> us
    }
    val users = (0 until 8).map(_.toLong) ++ (0 until 8).map(i => (1L << 31) + i)
    val n = 200 + rng.nextInt(200)
    val drawn = (1 to n).map { i =>
      val us = base + rng.nextInt(3) * 40 * min + (rng.nextDouble() * 12 * min).toLong
      ev(i.toLong, us, users(rng.nextInt(users.size)))
    }
    // same millisecond as a drawn event: a different microsecond, or for
    // j = 0 and 5 the same one
    val sameMs = drawn.take(10).zipWithIndex.map { case ((e, us), j) =>
      ev(n + 1L + j, us - math.floorMod(us, 1000L) + (if (j % 5 == 0) math.floorMod(us, 1000L)
        else (math.floorMod(us, 1000L) + 1 + j) % 1000), e.user_id)
    }
    // a gap of exactly 30 min does not split; a gap of 31 min does; the
    // session opens with a same-millisecond pair whose ids run against its
    // microseconds, so only a µs-first order starts it at `base`
    val edge = Seq(0L, 30L, 61L).zipWithIndex.map { case (m, j) =>
      ev(n + 100L + j, base + m * min, 1L << 32) } :+ ev(n + 99L, base + 900L, 1L << 32)
    (drawn ++ sameMs ++ edge).sortBy { case (e, us) => (us, e.event_id) }
  }

  test("sessionize property: random event streams over random trigger splits == driver model") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gapUs = 30L * 60 * 1000000
    val rng = new scala.util.Random(5151)
    for (round <- 1 to 3) {
      val timed = propertyEvents(rng)
      // exact duplicate rows: a duplicate counts as one more event
      val feed = timed.flatMap(t => if (rng.nextInt(10) == 0) Seq(t, t) else Seq(t))
      val input = MemoryStream[Streams.Event]
      val name = s"sessionize_prop_$round"
      val q = Streams.sessionize(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        var rest = feed.map(_._1)
        while (rest.nonEmpty) {
          val take = 1 + rng.nextInt(80)
          input.addData(rest.take(take)); q.processAllAvailable()
          rest = rest.drop(take)
        }
      } finally q.stop()
      val streamed = spark.table(name)
        .select(col("user_id"), col("session_id"), col("n_events"),
          unix_micros(col("session_start")), unix_micros(col("session_end")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      // driver model: per user, sort by (µs, event_id), split where the gap
      // exceeds 30 min, drop the last (still open) session
      val model = feed.groupBy(_._1.user_id).toSeq.flatMap { case (user, evs) =>
        val us = evs.sortBy { case (e, t) => (t, e.event_id) }.map(_._2)
        val sessions = us.tail.foldLeft(Vector(Vector(us.head))) { (acc, t) =>
          if (t - acc.last.last > gapUs) acc :+ Vector(t) else acc.init :+ (acc.last :+ t)
        }
        sessions.init.zipWithIndex.map { case (s, i) =>
          (user, i + 1L, s.size.toLong, s.head, s.last) }
      }.toSet
      assert(streamed === model, s"round $round (${feed.size} rows)")
      assert(model.exists(_._1 >= (1L << 31)), "ids at or above 2^31 close sessions")
      assert(model.exists(s => s._1 == (1L << 32) && s._5 - s._4 == gapUs),
        "a gap of exactly 30 min stays inside one session")
    }
  }

  test("dedupStream property: each event_id emitted once when copies span triggers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rng = new scala.util.Random(6262)
    for (round <- 1 to 3) {
      val events = propertyEvents(rng).map(_._1)
      // the first copy goes to a random trigger; each later copy (up to two
      // more) to a strictly later one
      val nTriggers = 4 + rng.nextInt(6)
      val triggers = Array.fill(nTriggers + 2)(Vector.empty[Streams.Event])
      events.zipWithIndex.foreach { case (e, i) =>
        val first = i * nTriggers / events.size
        (0 until 1 + rng.nextInt(3)).foreach(c => triggers(first + c) :+= e)
      }
      val input = MemoryStream[Streams.Event]
      val name = s"dedup_prop_$round"
      val q = Streams.dedupStream(input.toDF(), Seq("event_id"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try triggers.filter(_.nonEmpty).foreach { t => input.addData(t); q.processAllAvailable() }
      finally q.stop()
      val ids = spark.table(name).collect().map(_.getAs[Long]("event_id")).toSeq
      assert(ids.sorted === events.map(_.event_id).sorted, s"round $round")
    }
  }

  test("a micro-batch failure makes run*Once throw and leaves no active query") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def causes(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(String.valueOf).toSeq
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val rows = Seq(ts -> "a b c", ts -> "boom", ts -> "d e f")
    val input = MemoryStream[(java.sql.Timestamp, String)]
    input.addData(rows: _*)
    val failing = input.toDF().toDF("ts", "text").withColumn("text",
      when(col("text") === "boom", raise_error(lit("planted row failure")))
        .otherwise(col("text")))
    val e = intercept[Exception] {
      Streams.runHeavyHittersRecountOnce(spark, failing, rows.toDF("ts", "text"),
        queryName = "failing_memory_sink").collect()
    }
    assert(causes(e).exists(_.contains("planted row failure")), causes(e).mkString("\n"))
    assert(spark.streams.active.isEmpty)
    // the foreachBatch sink fails the same way
    val again = MemoryStream[Long]
    again.addData(1L, 2L)
    val e2 = intercept[Exception] {
      Streams.runToEnd(again.toDF().writeStream.foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        throw new IllegalStateException("planted batch failure")
      })
    }
    assert(causes(e2).exists(_.contains("planted batch failure")), causes(e2).mkString("\n"))
    assert(spark.streams.active.isEmpty)
  }
}
