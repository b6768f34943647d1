package graft.tools

import graft.streaming.Streams
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/**
 * Streaming SCALE REHEARSAL (VERDICT r12 #4): drive a decade-scale event
 * volume (sf0.1's ~100k-row events table) through the three stateful
 * pipelines with the most state risk — sessionization, funnel, rate-anomaly
 * monitor — as a genuine multi-trigger file-source replay, and report the
 * evidence the "bounded state" scaladoc claims rest on: per-trigger
 * state-store rows/bytes and end-to-end throughput.
 *
 * Replay staging: the events table is split into `Chunks` event-time ranges
 * written SEQUENTIALLY as one file each (lexicographic names, increasing
 * mod-times), and the stream reads them with `maxFilesPerTrigger=1` — so the
 * run exercises real cross-trigger state carry, not one giant batch. This is
 * the batch-equality specs' ordering contract (per-trigger sort inside the
 * operators, source replay in event-time order across triggers).
 *
 * Boundedness contracts being evidenced (state rows = rows in the state
 * store, i.e. GROUPS for the flatMapGroupsWithState pipelines):
 *  - sessionize: one state row per user with an OPEN session — bounded by
 *    the active-user population, never by event volume;
 *  - funnel: one row per user still progressing — same bound;
 *  - rate-anomaly: one row per event type, each holding ≤ TrailHours+1
 *    hour-counts (the r13 ancient-event drop makes this hold under
 *    unbounded disorder, not just steady state).
 *
 * Usage: runMain graft.tools.StreamRehearsal [sfDir] [chunks]
 * Prints one JSON line per pipeline:
 *   {"pipeline":…, "triggers":N, "input_rows":N, "rows_per_sec":…,
 *    "state_rows_max":N, "state_bytes_last":N, "out_rows":N, "wall_sec":…}
 */
object StreamRehearsal {

  /** Stage one replay chunk as `chunk-%05d.parquet`: parquet part names
    * embed random UUIDs and filesystem mtime granularity can tie across
    * consecutive writes, so the file source's (mtime, path) order would be
    * random within a tie — explicit increasing names make the replay order
    * deterministic regardless of timestamp resolution. */
  private def writeChunk(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
                         feed: String, c: Int): Unit = {
    val tmp = s"$feed.staging"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val d = new java.io.File(tmp)
    val part = d.listFiles().find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written for chunk $c"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feed))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(feed, f"chunk-$c%05d.parquet"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val chunks = if (args.length > 1) args(1).toInt else 20
    val spark = graft.GraftSession.local()
    import spark.implicits._

    // ---- stage the sequential event-time replay ----------------------
    val work = java.nio.file.Files.createTempDirectory("graft_stream_rehearsal").toString
    val feed = s"$work/feed"
    val ev = graft.sources.Tables.events(spark, sfDir)
    val n = ev.count()
    // ntile over event time: equal-size chunks in strict time order (a
    // single 100k-row global sort — tool-side staging, not pipeline work)
    val bucketed = ev.withColumn("chunk",
      ntile(chunks).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id"))))
    for (c <- 1 to chunks) writeChunk(spark,
      bucketed.where(col("chunk") === c).drop("chunk"), feed, c)
    val schema = spark.read.parquet(feed).schema

    def src: Dataset[Streams.Event] = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed)
      .as[Streams.Event]

    def run(name: String, out: Dataset[_],
            mode: OutputMode = OutputMode.Append()): Unit = {
      val t0 = System.nanoTime()
      val q = out.writeStream
        .format("memory").queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", s"$work/ckpt_$name")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      val stateRowsMax = progs.flatMap(_.stateOperators.map(_.numRowsTotal))
        .foldLeft(0L)(math.max)
      val stateBytesLast = progs.lastOption
        .flatMap(_.stateOperators.headOption).map(_.memoryUsedBytes).getOrElse(0L)
      val inputRows = progs.map(_.numInputRows).sum
      val outRows = spark.table(name).count()
      println(s"""{"pipeline":"$name","triggers":${progs.length},""" +
        s""""input_rows":$inputRows,"rows_per_sec":${(inputRows / wall).round},""" +
        s""""state_rows_max":$stateRowsMax,"state_bytes_last":$stateBytesLast,""" +
        s""""out_rows":$outRows,"wall_sec":${math.round(wall * 100) / 100.0}}""")
    }

    println(s"""{"rehearsal":"streaming","sf_dir":"$sfDir","events":$n,"chunks":$chunks}""")
    run("sessionize", Streams.sessionize(src))
    // Update mode: the funnel re-emits a touched user's current stage per
    // trigger; r16 eviction means state_rows_max now evidences the OPEN
    // journey population (conversions and horizon-timeouts evict live),
    // not every user ever seen
    run("funnel", Streams.funnelStream(src), OutputMode.Update())
    run("rate_anomaly", Streams.rateAnomalyStream(src))
    // heavy-hitter surveillance (r17): one MG-buffer state row per OPEN
    // 6-hour window — state_rows_max must track the open-window count,
    // never the distinct-token vocabulary flowing through
    run("heavy_hitters", Streams.heavyHittersStream(
      src.toDF().select(col("ts"), col("event_type").as("text")),
      k = 50, windowDur = "6 hours", watermarkDelay = "2 hours"))

    // the day-cycle composition at volume (r18): exact recount of the
    // emitted candidates == direct per-window batch t8 over the same rows,
    // restricted to the windows the stream closed
    {
      val T = graft.text.TextFunctions
      val hhDocs = ev.toDF().select(col("ts"), col("event_type").as("text"))
      val cands = spark.table("heavy_hitters")
      val recounted = Streams.recountHeavyHitters(cands, hhDocs, 50, "6 hours")
        .collect().map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3), r.getLong(4))).toSet
      val closed = cands.select("window_start").distinct()
      val tok = hhDocs
        .select(window(col("ts"), "6 hours").as("w"), explode(T.tokens(col("text"))).as("word"))
        .select(col("w.start").as("window_start"), col("w.end").as("window_end"), col("word"))
        .join(closed, Seq("window_start"), "left_semi")
      val tot = tok.groupBy("window_start", "window_end").agg(count(lit(1)).as("n_total"))
      val direct = tok.groupBy("window_start", "window_end", "word").agg(count(lit(1)).as("n"))
        .join(tot, Seq("window_start", "window_end"))
        .where(col("n") > col("n_total").cast("double") / 51.0)
        .collect().map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3), r.getLong(4))).toSet
      val ok = recounted == direct
      println(s"""{"rehearsal":"heavy_hitters_recount","closed_windows":${closed.count()},""" +
        s""""recounted_rows":${recounted.size},"batch_rows":${direct.size},"ok":$ok}""")
      require(ok, "heavy-hitter recount != per-window batch t8 — see JSON above")
    }

    // ---- the admission pipeline: documents replay, corpus static --------
    // Evidences the ZERO-state claim at volume: 16 doc chunks stream past
    // the even-doc_id corpus's band index; the progress log must show NO
    // state operator at any trigger (state_rows_max 0, state_bytes 0).
    val docsFeed = s"$work/docs_feed"
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val docChunks = math.max(2, chunks * 4 / 5)
    val dBucketed = docs.withColumn("chunk",
      ntile(docChunks).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("doc_id"))))
    for (c <- 1 to docChunks) writeChunk(spark,
      dBucketed.where(col("chunk") === c).drop("chunk"), docsFeed, c)
    val dSchema = spark.read.parquet(docsFeed).schema
    val dSrc = spark.readStream.schema(dSchema)
      .option("maxFilesPerTrigger", "1").parquet(docsFeed)
    val corpus = docs.where(col("doc_id") % 2 === 0)
    run("admission", Streams.admissionStream(dSrc, corpus))

    // ---- the substring probe: same docs replay, anchor postings static --
    // Evidences the r15 streaming substring twin's ZERO-state claim and
    // the row-local single-emission geometry at volume: every emitted hit
    // is one maximal span (the first-in-span-anchor rule suppressing the
    // ~span/stride duplicate anchor hits with no state operator anywhere).
    val posts = graft.Checkpoints.eager(Streams.substringPostings(corpus))
    val store = graft.Checkpoints.eager(Streams.substringTokenStore(corpus))
    val dSrc2 = spark.readStream.schema(dSchema)
      .option("maxFilesPerTrigger", "1").parquet(docsFeed)
    run("substring_probe", Streams.substringHitStream(dSrc2, posts, store))

    // ---- the media near-dup probe: same docs replay vs the corpus band-
    // feature index — the THIRD zero-state decision stream (admission,
    // substring, media): codec features + band assignment per row, corpus
    // static, so state_rows_max must be 0 at volume here too.
    val mediaIdx = graft.Checkpoints.eager(
      graft.queries.MultimodalQueries.mediaBandFeatures(corpus))
    val dSrc3 = spark.readStream.schema(dSchema)
      .option("maxFilesPerTrigger", "1").parquet(docsFeed)
    run("media_probe", Streams.mediaNearDupProbeStream(dSrc3, mediaIdx))

    // ---- the composed day-2 admission verdict (r17): the FIFTH zero-state
    // decision stream — the full (decontam, frozen-quality, corpus-near-dup,
    // mixture) bitmap per arrival against static day-1 artifacts. Rehearsal
    // artifacts: the even-doc corpus doubles as model + index and the
    // threshold floor passes all langs — the ZERO-STATE and throughput
    // claims are what volume evidences here (every stage still computes:
    // bench overlap, model-map scoring fold, band probes, mixture); the
    // bit-exact batch-p2 contract is CurationPipelineSpec's.
    // The bundle rides its versioned publish/resolve path LIVE (r18): the
    // rehearsal publishes day-1's artifacts once and the stream reads the
    // RESOLVED bundle — the restart shape, where a fresh stream resolves
    // the persisted state instead of re-deriving it from the corpus.
    val day2Root = s"$work/day2_bundle"
    Streams.publishDay2Artifacts(Streams.day2Artifacts(docs, corpus,
      docs.select(col("lang")).distinct().withColumn("p30", lit(0.0)), corpus),
      day2Root)
    val day2Art = Streams.day2ArtifactsVersioned(spark, day2Root)
    val dSrc4 = spark.readStream.schema(dSchema)
      .option("maxFilesPerTrigger", "1").parquet(docsFeed)
    run("day2_admission", Streams.day2AdmissionStream(dSrc4, day2Art))

    // ---- the SHARDED (table-form) day-2 gate (r18): the same arrival
    // replay through the past-broadcast scale path — published table
    // bundle, foreachBatch per-trigger batch scoring — must emit verdict
    // rows IDENTICAL to the broadcast stream's at volume, holding zero
    // streaming state (foreachBatch has no state operators by
    // construction; the progress log proves it live).
    {
      val shRoot = s"$work/day2_sharded"
      Streams.publishDay2ShardedArtifacts(
        Streams.day2ShardedArtifacts(docs, corpus,
          docs.select(col("lang")).distinct().withColumn("p30", lit(0.0)),
          corpus),
        s"$shRoot/bundle")
      val shArt = Streams.day2ShardedArtifactsVersioned(spark, s"$shRoot/bundle")
      val dSrc5 = spark.readStream.schema(dSchema)
        .option("maxFilesPerTrigger", "1").parquet(docsFeed)
      val t0 = System.nanoTime()
      val q = Streams.runDay2AdmissionShardedOnce(dSrc5, shArt,
        s"$shRoot/verdicts", s"$shRoot/ckpt")
      val wall = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      val stateRows = progs.flatMap(_.stateOperators.map(_.numRowsTotal))
        .foldLeft(0L)(math.max)
      val got = spark.read.parquet(s"$shRoot/verdicts")
        .select("doc_id", "admit_reason", "admitted")
      val bc = spark.table("day2_admission")
      val diff = got.exceptAll(bc).count() + bc.exceptAll(got).count()
      val ok = diff == 0 && progs.length > 1
      println(s"""{"rehearsal":"day2_sharded","triggers":${progs.length},""" +
        s""""input_rows":${progs.map(_.numInputRows).sum},""" +
        s""""state_rows_max":$stateRows,"verdict_diff_vs_broadcast":$diff,""" +
        s""""wall_sec":${math.round(wall * 100) / 100.0},"ok":$ok}""")
      require(ok, "sharded day-2 gate rehearsal failed — see JSON above")
    }

    // snapshot retention in the live cadence (r18): two later corpus
    // publishes supersede the bundle the stream just used; vacuumSnapshots
    // at the default keepLast=2 must reap exactly the oldest bundle while
    // the newest still resolves and re-reads whole
    {
      val thr = docs.select(col("lang")).distinct().withColumn("p30", lit(0.0))
      Streams.publishDay2Artifacts(Streams.day2Artifacts(docs, corpus, thr, corpus), day2Root)
      val live = graft.sources.Manifests.resolve(spark, day2Root)
      Streams.publishDay2Artifacts(Streams.day2Artifacts(docs, corpus, thr, corpus), day2Root)
      val reaped = graft.sources.Manifests.vacuumSnapshots(spark, day2Root)
      val resolvedOk = try {
        Streams.day2ArtifactsVersioned(spark, day2Root).postings.count() >= 0
      } catch { case _: Exception => false }
      val ok = reaped.length == 1 && !reaped.contains(live.head) && resolvedOk
      println(s"""{"rehearsal":"day2_bundle_retention","publishes":3,""" +
        s""""reaped":[${reaped.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""newest_resolves":$resolvedOk,"ok":$ok}""")
      require(ok, "day-2 bundle retention rehearsal failed — see JSON above")
    }

    // ---- versioned-append cadence + vacuum (VERDICT r16 #6): the GC path
    // against a LIVE daily-ingest cadence, not just the ManifestsSpec
    // fixture. Four appendBandIndexVersioned appends (a day each of the
    // odd-doc batch, the d12 ingest shape); after day 2, plant BOTH crash
    // shapes — a LEAKED segment (written, never published, older than the
    // newest manifest: the crash-between-write-and-publish remnant) and an
    // IN-FLIGHT one (unreferenced but fresh: an append that has not
    // published YET). vacuumSegments mid-cadence must reap exactly the
    // leak, spare the in-flight plant, and leave the published set's reads
    // byte-identical; the remaining appends then proceed over the vacuumed
    // root.
    {
      val D = graft.queries.DedupQueries
      val root = s"$work/band_index_versioned"
      // four disjoint odd-doc_id day slices (doc_id % 8 ∈ {1,3,5,7})
      val day = (c: Int) => docs.where(col("doc_id") % 8 === c)
      D.appendBandIndexVersioned(day(1), root)
      D.appendBandIndexVersioned(day(3), root)
      val rowsBefore = D.readBandIndexVersioned(spark, root).count()
      // crash plant 1: leaked remnant — written, unpublished, backdated
      // (dir AND files — a real remnant's files all predate later manifests)
      val leaked = java.nio.file.Paths.get(root, "seg-1-crash-leaked-remnant")
      day(1).limit(50).write.parquet(leaked.toString)
      val manifestMt = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith("MANIFEST-")).map(_.lastModified()).max
      val backdate = java.nio.file.attribute.FileTime.fromMillis(manifestMt - 60000)
      leaked.toFile.listFiles().foreach(f =>
        java.nio.file.Files.setLastModifiedTime(f.toPath, backdate))
      java.nio.file.Files.setLastModifiedTime(leaked, backdate)
      // crash plant 2: in-flight append — unreferenced, fresh mtimes
      val inflight = java.nio.file.Paths.get(root, "seg-2-inflight-append")
      day(1).limit(50).write.parquet(inflight.toString)
      val reaped = graft.sources.Manifests.vacuumSegments(spark, root)
      val rowsAfter = D.readBandIndexVersioned(spark, root).count()
      D.appendBandIndexVersioned(day(5), root)
      D.appendBandIndexVersioned(day(7), root)
      val rowsFinal = D.readBandIndexVersioned(spark, root).count()
      val ok = reaped == Seq("seg-1-crash-leaked-remnant") &&
        !java.nio.file.Files.exists(leaked) &&
        java.nio.file.Files.exists(inflight) &&
        rowsAfter == rowsBefore
      println(s"""{"rehearsal":"versioned_append_vacuum","appends":4,""" +
        s""""reaped":[${reaped.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""inflight_spared":${java.nio.file.Files.exists(inflight)},""" +
        s""""rows_before":$rowsBefore,"rows_after_vacuum":$rowsAfter,""" +
        s""""rows_final":$rowsFinal,"ok":$ok}""")
      require(ok, "versioned-append vacuum rehearsal failed — see JSON above")
    }
    spark.stop()
  }
}
