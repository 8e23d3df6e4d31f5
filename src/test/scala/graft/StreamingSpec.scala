package graft

import graft.stream.StreamingOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ops vs their batch equivalents on the same event data —
  * `format("memory")` + `processAllAvailable` drives the parquet through a
  * real streaming query synchronously.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  /** FileStreamSource requires a directory — stage the single parquet file
    * into a temp dir once per suite.
    */
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming tumbling window agg matches the batch plan") {
    val stream = StreamingOps.tumblingCounts(StreamingOps.readEventStream(spark, streamDir))
    val q = stream.writeStream
      .format("memory")
      .queryName("tumbling_out")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      // memory sink registers in the stream's (child) session catalog
      val got = stream.sparkSession.table("tumbling_out")
      val want = graft.core.Tables(spark, dir).events
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
        .select(col("window.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))
      TestSpark.assertFrameEqual(got, want, normalizeNtz = true)
    } finally q.stop()
  }

  test("streaming sliding window agg matches the batch plan") {
    val stream = StreamingOps.slidingCounts(StreamingOps.readEventStream(spark, streamDir))
    val q = stream.writeStream
      .format("memory")
      .queryName("sliding_out")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val got = stream.sparkSession.table("sliding_out")
      val want = graft.core.Tables(spark, dir).events
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
        .select(
          col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      TestSpark.assertFrameEqual(got, want, normalizeNtz = true)
      // every event lands in exactly windowDuration/slide = 4 windows
      val events = graft.core.Tables(spark, dir).events.count()
      val expanded = want.agg(sum("n")).collect()(0).getLong(0)
      assert(expanded == 4 * events, s"expected 4x expansion, got $expanded vs $events events")
    } finally q.stop()
  }

  test("streaming sliding window agg across 3+ micro-batches matches the batch plan") {
    // stage the events into three parquet files (raw nanos-as-long ts, the
    // on-disk encoding readEventStream declares) and trigger one file per
    // micro-batch, so window accumulation must merge state across batches
    val d = java.nio.file.Files.createTempDirectory("events_stream3").toString
    graft.core.Tables
      .nanosSession(spark)
      .read
      .parquet(s"$dir/events.parquet")
      .repartition(3)
      .write
      .mode("overwrite")
      .parquet(d)
    val stream = StreamingOps.slidingCounts(
      StreamingOps.readEventStream(spark, d, maxFilesPerTrigger = Some(1)))
    val q = stream.writeStream
      .format("memory")
      .queryName("sliding3_out")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      assert(
        q.recentProgress.count(_.numInputRows > 0) >= 3,
        s"expected >=3 non-empty micro-batches, got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
      val got = stream.sparkSession.table("sliding3_out")
      val want = graft.core.Tables(spark, dir).events
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
        .select(
          col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      TestSpark.assertFrameEqual(got, want, normalizeNtz = true)
    } finally q.stop()
  }

  test("streaming dedup-within-watermark passes distinct events through") {
    val stream = StreamingOps.dedupedEvents(StreamingOps.readEventStream(spark, streamDir))
    val q = stream.writeStream
      .format("memory")
      .queryName("dedup_out")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val got  = stream.sparkSession.table("dedup_out").count()
      val want = graft.core.Tables(spark, dir).events.select("event_id").distinct().count()
      assert(got == want)
    } finally q.stop()
  }

  test("streaming session windows match the batch session query") {
    val stream = StreamingOps
      .readEventStream(spark, streamDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
    val q = stream.writeStream
      .format("memory")
      .queryName("session_out")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val got = stream.sparkSession.table("session_out")
      val want = graft.core.Tables(spark, dir).events
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
      TestSpark.assertFrameEqual(got, want, normalizeNtz = true)
    } finally q.stop()
  }

  test("streaming session transcript assembly matches the batch q81 aggregation") {
    val stream = StreamingOps
      .sessionPaths(StreamingOps.readEventStream(spark, streamDir).withWatermark("ts", "10 minutes"))
    val q = stream.writeStream
      .format("memory")
      .queryName("paths_out")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val got  = stream.sparkSession.table("paths_out")
      val want = StreamingOps.sessionPaths(graft.core.Tables(spark, dir).events)
      TestSpark.assertFrameEqual(got, want, normalizeNtz = true)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch pair plan across 3+ micro-batches") {
    import spark.implicits._
    // stage the corpus events into three CONTIGUOUS time ranges, written in
    // ts order (mod-time order drives FileStreamSource) so no event is ever
    // late: the watermark after batch k is maxTs(k) - 10 min, and a batch
    // k+1 click only needs views ≤ 30 min older than itself — evicted view
    // state is > 40 min older than the range boundary and cannot match, so
    // stream and batch pair sets must be IDENTICAL
    val d = java.nio.file.Files.createTempDirectory("ss_join_events").toString
    val src = graft.core.Tables(spark, dir).events
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val epoch = col("ts").cast("timestamp").cast("long")
    val times = src.select(epoch).as[Long].collect().sorted
    val (b1, b2) = (times(times.length / 3), times(2 * times.length / 3))
    Seq(
      src.where(epoch < b1),
      src.where(epoch.between(b1, b2 - 1)),
      src.where(epoch >= b2))
      .foreach(_.coalesce(1).write.mode("append").parquet(d))
    val stream = StreamingOps.viewClickPairs(
      StreamingOps.readEventStream(spark, d, maxFilesPerTrigger = Some(1)))
    val q = stream.writeStream
      .format("memory")
      .queryName("ss_pairs_out")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(
        q.recentProgress.count(_.numInputRows > 0) >= 3,
        s"expected >=3 non-empty micro-batches, got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
      val got  = stream.sparkSession.table("ss_pairs_out")
      val want = StreamingOps.viewClickPairs(spark.read.parquet(d))
      assert(want.count() > 0, "staged events produced no view->click pairs")
      TestSpark.assertFrameEqual(got, want, normalizeNtz = true)
    } finally q.stop()
  }

  test("session paths drop a late event beyond the watermark, across a restart") {
    import spark.implicits._
    val d  = java.nio.file.Files.createTempDirectory("late_events").toString
    val cp = java.nio.file.Files.createTempDirectory("late_cp").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def writeBatch(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(d)
    // batch 1: user 1's session (two events) plus a user-2 event far
    // ahead, which moves the watermark to 12:50 at the batch commit —
    // persisted in the checkpoint, so it survives the restart
    writeBatch(Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a", 1.0, "{}"),
      (2L, ts("2024-01-01 10:05:00"), 1L, "b", 1.0, "{}"),
      (3L, ts("2024-01-01 13:00:00"), 2L, "x", 1.0, "{}")))
    // the memory sink cannot recover from a checkpoint, so the restart
    // semantics are driven through the file sink (append-mode parquet)
    val out = java.nio.file.Files.createTempDirectory("late_out").toString
    def start() = {
      val stream = StreamingOps.sessionPaths(
        StreamingOps.readEventStream(spark, d).withWatermark("ts", "10 minutes"))
      stream.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", cp).outputMode("append").start()
    }
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // restart: a LATE user-1 event (10:10 — its one-event session window
    // ends 10:40, far below the restored 12:50 watermark ⇒ documented
    // drop), plus a fresh event so the restarted batch runs eviction
    writeBatch(Seq(
      (4L, ts("2024-01-01 10:10:00"), 1L, "zz", 1.0, "{}"),
      (5L, ts("2024-01-01 13:05:00"), 2L, "y", 1.0, "{}")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = spark.read.parquet(out)
        .where(col("user_id") === 1L)
        .select(col("n_events"), col("path"))
        .as[(Long, String)]
        .collect()
        .toSeq
      assert(got == Seq((2L, "a>b")),
        s"user 1's finalized session must be the pre-watermark transcript without the late event; got $got")
    } finally q2.stop()
  }

  test("streaming near-dup ingest loop: index evolves across batches, replay is exact") {
    import spark.implicits._
    import graft.llm.Dedup
    val docs = graft.core.Tables(spark, dir).documents
      .where(col("text").isNotNull)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val old = docs.where(col("doc_id") < 300)
    val b1  = docs.where(col("doc_id").between(300, 360))
    // batch 2: mutated clones of BATCH-1 docs (droppable only because the
    // index evolved after batch 1) plus a genuinely novel doc
    val b2 = b1
      .orderBy("doc_id")
      .limit(10)
      .select((col("doc_id") + 5000L).as("doc_id"),
        concat(col("text"), lit(" zz9")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .unionByName(Seq((7777L, "xylophone quagga zeppelin marzipan fjord kumquat", "en", "srcx", 48L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val streamDir = java.nio.file.Files.createTempDirectory("nd_ingest_in").toString
    b1.coalesce(1).write.mode("append").parquet(streamDir)
    b2.coalesce(1).write.mode("append").parquet(streamDir)

    val idxDir = java.nio.file.Files.createTempDirectory("nd_ingest_idx").toString
    val outDir = java.nio.file.Files.createTempDirectory("nd_ingest_out").toString
    val cp     = java.nio.file.Files.createTempDirectory("nd_ingest_cp").toString
    Dedup.writeBandedNearDupIndex(old, "doc_id", "text", idxDir, bands = 4, rowsPerBand = 4)

    val q = StreamingOps.nearDupIngestStream(
      StreamingOps.readDocumentStream(spark, streamDir, maxFilesPerTrigger = Some(1)),
      idxDir, outDir, cp)
    try q.processAllAvailable() finally q.stop()

    def partIds(batchId: Long): Set[Long] =
      spark.read.parquet(s"$outDir/batch_id=$batchId").select("doc_id").as[Long].collect().toSet

    // sequential batch application over the same evolving index
    val idx0  = Dedup.signatureProjection(old, "doc_id", "text", 16).drop("__id").distinct()
    val s1    = Dedup.incrementalNearDupNew(b1, "doc_id", "text", idx0, 4, 4, 0.75)
      .select("doc_id").as[Long].collect().toSet
    val surv1 = b1.where(col("doc_id").isin(s1.toSeq: _*))
    val idx1  = idx0.unionByName(
      Dedup.signatureProjection(surv1, "doc_id", "text", 16).drop("__id").distinct())
    val s2 = Dedup.incrementalNearDupNew(b2, "doc_id", "text", idx1, 4, 4, 0.75)
      .select("doc_id").as[Long].collect().toSet
    assert(partIds(0) == s1, s"batch 0 survivors diverge: ${partIds(0)} vs $s1")
    assert(partIds(1) == s2, s"batch 1 survivors diverge: ${partIds(1)} vs $s2")
    // the novel doc survives; the batch-1 mutated clones were dropped by
    // the EVOLVED index (their originals are not in the bootstrap index)
    assert(s2.contains(7777L), "novel doc must survive batch 2")
    assert(!s2.exists(i => i >= 5300 && i < 5400), s"mutated clones must be dropped, got $s2")

    // replay with a fresh checkpoint: batch ids recur, the src_batch < id
    // filter hides each batch's own (and later) appends, so survivor
    // partitions reproduce exactly despite the polluted index
    val idxRowsAfterFirstRun = spark.read.parquet(s"$idxDir/bands").count()
    val cp2 = java.nio.file.Files.createTempDirectory("nd_ingest_cp2").toString
    val q2 = StreamingOps.nearDupIngestStream(
      StreamingOps.readDocumentStream(spark, streamDir, maxFilesPerTrigger = Some(1)),
      idxDir, outDir, cp2)
    try q2.processAllAvailable() finally q2.stop()
    assert(partIds(0) == s1 && partIds(1) == s2, "replayed batches diverged from the first run")
    // index append is idempotent: the replay dynamic-overwrites each batch's
    // src_batch partition, so the index must NOT grow across replays
    assert(spark.read.parquet(s"$idxDir/bands").count() == idxRowsAfterFirstRun,
      "replayed batches must overwrite their src_batch partitions, not re-append")
  }

  test("near-dup ingest refuses a pre-partitioned flat index layout with a rebuild message") {
    import spark.implicits._
    val flatIdx = java.nio.file.Files.createTempDirectory("nd_flat_idx").toString
    // a flat signature table: parquet files at the root, no meta sidecar
    Seq(("d1", 1L, 2L, -1L)).toDF("digest", "sig0", "sig1", "src_batch")
      .coalesce(1).write.mode("overwrite").parquet(flatIdx)
    val err = intercept[IllegalArgumentException] {
      StreamingOps.nearDupIngestStream(
        StreamingOps.readDocumentStream(spark, flatIdx), flatIdx, flatIdx, flatIdx)
    }
    assert(err.getMessage.contains("no meta sidecar") &&
      err.getMessage.contains("writeBandedNearDupIndex"), s"wrong error: ${err.getMessage}")
  }

  test("streaming IVFADC ingest loop: generations land by batch id, restart is a no-op, " +
    "colliding baseGen fails fast") {
    import spark.implicits._
    import graft.llm.IvfPq
    val emb  = graft.core.Tables(spark, dir).embeddings
    val boot = emb.where(col("vec_id") % 3 === 0)
    val b1   = emb.where(col("vec_id") % 3 === 1)
    val b2   = emb.where(col("vec_id") % 3 === 2)
    val (idx, encBoot) =
      IvfPq.build(boot, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    val ixDir = java.nio.file.Files.createTempDirectory("ivfpq_ingest_idx").toString
    IvfPq.writeIndexGen(idx, encBoot, ixDir, srcBatch = 0L)
    val streamDir = java.nio.file.Files.createTempDirectory("ivfpq_ingest_in").toString
    b1.coalesce(1).write.mode("append").parquet(streamDir)
    b2.coalesce(1).write.mode("append").parquet(streamDir)
    val cp = java.nio.file.Files.createTempDirectory("ivfpq_ingest_cp").toString
    val q = StreamingOps.ivfPqIngestStream(
      StreamingOps.readEmbeddingStream(spark, streamDir, maxFilesPerTrigger = Some(1)), ixDir, cp)
    try q.processAllAvailable() finally q.stop()

    def content() = spark.read.parquet(s"$ixDir/cells")
      .select(col("vec_id").cast("long"), col("cell").cast("int"),
        col("code0"), col("code1"), col("code2"), col("code3"), col("src_batch").cast("long"))
      .as[(Long, Int, Int, Int, Int, Int, Long)].collect().toSeq.sorted
    val after = content()

    // stream ≡ sequential batch application against the FROZEN quantizer:
    // bootstrap stays generation 0, the two one-file micro-batches land as
    // baseGen(1) + {0, 1}; which file becomes which batch id is the
    // source's enumeration order, so compare generation CONTENT as sets
    def encSet(df: org.apache.spark.sql.DataFrame) =
      IvfPq.encodeForIndex(df, "vec_id", "embedding", idx)
        .select(col("vec_id").cast("long"), col("cell").cast("int"),
          col("code0"), col("code1"), col("code2"), col("code3"))
        .as[(Long, Int, Int, Int, Int, Int)].collect().toSet
    assert(after.map(_._7).toSet == Set(0L, 1L, 2L),
      s"expected generations {0,1,2}, got ${after.map(_._7).toSet}")
    val gen0 = after.filter(_._7 == 0L).map(t => (t._1, t._2, t._3, t._4, t._5, t._6)).toSet
    val streamed = after.filter(_._7 >= 1L).map(t => (t._1, t._2, t._3, t._4, t._5, t._6)).toSet
    assert(gen0 == encSet(boot), "generation 0 must stay the untouched bootstrap")
    assert(streamed == encSet(b1) ++ encSet(b2),
      "streamed generations must be the frozen-quantizer encoding of the two batches")

    // restart on the SAME checkpoint: nothing left to process, index unchanged
    val q2 = StreamingOps.ivfPqIngestStream(
      StreamingOps.readEmbeddingStream(spark, streamDir, maxFilesPerTrigger = Some(1)), ixDir, cp)
    try q2.processAllAvailable() finally q2.stop()
    assert(content() == after, "restart on the same checkpoint must not change the index")

    // a NEW checkpoint restarts batch ids at 0 — the default baseGen=1 now
    // collides with the existing generations and must fail fast
    val cp2 = java.nio.file.Files.createTempDirectory("ivfpq_ingest_cp2").toString
    val err = intercept[IllegalArgumentException] {
      StreamingOps.ivfPqIngestStream(
        StreamingOps.readEmbeddingStream(spark, streamDir, maxFilesPerTrigger = Some(1)), ixDir, cp2)
    }
    assert(err.getMessage.contains("baseGen"), s"wrong error: ${err.getMessage}")
    // cleared past the max, the new checkpoint re-ingests into fresh generations
    val q3 = StreamingOps.ivfPqIngestStream(
      StreamingOps.readEmbeddingStream(spark, streamDir, maxFilesPerTrigger = Some(1)), ixDir, cp2,
      baseGen = 3L)
    try q3.processAllAvailable() finally q3.stop()
    val gens = content().map(_._7).toSet
    assert(gens == Set(0L, 1L, 2L, 3L, 4L), s"expected generations {0..4}, got $gens")
  }

  test("monitored IVFADC ingest: planted drift triggers rebuild mid-stream, ingest continues " +
    "under the new geometry, replay stays exact") {
    import spark.implicits._
    import graft.llm.IvfPq
    val emb  = graft.core.Tables(spark, dir).embeddings
    val boot = emb.where(col("vec_id") % 3 === 0)
    val b1   = emb.where(col("vec_id") % 3 === 1)
    val b2   = emb.where(col("vec_id") % 3 === 2)
    def shifted(src: org.apache.spark.sql.DataFrame, idOff: Long) = src.select(
      (col("vec_id") + idOff).as("vec_id"),
      transform(col("embedding").cast("array<double>"), x => x + lit(0.75))
        .cast("array<float>").as("embedding"),
      col("label"))
    val drifted = shifted(boot, 100000L)
    val d2      = shifted(b1, 200000L)

    val (idx0, encBoot) =
      IvfPq.build(boot, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    val ixDir = java.nio.file.Files.createTempDirectory("ivfpq_mon_idx").toString
    IvfPq.writeIndexGen(idx0, encBoot, ixDir, srcBatch = 0L)
    val streamDir = java.nio.file.Files.createTempDirectory("ivfpq_mon_in").toString
    val cp        = java.nio.file.Files.createTempDirectory("ivfpq_mon_cp").toString
    val corpus: () => org.apache.spark.sql.DataFrame = () =>
      boot.select("vec_id", "embedding")
        .unionByName(spark.read.parquet(streamDir).select("vec_id", "embedding"))
    def runOnce(): Unit = {
      val q = StreamingOps.ivfPqIngestStreamMonitored(
        StreamingOps.readEmbeddingStream(spark, streamDir, maxFilesPerTrigger = Some(1)),
        ixDir, cp, corpus, tau = 1.15)
      try q.processAllAvailable() finally q.stop()
    }
    def gens() = spark.read.parquet(s"$ixDir/cells")
      .select(col("src_batch").cast("long")).distinct().as[Long].collect().toSet
    def driftGens() = IvfPq.driftHistory(ixDir, spark).get
      .select(col("src_batch").cast("long")).as[Long].collect().toSet
    def meanErr(df: org.apache.spark.sql.DataFrame, idx: IvfPq.IvfPqIndex): Double =
      IvfPq.encodeForIndexWithError(df, "vec_id", "embedding", idx)
        .agg(avg(col("err"))).collect()(0).getDouble(0)

    // two clean (same-distribution) batches: monitored ingest behaves
    // exactly like the plain loop — generations land, no rebuild
    b1.coalesce(1).write.mode("append").parquet(streamDir)
    runOnce()
    b2.coalesce(1).write.mode("append").parquet(streamDir)
    runOnce()
    assert(gens() == Set(0L, 1L, 2L))
    assert(driftGens() == Set(1L, 2L), "each monitored batch must record its drift row")
    assert(IvfPq.loadIndex(ixDir, spark).geomId == IvfPq.geomId(idx0),
      "same-distribution batches must not trigger a rebuild")

    // the drifted batch trips retrainDue mid-stream: the loop rebuilds
    // (history minus the batch collapses to gen 0, the batch re-encodes
    // under the NEW geometry as its own generation) and re-baselines
    drifted.coalesce(1).write.mode("append").parquet(streamDir)
    runOnce()
    val fresh = IvfPq.loadIndex(ixDir, spark)
    assert(fresh.geomId != IvfPq.geomId(idx0), "planted drift must have triggered the rebuild")
    assert(gens() == Set(0L, 3L), s"rebuild must collapse history to gen 0 and re-append the " +
      s"triggering batch as its own generation, got ${gens()}")
    assert(spark.read.parquet(s"$ixDir/cells").count() ==
      boot.count() + b1.count() + b2.count() + drifted.count())
    assert(driftGens() == Set(3L),
      "old-geometry drift rows must be cleared; the triggering batch re-baselines")
    assert(meanErr(drifted, fresh.index) < meanErr(drifted, idx0) * 0.9,
      "the drifted distribution must reconstruct better under the retrained geometry")

    // ingest CONTINUES under the new geometry — no stale-stamp failure,
    // the next generation is the rebuilt quantizer's encoding
    d2.coalesce(1).write.mode("append").parquet(streamDir)
    runOnce()
    assert(gens() == Set(0L, 3L, 4L))
    assert(IvfPq.loadIndex(ixDir, spark).geomId == fresh.geomId,
      "a batch matching the re-baselined distribution must not re-trigger")
    def codeSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id").cast("long"), col("cell").cast("int"),
        col("code0"), col("code1"), col("code2"), col("code3"))
      .as[(Long, Int, Int, Int, Int, Int)].collect().toSet
    assert(
      codeSet(spark.read.parquet(s"$ixDir/cells").where(col("src_batch") === 4L)) ==
        codeSet(IvfPq.encodeForIndex(d2, "vec_id", "embedding", fresh.index)),
      "post-rebuild generations must be the NEW quantizer's encoding")

    // replay stays exact: a restart on the same checkpoint has nothing to
    // process and changes neither the cells nor the drift report
    val before = spark.read.parquet(s"$ixDir/cells")
      .select(col("vec_id").cast("long"), col("cell").cast("int"), col("src_batch").cast("long"))
      .as[(Long, Int, Long)].collect().toSeq.sorted
    runOnce()
    val after = spark.read.parquet(s"$ixDir/cells")
      .select(col("vec_id").cast("long"), col("cell").cast("int"), col("src_batch").cast("long"))
      .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(after == before, "restart on the same checkpoint must not change the index")
    assert(driftGens() == Set(3L, 4L))
  }

  test("monitored IVFADC ingest: a rebuild with batches still PENDING does not duplicate them") {
    // ADVICE r15 #1: corpus() here reads the WHOLE stream source — the
    // natural thing for a files-on-a-directory deployment to pass — so
    // when the drift rebuild fires while later micro-batches are still
    // pending under maxFilesPerTrigger, those rows are visible to
    // corpus() but NOT yet ingested. The loop must not bake them into
    // collapsed gen 0 (their own batch appends them again later =
    // duplicates); it semi-joins corpus() against the ids already in the
    // index instead.
    import spark.implicits._
    import graft.llm.IvfPq
    val emb  = graft.core.Tables(spark, dir).embeddings
    val boot = emb.where(col("vec_id") % 3 === 0)
    val b1   = emb.where(col("vec_id") % 3 === 1)
    def shifted(src: org.apache.spark.sql.DataFrame, idOff: Long) = src.select(
      (col("vec_id") + idOff).as("vec_id"),
      transform(col("embedding").cast("array<double>"), x => x + lit(0.75))
        .cast("array<float>").as("embedding"),
      col("label"))
    val drifted  = shifted(boot, 100000L)
    val trailing = shifted(b1, 200000L) // same post-drift distribution: no re-trigger

    val (idx0, encBoot) =
      IvfPq.build(boot, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    val ixDir = java.nio.file.Files.createTempDirectory("ivfpq_pend_idx").toString
    IvfPq.writeIndexGen(idx0, encBoot, ixDir, srcBatch = 0L)
    val streamDir = java.nio.file.Files.createTempDirectory("ivfpq_pend_in").toString
    val cp        = java.nio.file.Files.createTempDirectory("ivfpq_pend_cp").toString
    val corpus: () => org.apache.spark.sql.DataFrame = () =>
      boot.select("vec_id", "embedding")
        .unionByName(spark.read.parquet(streamDir).select("vec_id", "embedding"))
    def runOnce(): Unit = {
      val q = StreamingOps.ivfPqIngestStreamMonitored(
        StreamingOps.readEmbeddingStream(spark, streamDir, maxFilesPerTrigger = Some(1)),
        ixDir, cp, corpus, tau = 1.15)
      try q.processAllAvailable() finally q.stop()
    }
    // one clean batch establishes the drift baseline
    b1.coalesce(1).write.mode("append").parquet(streamDir)
    runOnce()
    // the drifted batch AND a trailing batch land BEFORE the next run:
    // the rebuild fires on the drifted one while the trailing file is
    // pending — and visible to corpus()
    drifted.coalesce(1).write.mode("append").parquet(streamDir)
    trailing.coalesce(1).write.mode("append").parquet(streamDir)
    runOnce()
    assert(IvfPq.loadIndex(ixDir, spark).geomId != IvfPq.geomId(idx0),
      "planted drift must have triggered the rebuild")
    val cells = spark.read.parquet(s"$ixDir/cells")
    val total = boot.count() + b1.count() + drifted.count() + trailing.count()
    assert(cells.select(col("vec_id").cast("long")).distinct().count() == total,
      "every ingested vector must be present")
    assert(cells.count() == total,
      "no vector may appear twice — a pending batch baked into collapsed gen 0 and then " +
        "appended as its own generation is exactly the duplication this guards against")
    val gens = cells.select(col("src_batch").cast("long")).distinct().as[Long].collect().toSet
    assert(gens == Set(0L, 2L, 3L),
      s"history collapses to gen 0, the trigger re-appends as gen 2, the pending batch " +
        s"arrives as gen 3 — got $gens")
  }

  test("streaming media ingest: decode-once per batch, generations on both tables, replay no-op") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val media = Multimodal.mediaFromDocuments(graft.core.Tables(spark, dir).documents)
      .localCheckpoint(true)
    val boot = media.where(col("media_id") % 2 === 0)
    def shifted(off: Long) = media.where(col("media_id") % 2 =!= 0)
      .select((col("media_id") + off).as("media_id"), col("kind"), col("content"), col("meta"))
    val b1 = shifted(10000L).localCheckpoint(true)
    val b2 = shifted(20000L).localCheckpoint(true)
    val fDir = java.nio.file.Files.createTempDirectory("media_stream_f").toString
    val iDir = java.nio.file.Files.createTempDirectory("media_stream_i").toString
    Multimodal.writeFeaturesGen(boot, fDir)
    Multimodal.writeMediaIndex(fDir, iDir, spark)
    val streamDir = java.nio.file.Files.createTempDirectory("media_stream_in").toString
    val cp        = java.nio.file.Files.createTempDirectory("media_stream_cp").toString
    b1.coalesce(1).write.mode("append").parquet(streamDir)
    b2.coalesce(1).write.mode("append").parquet(streamDir)
    def runOnce(): Unit = {
      val q = StreamingOps.mediaIngestStream(
        spark.readStream.schema(media.schema).option("maxFilesPerTrigger", 1).parquet(streamDir),
        fDir, iDir, cp)
      try q.processAllAvailable() finally q.stop()
    }
    Multimodal.decodeCount.set(0L)
    runOnce()
    assert(Multimodal.decodeCount.get() == b1.count() + b2.count(),
      s"each streamed payload must decode exactly once, got ${Multimodal.decodeCount.get()}")
    def gens(path: String) = spark.read.parquet(path)
      .select(col("src_batch").cast("long")).distinct().as[Long].collect().toSet
    assert(gens(s"$fDir/features") == Set(0L, 1L, 2L))
    assert(gens(s"$iDir/buckets") == Set(0L, 1L, 2L))
    // the streamed rows are served by the index: an exact copy of a
    // streamed row scores 1.0 (decodes only the 1-row query batch)
    val hit = Multimodal.searchMediaIndexed(iDir, b1.limit(1), k = 1).collect()
    assert(hit.length == 1 && hit(0).getAs[Double]("cos_sim") == 1.0, hit.mkString)
    // restart on the same checkpoint: nothing to process — no decodes,
    // nothing rewritten
    val featRows = spark.read.parquet(s"$fDir/features").count()
    Multimodal.decodeCount.set(0L)
    runOnce()
    assert(Multimodal.decodeCount.get() == 0L, "a replay-free restart must not decode")
    assert(spark.read.parquet(s"$fDir/features").count() == featRows)
    // a NEW checkpoint must clear the existing generations
    val cp2 = java.nio.file.Files.createTempDirectory("media_stream_cp2").toString
    val err = intercept[IllegalArgumentException] {
      StreamingOps.mediaIngestStream(
        spark.readStream.schema(media.schema).parquet(streamDir), fDir, iDir, cp2)
    }
    assert(err.getMessage.contains("baseGen"), err.getMessage)
  }

  test("monitored LSH ingest: planted growth rebuilds mid-stream, ingest continues under the " +
    "new sizing, replay stays exact") {
    import spark.implicits._
    import graft.llm.AnnBuckets
    val emb  = graft.core.Tables(spark, dir).embeddings
    val boot = emb.where(col("vec_id") < 100)
    val b1   = emb.where(col("vec_id") >= 100 && col("vec_id") < 300)
    val b2   = emb.where(col("vec_id") >= 300)
    val ixDir = java.nio.file.Files.createTempDirectory("lsh_mon_idx").toString
    AnnBuckets.writeBucketsGen(boot, "vec_id", "embedding", ixDir) // defaults: 4 bits (clamp)
    val m0 = AnnBuckets.readBucketsMeta(ixDir, spark)
    val streamDir = java.nio.file.Files.createTempDirectory("lsh_mon_in").toString
    val cp        = java.nio.file.Files.createTempDirectory("lsh_mon_cp").toString
    // occupancy target 8 with slack 2 → trigger at mean 16: the bootstrap
    // serves under it, b1's arrival crosses it only AFTER b1 lands, so the
    // rebuild fires exactly before b2's append
    def runOnce(): Unit = {
      val q = StreamingOps.lshIngestStreamMonitored(
        StreamingOps.readEmbeddingStream(spark, streamDir, maxFilesPerTrigger = Some(1)),
        ixDir, cp, targetBucketRows = 8, slack = 2.0)
      try q.processAllAvailable() finally q.stop()
    }
    b1.coalesce(1).write.mode("append").parquet(streamDir)
    runOnce()
    val m1 = AnnBuckets.readBucketsMeta(ixDir, spark)
    assert(m1.epoch == m0.epoch && m1.nBits == m0.nBits,
      "under-threshold occupancy must not rebuild")
    b2.coalesce(1).write.mode("append").parquet(streamDir)
    runOnce()
    val m2 = AnnBuckets.readBucketsMeta(ixDir, spark)
    assert(m2.epoch == m0.epoch + 1 && m2.nBits > m0.nBits,
      s"ballooned occupancy must rebuild mid-stream: epoch ${m2.epoch} bits ${m2.nBits}")
    // history (boot + b1) collapsed to gen 0; b2 appended AFTER the
    // rebuild as its own generation under the new sizing
    val gens = spark.read.parquet(s"$ixDir/buckets")
      .select(col("src_batch").cast("long")).distinct().as[Long].collect().toSet
    assert(gens == Set(0L, 2L), s"expected {0, 2}, got $gens")
    assert(spark.read.parquet(s"$ixDir/buckets").count() == 500L * m2.nTables)
    assert(!AnnBuckets.rebuildDue(
      AnnBuckets.bucketOccupancy(ixDir, spark), targetBucketRows = 8, slack = 2.0),
      "rebuild must restore the occupancy target")
    // b2's generation is bucketed under the REBUILT hyperplane sizing
    val gen2 = spark.read.parquet(s"$ixDir/buckets").where(col("src_batch") === 2L)
      .select(col("tb").cast("int"), col("vec_id").cast("long")).as[(Int, Long)]
      .collect().toSet
    val expected = AnnBuckets
      .bucketedRows(b2, "vec_id", "embedding", m2.nBits, m2.dims, m2.nTables, m2.seed)
      .select(col("tb").cast("int"), col("vec_id").cast("long")).as[(Int, Long)]
      .collect().toSet
    assert(gen2 == expected, "post-rebuild generations must bucket under the new sizing")
    // replay stays exact
    val before = spark.read.parquet(s"$ixDir/buckets")
      .select(col("tb").cast("int"), col("vec_id").cast("long"), col("src_batch").cast("long"))
      .as[(Int, Long, Long)].collect().toSeq.sorted
    runOnce()
    val after = spark.read.parquet(s"$ixDir/buckets")
      .select(col("tb").cast("int"), col("vec_id").cast("long"), col("src_batch").cast("long"))
      .as[(Int, Long, Long)].collect().toSeq.sorted
    assert(after == before, "restart on the same checkpoint must not change the index")
  }

  test("streaming LSH ingest loop: frozen-plane generations, restart no-op, collision guard") {
    import spark.implicits._
    import graft.llm.AnnBuckets
    val emb  = graft.core.Tables(spark, dir).embeddings
    val boot = emb.where(col("vec_id") % 3 === 0)
    val b1   = emb.where(col("vec_id") % 3 === 1)
    val b2   = emb.where(col("vec_id") % 3 === 2)
    val ixDir = java.nio.file.Files.createTempDirectory("lsh_ingest_idx").toString
    AnnBuckets.writeBucketsGen(boot, "vec_id", "embedding", ixDir, nBits = 4, nTables = 2,
      nProbes = 0, srcBatch = 0L)
    val streamDir = java.nio.file.Files.createTempDirectory("lsh_ingest_in").toString
    b1.coalesce(1).write.mode("append").parquet(streamDir)
    b2.coalesce(1).write.mode("append").parquet(streamDir)
    val cp = java.nio.file.Files.createTempDirectory("lsh_ingest_cp").toString
    val q = StreamingOps.lshIngestStream(
      StreamingOps.readEmbeddingStream(spark, streamDir, maxFilesPerTrigger = Some(1)), ixDir, cp)
    try q.processAllAvailable() finally q.stop()

    def content() = spark.read.parquet(s"$ixDir/buckets")
      .select(col("tb").cast("int"), col("vec_id").cast("long"), col("src_batch").cast("long"))
      .as[(Int, Long, Long)].collect().toSeq.sorted
    val after = content()
    assert(after.map(_._3).toSet == Set(0L, 1L, 2L))
    // streamed generations = the frozen-plane bucketing of the two batches
    // (bucket content as sets — file→batch-id mapping is enumeration order)
    val streamedIds = after.filter(_._3 >= 1L).map(_._2).toSet
    assert(streamedIds == (b1.select(col("vec_id").cast("long")).as[Long].collect().toSet ++
      b2.select(col("vec_id").cast("long")).as[Long].collect().toSet))
    // the fully-streamed index serves identically to the one-shot in-memory plan
    TestSpark.assertFrameEqual(
      AnnBuckets.approxTopKIndexed(ixDir, emb, "vec_id", "embedding", k = 5),
      AnnBuckets.approxTopK(emb, "vec_id", "embedding", k = 5, nBits = 4, nTables = 2,
        nProbes = 0))
    // restart on the SAME checkpoint: no-op
    val q2 = StreamingOps.lshIngestStream(
      StreamingOps.readEmbeddingStream(spark, streamDir, maxFilesPerTrigger = Some(1)), ixDir, cp)
    try q2.processAllAvailable() finally q2.stop()
    assert(content() == after, "restart on the same checkpoint must not change the index")
    // fresh checkpoint + default baseGen collides with generations 1-2
    val cp2 = java.nio.file.Files.createTempDirectory("lsh_ingest_cp2").toString
    val err = intercept[IllegalArgumentException] {
      StreamingOps.lshIngestStream(
        StreamingOps.readEmbeddingStream(spark, streamDir, maxFilesPerTrigger = Some(1)),
        ixDir, cp2)
    }
    assert(err.getMessage.contains("baseGen"), s"wrong error: ${err.getMessage}")
  }

  test("monitored IVFADC and LSH ingest: a fresh checkpoint with a colliding baseGen fails " +
    "fast and leaves the index untouched") {
    import spark.implicits._
    import graft.llm.{AnnBuckets, IvfPq}
    val emb  = graft.core.Tables(spark, dir).embeddings
    val boot = emb.where(col("vec_id") % 3 === 0)
    val b1   = emb.where(col("vec_id") % 3 === 1)
    val streamDir = java.nio.file.Files.createTempDirectory("mon_guard_in").toString
    b1.coalesce(1).write.mode("append").parquet(streamDir)
    def stream() = StreamingOps.readEmbeddingStream(spark, streamDir)
    def gens(table: String) = spark.read.parquet(table)
      .select(col("src_batch").cast("long")).distinct().as[Long].collect().toSet
    // each index holds generations {0, 1}: a new checkpoint at the
    // default baseGen = 1 would overwrite generation 1
    val (idx, encBoot) =
      IvfPq.build(boot, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    val pqDir = java.nio.file.Files.createTempDirectory("mon_guard_pq").toString
    IvfPq.writeIndexGen(idx, encBoot, pqDir, srcBatch = 0L)
    IvfPq.appendToIndex(pqDir, b1, "vec_id", "embedding", srcBatch = 1L)
    val lshDir = java.nio.file.Files.createTempDirectory("mon_guard_lsh").toString
    AnnBuckets.writeBucketsGen(boot, "vec_id", "embedding", lshDir, nBits = 4, nTables = 2,
      nProbes = 0, srcBatch = 0L)
    AnnBuckets.appendToBuckets(lshDir, b1, "vec_id", "embedding", srcBatch = 1L)
    val pqErr = intercept[IllegalArgumentException] {
      StreamingOps.ivfPqIngestStreamMonitored(stream(), pqDir,
        java.nio.file.Files.createTempDirectory("mon_guard_pq_cp").toString, () => boot)
    }
    assert(pqErr.getMessage.contains("baseGen"), s"wrong error: ${pqErr.getMessage}")
    assert(gens(s"$pqDir/cells") == Set(0L, 1L))
    val lshErr = intercept[IllegalArgumentException] {
      StreamingOps.lshIngestStreamMonitored(stream(), lshDir,
        java.nio.file.Files.createTempDirectory("mon_guard_lsh_cp").toString)
    }
    assert(lshErr.getMessage.contains("baseGen"), s"wrong error: ${lshErr.getMessage}")
    assert(gens(s"$lshDir/buckets") == Set(0L, 1L))
  }

  test("streaming IVFADC encode matches the batch encoder and the build pipeline") {
    import graft.llm.IvfPq
    val emb = graft.core.Tables(spark, dir).embeddings
    val (idx, builtEncoded) =
      IvfPq.build(emb, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    // cross-path parity: the one-pass kernel (what build now returns)
    // equals the two-stage assignment + residual + encode pipeline
    // bit-for-bit
    val kernelBatch = IvfPq.encodeForIndex(emb, "vec_id", "embedding", idx)
    TestSpark.assertFrameEqual(
      kernelBatch,
      IvfPq.encodeViaResiduals(emb, "vec_id", "embedding", idx)
        .select("vec_id", "cell", "code0", "code1", "code2", "code3"))
    TestSpark.assertFrameEqual(
      kernelBatch,
      builtEncoded.select("vec_id", "cell", "code0", "code1", "code2", "code3"))
    // stream ≡ batch: the same projection over a 2-file embedding stream
    val d = java.nio.file.Files.createTempDirectory("ivfpq_stream").toString
    emb.where(col("vec_id") % 2 === 0).coalesce(1).write.mode("append").parquet(d)
    emb.where(col("vec_id") % 2 === 1).coalesce(1).write.mode("append").parquet(d)
    val stream = StreamingOps.ivfPqEncodeStream(
      StreamingOps.readEmbeddingStream(spark, d, maxFilesPerTrigger = Some(1)), idx)
    val q = stream.writeStream
      .format("memory")
      .queryName("ivfpq_enc_out")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val got = stream.sparkSession.table("ivfpq_enc_out")
      TestSpark.assertFrameEqual(got, kernelBatch)
    } finally q.stop()
  }

  test("streaming drift monitor matches the batch error encoder row-for-row") {
    import graft.llm.IvfPq
    val emb = graft.core.Tables(spark, dir).embeddings
    val (idx, _) =
      IvfPq.build(emb, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    val batch = IvfPq.encodeForIndexWithError(emb, "vec_id", "embedding", idx)
    val d = java.nio.file.Files.createTempDirectory("ivfpq_drift_stream").toString
    emb.where(col("vec_id") % 2 === 0).coalesce(1).write.mode("append").parquet(d)
    emb.where(col("vec_id") % 2 === 1).coalesce(1).write.mode("append").parquet(d)
    val stream = StreamingOps.ivfPqDriftStream(
      StreamingOps.readEmbeddingStream(spark, d, maxFilesPerTrigger = Some(1)), idx)
    val q = stream.writeStream
      .format("memory")
      .queryName("ivfpq_drift_out")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      TestSpark.assertFrameEqual(stream.sparkSession.table("ivfpq_drift_out"), batch)
    } finally q.stop()
  }

  test("streaming IVFADC scorer matches the batch scorer and the single-query topK") {
    import graft.llm.IvfPq
    val emb = graft.core.Tables(spark, dir).embeddings
    val (idx, encoded) =
      IvfPq.build(emb, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    val enc     = encoded.persist()
    val queries = emb.where(col("vec_id") < 30)
    try {
      val batch = IvfPq.scoreCandidates(queries, enc, idx, nProbe = 4)
      // single-query consistency: the scorer's candidates, ranked, ARE topK
      val q42 = emb.where(col("vec_id") === 42)
        .select(col("embedding").cast("array<double>")).collect()(0).getSeq[Double](0).toArray
      val viaScorer = IvfPq
        .scoreCandidates(emb.where(col("vec_id") === 42), enc, idx, nProbe = 4)
        .orderBy(col("adc_dist").asc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "adc_dist")
      TestSpark.assertFrameEqual(viaScorer, IvfPq.topK(idx, enc, q42, k = 10, nProbe = 4))
      // stream ≡ batch across 3 micro-batches
      val d = java.nio.file.Files.createTempDirectory("ivfpq_score_stream").toString
      for (r <- 0 until 3)
        queries.where(col("vec_id") % 3 === r).coalesce(1).write.mode("append").parquet(d)
      val stream = StreamingOps.ivfPqScoreStream(
        StreamingOps.readEmbeddingStream(spark, d, maxFilesPerTrigger = Some(1)), idx, enc,
        nProbe = 4)
      val q = stream.writeStream
        .format("memory")
        .queryName("ivfpq_score_out")
        .outputMode("append")
        .start()
      try {
        q.processAllAvailable()
        val got = spark.table("ivfpq_score_out").orderBy("q_id", "vec_id")
        TestSpark.assertFrameEqual(got, batch.orderBy("q_id", "vec_id"))
      } finally q.stop()
    } finally enc.unpersist(false)
  }

  test("foreachBatch parquet sink round-trips every event") {
    val outDir = java.nio.file.Files.createTempDirectory("sink").toString
    val q = StreamingOps
      .readEventStream(spark, streamDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("append").parquet(outDir)
      }
      .start()
    try {
      q.awaitTermination(60000)
      val got  = spark.read.parquet(outDir).count()
      val want = graft.core.Tables(spark, dir).events.count()
      assert(got == want)
    } finally q.stop()
  }

  test("streaming near-dup (banded minhash in flatMapGroupsWithState) matches batch pairs") {
    import org.apache.spark.sql.types._
    val docs = graft.core.Tables(spark, dir).documents
    // two micro-batches — evens first, odds second — so pairs must form
    // ACROSS batches through the bucket state, not just within one batch
    val stage = java.nio.file.Files.createTempDirectory("docs_stream")
    def addFile(name: String, filter: org.apache.spark.sql.Column): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("docs_part").toString
      docs.where(filter).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, stage.resolve(name))
    }
    addFile("batch0.parquet", col("doc_id") % 2 === 0)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = StreamingOps.nearDupPairsStream(
      spark.readStream.schema(schema).parquet(stage.toString),
      "doc_id", "text", bands = 4, rowsPerBand = 2, tau = 0.5)
    val q = stream.writeStream
      .format("memory")
      .queryName("neardup_out")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      addFile("batch1.parquet", col("doc_id") % 2 === 1)
      q.processAllAvailable()
      // pairs repeat once per shared band — compare as sets (the batch
      // op's distinct)
      val got = stream.sparkSession.table("neardup_out")
        .select("a_id", "b_id", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = graft.llm.Dedup
        .nearDupPairs(docs, "doc_id", "text", bands = 4, rowsPerBand = 2, tau = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(want.nonEmpty, "fixture produced no near-dup pairs; spec is vacuous")
      assert(got == want, s"stream-only: ${got -- want}; batch-only: ${want -- got}")
    } finally q.stop()
  }

  test("streaming similarity search over 2+ micro-batches matches the batch bucket join") {
    // stage embeddings into two files → two micro-batches; the corpus is
    // the full static table (self-indexing: same-id matches are skipped)
    val d = java.nio.file.Files.createTempDirectory("emb_stream").toString
    spark.read
      .parquet(s"$dir/embeddings.parquet")
      .repartition(2)
      .write
      .mode("overwrite")
      .parquet(d)
    val corpus = graft.core.Tables(spark, dir).embeddings
    val stream = StreamingOps.similarCandidatesStream(
      StreamingOps.readEmbeddingStream(spark, d, maxFilesPerTrigger = Some(1)),
      corpus, "vec_id", "embedding", tau = 0.5)
    val q = stream.writeStream
      .format("memory")
      .queryName("sim_out")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
      val got = spark.table("sim_out").distinct()
      val want = StreamingOps
        .similarCandidatesStream(corpus, corpus, "vec_id", "embedding", tau = 0.5)
        .distinct()
      TestSpark.assertFrameEqual(got, want, normalizeNtz = true)
    } finally q.stop()
  }

  test("streaming similarity search: stream-side probes only ADD pairs over the plain read") {
    // the r14 probed-auto default probes the STREAM side (flip buckets per
    // table); probing can only widen the candidate set, and every emitted
    // pair still carries its exact rounded cosine >= tau
    val corpus = graft.core.Tables(spark, dir).embeddings
    def pairs(nProbes: Int): Set[(Long, Long)] = StreamingOps
      .similarCandidatesStream(corpus, corpus, "vec_id", "embedding", tau = 0.25,
        nBits = 4, nTables = 2, nProbes = nProbes)
      .select("a_id", "b_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain  = pairs(0)
    val probed = pairs(2)
    assert(plain.nonEmpty, "fixture produced no pairs; spec is vacuous")
    assert(plain.subsetOf(probed),
      s"probing must only add candidates: missing ${(plain -- probed).take(5)}")
    assert(probed.size > plain.size,
      "2 probes found no additional >=tau pairs on the fixture — the probe side is likely dead")
  }

  test("streaming corpus ingest matches the batch filter + dedup across micro-batches") {
    // stage documents into two files → two micro-batches; planted dup in
    // BOTH batches must survive exactly once even when the copies arrive
    // in different micro-batches
    val docs = graft.core.Tables(spark, dir).documents
    val base = docs.limit(40).select("doc_id", "text", "lang", "source", "n_chars")
    val dupAcrossBatches = base
      .where(col("doc_id") === 0)
      .select(
        (col("doc_id") + 100000L).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    val d = java.nio.file.Files.createTempDirectory("doc_stream").toString
    base.where(col("doc_id") < 20).write.mode("overwrite").parquet(s"$d/p=0")
    base.where(col("doc_id") >= 20).unionByName(dupAcrossBatches)
      .write.mode("overwrite").parquet(s"$d/p=1")
    val staged = spark.read.parquet(s"$d/p=0").unionByName(spark.read.parquet(s"$d/p=1"))

    val minW = 1L // synthetic docs are short; exercise the dedup path, not the word band
    val stream = StreamingOps.ingestDocumentsStream(
      StreamingOps.readDocumentStream(spark, s"$d/p=0").unionByName(
        StreamingOps.readDocumentStream(spark, s"$d/p=1")),
      minWords = minW)
    val q = stream.writeStream
      .format("memory")
      .queryName("ingest_out")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("ingest_out")
      val want = graft.llm.CorpusPipeline
        .qualityFilter(staged, "text", "n_chars", minWords = minW)
        .withColumn("digest", md5(col("text").cast("binary")))
      // first-wins vs lowest-id-wins may pick different SURVIVORS for a
      // dup set; the kept digest set and quality values must agree
      TestSpark.assertFrameEqual(
        got.select("digest", "quality").distinct(),
        want.select("digest", "quality").distinct())
      assert(got.count() == want.select("digest").distinct().count(), "one survivor per digest")
      assert(
        got.where(col("doc_id").isin(0L, 100000L)).count() == 1,
        "cross-batch planted dup must survive exactly once")
    } finally q.stop()
  }

  test("stream-static broadcast join matches the batch enrichment") {
    val dim = graft.core.Tables(spark, dir).customer
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val stream = StreamingOps
      .enrichedEvents(StreamingOps.readEventStream(spark, streamDir), dim, "user_id")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
    val q = stream.writeStream
      .format("memory")
      .queryName("enrich_out")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val got = stream.sparkSession.table("enrich_out")
      val want = graft.core.Tables(spark, dir).events
        .join(dim, Seq("user_id"), "left")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      TestSpark.assertFrameEqual(got, want, normalizeNtz = true)
    } finally q.stop()
  }

  test("idempotent foreachBatch sink: replayed batch does not duplicate; restart is a no-op") {
    val outDir = java.nio.file.Files.createTempDirectory("eo_sink").toString
    val ckpt   = java.nio.file.Files.createTempDirectory("eo_ckpt").toString
    val want   = graft.core.Tables(spark, dir).events.count()
    def run(): Unit = {
      val q = StreamingOps.exactlyOnceParquetSink(
        StreamingOps.readEventStream(spark, streamDir), outDir, ckpt)
      try q.awaitTermination(60000) finally q.stop()
    }
    run()
    assert(spark.read.parquet(outDir).count() == want)
    // restart with the same checkpoint: completed batches are not re-run
    run()
    assert(spark.read.parquet(outDir).count() == want)
    // simulate the at-least-once replay window: re-write batch 0 —
    // materialized first, since a lazy self-read would see its own
    // overwrite delete the source files mid-plan
    val batch0 = spark.read.parquet(s"$outDir/batch_id=0")
    val replay = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(batch0.collect(): _*)), batch0.schema)
    StreamingOps.writeBatchIdempotent(replay, outDir, 0L)
    assert(spark.read.parquet(outDir).count() == want)
  }

  test("streaming BM25 scoring over 2+ micro-batches matches the batch scorer") {
    import graft.llm.Bm25
    val docs = graft.core.Tables(spark, dir).documents
      .select("doc_id", "text", "lang", "source", "n_chars")
    val d = java.nio.file.Files.createTempDirectory("bm25_stream").toString
    docs.where(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(s"$d/p=0")
    docs.where(col("doc_id") % 2 === 1).write.mode("overwrite").parquet(s"$d/p=1")
    val terms = Seq("spark", "window", "merge")
    val stream = Bm25.scoreStream(
      StreamingOps.readDocumentStream(spark, s"$d/p=0").unionByName(
        StreamingOps.readDocumentStream(spark, s"$d/p=1")),
      docs, "doc_id", "text", terms, minScore = 1e-6)
    val q = stream.writeStream
      .format("memory")
      .queryName("bm25_out")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val got = stream.sparkSession.table("bm25_out")
      // the SAME op applied to the bounded frame is the batch oracle (the
      // scoring projection is stateless; stats come from the static side)
      val want = Bm25.scoreStream(docs, docs, "doc_id", "text", terms, minScore = 1e-6)
      assert(want.count() > 0, "fixture matched no query terms; spec is vacuous")
      TestSpark.assertFrameEqual(got, want, normalizeNtz = true)
      // and the stream's top-k agrees with the declared batch ranking
      val batchTop = Bm25.topK(docs, "doc_id", "text", terms, k = 5)
        .where(col("score") > 0) // the stream filters at minScore; zero-score
        .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val streamTop = got.orderBy(col("score").desc, col("doc_id").asc).limit(5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(streamTop == batchTop)
    } finally q.stop()
  }

  test("streaming count-min sketch across micro-batches equals the batch sketch") {
    // the sketch agg is the SAME definition both modes; three files → three
    // micro-batches whose counter merges must reproduce the batch counts
    val docs = graft.core.Tables(spark, dir).documents
      .select("doc_id", "text", "lang", "source", "n_chars")
    val d = java.nio.file.Files.createTempDirectory("cms_stream").toString
    docs.repartition(3).write.mode("overwrite").parquet(d)
    val stream = StreamingOps.cmsSketchStream(
      StreamingOps.readDocumentStream(spark, d, maxFilesPerTrigger = Some(1)),
      depth = 4, width = 32)
    val q = stream.writeStream
      .format("memory")
      .queryName("cms_out")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      assert(
        q.recentProgress.count(_.numInputRows > 0) >= 3,
        s"expected >=3 non-empty micro-batches, got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
      val got  = spark.table("cms_out")
      val want = graft.llm.Sketches.countMinSketch(spark.read.parquet(d), "text",
        depth = 4, width = 32)
      TestSpark.assertFrameEqual(got, want, normalizeNtz = true)
    } finally q.stop()
  }

  test("mapGroupsWithState running user counts cover every event") {
    val stream = StreamingOps.runningUserCounts(StreamingOps.readEventStream(spark, streamDir))
    val q = stream.writeStream
      .format("memory")
      .queryName("state_out")
      .outputMode("update")
      .start()
    try {
      q.processAllAvailable()
      val got  = stream.sparkSession.table("state_out").agg(sum("n_events")).collect()(0).getLong(0)
      val want = graft.core.Tables(spark, dir).events.count()
      assert(got == want)
    } finally q.stop()
  }
}
