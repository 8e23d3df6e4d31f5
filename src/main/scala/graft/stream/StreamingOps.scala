package graft.stream

import graft.core.Generations
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.sql.types._

/** Structured Streaming operators over the event stream (SURVEY.md §2B
  * streaming). The batch queries in [[EventQueries]] and these streaming
  * ops share the same `groupBy(window(...))` plans — the DataFrame is the
  * common IR; only the source (`read` vs `readStream`) and sink differ.
  */
object StreamingOps {

  /** Streaming source for the events table. Schema must be declared for
    * `readStream`, and the `ts` encoding varies by producer: INT64
    * TIMESTAMP(NANOS) files are read as long (nanosAsLong) and truncated
    * to a microsecond timestamp, TIMESTAMP(MICROS) NTZ files are cast to
    * TIMESTAMP — Spark watermarks require TIMESTAMP event time
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and under the UTC session
    * timezone the cast is value-preserving, so stream and batch plans
    * agree on every instant even though the batch reader keeps the
    * oracle-aligned NTZ type. The encoding is discovered with ONE
    * driver-side footer read of the directory (no data scan).
    *
    * NOTE: the returned frame is bound to the nanosAsLong CHILD session
    * (`Tables.nanosSession`) — queries started on it register (and memory
    * sinks resolve) in `df.sparkSession`, NOT the caller's session. Read
    * sink tables via `stream.sparkSession.table(name)`.
    */
  def readEventStream(
      spark: SparkSession,
      dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // isolated child session (see Tables.nanosSession) — the legacy conf
    // must not leak into the caller's other parquet reads
    val s = graft.core.Tables.nanosSession(spark)
    val onDiskTs = s.read.parquet(dir).schema("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", onDiskTs),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val reader = s.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val df = reader.parquet(dir)
    if (onDiskTs == LongType) df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Watermarked tumbling 1 h aggregation (late data beyond 10 min
    * dropped). Identical aggregation semantics to the batch
    * `q11_events_tumbling_1h`.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))

  /** Session transcript assembly — q81's aggregation, shared verbatim by
    * the batch query and the streaming variant (one definition, so the
    * sort/tie-break semantics cannot fork): per session-window, the
    * COMPLETE ordered event-type path as one string, event_id breaking
    * equal timestamps. Runs unchanged under `readStream` (the
    * StreamingSpec case adds the watermark): per-open-session state is
    * the collected (ts, event_id, type) list — the bound any transcript
    * materialization carries — reclaimed as the watermark closes the
    * session.
    */
  def sessionPaths(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        array_join(
          transform(
            sort_array(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            e => e("event_type")),
          ">").as("path"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"), col("path"))

  /** Watermarked SLIDING window aggregation (1 h window / 15 min slide by
    * default): each event contributes to windowDuration/slide overlapping
    * windows; Spark expands the assignment per row, so state stays bounded
    * by (n_windows_open × groups), reclaimed as the watermark passes window
    * end. Identical aggregation semantics to the batch `q66_events_sliding`.
    */
  def slidingCounts(
      events: DataFrame,
      windowDuration: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), windowDuration, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Stateful exact dedup keyed by event_id with bounded state: duplicates
    * arriving within the watermark are dropped, state for expired
    * watermarks is reclaimed — the streaming form of exact dedup at scale.
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** STREAMING near-dup dedup — the north-star dedup story's missing
    * member: banded MinHash inside `flatMapGroupsWithState`, with the
    * exact-Jaccard verification of the batch [[graft.llm.Dedup.nearDupPairs]]
    * done at emit time.
    *
    * Shape: signatures come from the stateless per-row projection
    * ([[graft.llm.Dedup.bandedProjection]] — `array_min(transform(...))`,
    * so no unbounded signature aggregation), then documents group by
    * (band_idx, band_val) and each bucket keeps its seen (id, tokens) list
    * as group state: a new document emits one verified pair per prior
    * bucket member with Jaccard ≥ `tau` (a_id < b_id, jaccard rounded to
    * 6 dp like the batch op). Pairs sharing SEVERAL bands are emitted once
    * per band — set-dedupe downstream (the batch op's `.distinct()`), kept
    * out of this operator so it stays single-stateful-op and append-mode.
    *
    * State bounds: per-bucket membership is capped at `maxBandDf` docs —
    * the streaming analogue of the batch `maxBandDf` bucket cut, except a
    * stream cannot retract already-emitted pairs, so the FIRST `maxBandDf`
    * arrivals are kept rather than the whole bucket dropped retroactively.
    * Production streams should also evict idle buckets via a timeout; the
    * NoTimeout default matches the bounded-fixture spec.
    */
  def nearDupPairsStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      tau: Double = 0.5,
      maxBandDf: Int = 10000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    graft.llm.Dedup
      .bandedProjection(docs, idCol, textCol, bands, rowsPerBand)
      // state tuples carry the doc id as Long; cast here so any integral
      // idCol (int/short/long) works rather than failing in the encoder
      .select(col("band_idx"), col("band_val"), col("__id").cast("long").as("__id"), col("toks"))
      .as[(Int, String, Long, Seq[String])]
      .groupByKey { case (bi, bv, _, _) => (bi, bv) }
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, String),
         rows: Iterator[(Int, String, Long, Seq[String])],
         state: GroupState[List[(Long, Seq[String])]]) =>
          var seen = state.getOption.getOrElse(Nil)
          val out  = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          rows.foreach { case (_, _, id, toks) =>
            if (seen.size < maxBandDf && !seen.exists(_._1 == id)) {
              val tset = toks.toSet
              seen.foreach { case (oid, otoks) =>
                val oset  = otoks.toSet
                val inter = (tset intersect oset).size.toDouble
                val j     = inter / (tset.size + oset.size - inter)
                // threshold on the ROUNDED value, like the batch op's
                // where(round(jaccard, 6) >= tau) — an unrounded compare
                // would drop pairs sitting within 5e-7 below tau that the
                // batch op emits, breaking batch-equivalence
                val jr = BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                if (jr >= tau)
                  out += ((math.min(id, oid), math.max(id, oid), jr))
              }
              seen = (id, toks) :: seen
            }
          }
          state.update(seen)
          out.iterator
      }
      .toDF("a_id", "b_id", "jaccard")
  }

  /** Stream-static enrichment: join the event stream against a static
    * dimension snapshot. The dim side is broadcast — a stream-static join
    * re-reads the static side per micro-batch, so shipping it as a
    * broadcast keeps every batch shuffle-free on the stream side (the
    * standard dimension-enrichment shape; at 100 TB the stream partitions
    * by event time and the dim is the small side by construction).
    */
  def enrichedEvents(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** STREAM-STREAM interval join: every (view, click) pair by the same
    * user with the click inside `[view_ts, view_ts + within]` — the
    * attribution/correlation primitive two live event substreams need
    * (the one Structured Streaming join shape [[enrichedEvents]] can't
    * cover, because there the dimension side is static).
    *
    * Works on batch AND streaming frames off the same plan. In streaming
    * mode both sides carry a `watermark` and the join condition carries
    * the event-time interval, which is exactly what Spark's
    * stream-stream join needs to BOUND STATE: a buffered view row is
    * evictable once the click watermark passes `view_ts + within`, so
    * state is O(events inside the watermark+interval horizon), never the
    * full history. At cluster scale both sides shuffle on `user_id` —
    * one co-partitioned exchange each, no broadcast, no driver state.
    *
    * `gap_s` is the floor-second difference (both engines count whole
    * second boundaries, so it hash-matches DuckDB's
    * `date_diff('second', ...)`).
    */
  def viewClickPairs(
      events: DataFrame,
      within: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    // batch readers keep the oracle-aligned NTZ type; normalize to TIMESTAMP
    // (value-preserving under the UTC session timezone) so the gap math and
    // the streaming plan (already TIMESTAMP via readEventStream) agree
    val cast = events.withColumn("ts", col("ts").cast("timestamp"))
    val src  = if (cast.isStreaming) cast.withWatermark("ts", watermark) else cast
    val v = src
      .where(col("event_type") === "view")
      .select(
        col("event_id").as("view_id"),
        col("user_id").as("view_user"),
        col("ts").as("view_ts"))
    val c = src
      .where(col("event_type") === "click")
      .select(
        col("event_id").as("click_id"),
        col("user_id").as("click_user"),
        col("ts").as("click_ts"))
    v.join(
        c,
        col("view_user") === col("click_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr(s"INTERVAL $within"))
      .select(
        col("click_id"),
        col("click_user").as("user_id"),
        col("click_ts"),
        col("view_id"),
        col("view_ts"),
        (unix_timestamp(col("click_ts")) - unix_timestamp(col("view_ts"))).as("gap_s"))
  }

  /** Streaming document source (doc_id, text, lang, source, n_chars). */
  def readDocumentStream(
      spark: SparkSession,
      dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType))))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
  }

  /** Streaming corpus ingest — the online half of
    * [[graft.llm.CorpusPipeline]]: the SAME quality-filter stage (pure
    * projections, shared verbatim via
    * [[graft.llm.CorpusPipeline.qualityFilter]]), then exact content
    * dedup across the whole stream (`dropDuplicates` on the text digest,
    * exposed as `digest`). A document whose content already arrived — in
    * this micro-batch or any earlier one — is dropped; the first arrival
    * wins (the batch pipeline's lowest-id election is an offline luxury;
    * first-wins is the standard online semantics).
    *
    * Scale posture: the filter is stateless; dedup state is ONE digest
    * per distinct surviving document (16 bytes + key overhead), the
    * minimum any exact online dedup can hold. For unbounded retention at
    * 100 TB, key the state store to RocksDB and/or add an ingest-time
    * watermark column + `dropDuplicatesWithinWatermark` to TTL the
    * digest set — the declared shape here is the retention-free core.
    */
  def ingestDocumentsStream(
      stream: DataFrame,
      textCol: String = "text",
      nCharsCol: String = "n_chars",
      minWords: Long = 20L,
      maxWords: Long = 100000L,
      minAlphaFrac: Double = 0.8,
      minReqWords: Long = 1L): DataFrame =
    graft.llm.CorpusPipeline
      .qualityFilter(stream, textCol, nCharsCol, minWords, maxWords, minAlphaFrac, minReqWords)
      .withColumn("digest", md5(col(textCol).cast("binary")))
      .dropDuplicates("digest")

  /** STREAMING near-dup ingest loop: each micro-batch is deduplicated
    * against the persisted BANDED signature index
    * ([[graft.llm.Dedup.writeBandedNearDupIndex]] — band candidates from
    * the batch's probed (band_idx, band_bucket) partitions only, then
    * signature-agreement verification, df-capped), survivors land in an
    * idempotent `batch_id=` partition, and the survivors' OWN signatures
    * are appended to the index — so batch N+1 dedups against everything
    * through batch N and the loop is self-evolving. foreachBatch is the
    * right Structured Streaming shape here: the decision is a per-batch
    * relational program (anti-join + window election), not a running
    * aggregation, and the index append is a transactional side effect
    * per batch. The index's meta sidecar carries its bands / rowsPerBand
    * / bucket contract; a directory without one is refused up front.
    *
    * Replay safety: the survivor write is keyed by batch id (overwrite —
    * exactly-once), and the index carries `src_batch` provenance — batch
    * N dedups against `src_batch < N` only, so a REPLAYED batch (crash
    * after its index append) sees exactly the pre-append index instead
    * of dropping its own survivors as self-duplicates. Spec-pinned:
    * two-batch stream ≡ sequential batch application, and a replayed
    * batch reproduces its survivor partition byte-for-byte.
    */
  def nearDupIngestStream(
      docs: DataFrame,
      indexDir: String,
      outDir: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      simTau: Double = 0.75): org.apache.spark.sql.streaming.StreamingQuery = {
    // fail at start, not in the first micro-batch, on a non-banded directory
    graft.llm.Dedup.readBandedMeta(docs.sparkSession, indexDir)
    // no collision guard: a fresh checkpoint replays on purpose (the
    // `src_batch < id` read reproduces each batch's survivors)
    Generations.ingestLoop(docs, checkpoint, baseGen = 0L, guarded = Nil) { (batch, id) =>
      // ONE materialized signature projection per batch, shared by the
      // ingest joins AND the index append, with both pins RELEASED at the
      // end of the step (r17 — local-checkpointing the signatures inside
      // the ingest call left them where the loop could never free them:
      // one batch-sized pin accumulated per micro-batch until RDD GC, the
      // r12 lesson this file already records at the monitored-loop
      // comment below). The survivor-docs write runs inside `use`, BEFORE
      // the append — on a crash between the two writes the replayed batch
      // sees the pre-append index via the beforeBatch guard and
      // reproduces the same survivors.
      graft.llm.Dedup.ingestAppendBanded(
        batch, idCol, textCol, indexDir, batchId = id, simTau = simTau) { survivors =>
        batch
          .join(survivors.select(idCol), Seq(idCol), "left_semi")
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
      }
    }
  }

  /** ONLINE IVFADC encoding: assign each streamed embedding its coarse
    * cell and residual-PQ codes — the index-ingestion half of
    * [[graft.llm.IvfPq]] running on a live stream. Both stages are pure
    * projections (cell = [[graft.llm.KMeans.assign]]'s argmin over the
    * broadcast centroids, codes = the PQ argmin over the broadcast
    * codebooks), so the SAME expressions run batch and streaming with no
    * state and no watermark; a downstream `partitionBy("cell")` sink
    * appends straight into the [[graft.llm.IvfPq.writeIndexGen]] layout's
    * cell partitioning.
    * StreamingSpec pins batch ≡ stream code-for-code.
    */
  def ivfPqEncodeStream(
      embeddings: DataFrame,
      index: graft.llm.IvfPq.IvfPqIndex,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    graft.llm.IvfPq.encodeForIndex(embeddings, idCol, vecCol, index)

  /** STREAMING quantizer-drift monitor — the q136 signal on the ingest
    * stream itself: [[graft.llm.IvfPq.encodeForIndexWithError]] is a
    * stateless projection (cell + codes + exact residual reconstruction
    * error per arriving embedding), so the SAME kernel runs batch and
    * streaming with no state and no watermark; a downstream windowed
    * mean over `err` is the live retrain trigger. StreamingSpec pins
    * batch ≡ stream row-for-row.
    */
  def ivfPqDriftStream(
      embeddings: DataFrame,
      index: graft.llm.IvfPq.IvfPqIndex,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    graft.llm.IvfPq.encodeForIndexWithError(embeddings, idCol, vecCol, index)

  /** STREAMING IVFADC index maintenance — [[nearDupIngestStream]]'s loop
    * shape applied to the ANN index family: each micro-batch of
    * embeddings is encoded against the index's FROZEN quantizer (loaded
    * ONCE, before the loop — the quantizer never changes for the life of
    * the index) and appended as its own `src_batch=<batch id>` generation
    * ([[graft.llm.IvfPq.appendToIndexLoaded]]). Exactly-once comes free:
    * the append is a dynamic-partition overwrite of exactly the batch's
    * `(cell, src_batch)` directories, so a crash-replayed micro-batch
    * rewrites the same partitions instead of duplicating code rows —
    * no dedup state, no transaction log. Unlike the near-dup loop there
    * is no read-back dependency between batches (appends are pure
    * writes), so the loop is embarrassingly sequential-safe.
    * StreamingSpec pins stream ≡ sequential batch application and
    * replay idempotence.
    *
    * `baseGen` maps micro-batch ids (0, 1, …) into the index's
    * generation space as `src_batch = baseGen + id`. It must be FIXED
    * per checkpoint (the default 1 leaves generation 0 to the
    * [[graft.llm.IvfPq.writeIndexGen]] bootstrap): checkpoint-stable ids
    * + a fixed base is what makes a crash replay land on its ORIGINAL
    * generation. Starting a NEW checkpoint against an index with prior
    * stream generations requires bumping `baseGen` past them — a
    * collision would silently overwrite an old generation, so the loop
    * fails fast if `baseGen` does not clear the existing max
    * ([[graft.core.Generations.ingestLoop]]).
    */
  def ivfPqIngestStream(
      embeddings: DataFrame,
      indexDir: String,
      checkpoint: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      baseGen: Long = 1L): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = embeddings.sparkSession
    val cells = s"$indexDir/cells"
    val frozen = graft.llm.IvfPq.loadIndex(indexDir, spark).index
    Generations.ingestLoop(embeddings, checkpoint, baseGen, Seq(cells)) { (batch, srcBatch) =>
      graft.llm.IvfPq.appendToIndexLoaded(indexDir, frozen, batch, idCol, vecCol, srcBatch)
    }
  }

  /** [[ivfPqIngestStream]] with the RETRAIN LOOP IN THE LOOP (r15 —
    * composing the pieces r14 shipped separately): each micro-batch is
    * encoded WITH its residual reconstruction error
    * ([[graft.llm.IvfPq.encodeForIndexWithError]]), appended under the
    * current quantizer, and its (n, mean_err) recorded in the index's
    * durable drift sidecar ([[graft.llm.IvfPq.recordDrift]] — persisted
    * next to the index so the baseline survives restarts; in-memory
    * history would re-baseline on every recovery and miss slow drift).
    * Between micro-batches the loop evaluates
    * [[graft.llm.IvfPq.retrainDue]] over that report, and when it fires,
    * invokes [[graft.llm.IvfPq.retrainAndRebuild]] — retraining on the
    * FULL ingested corpus (the caller's raw-embedding source, evaluated
    * AT REBUILD TIME and semi-joined against the ids already in the
    * index — codes cannot be re-derived from the index, re-encoding
    * needs the raw vectors, but a `corpus()` that reads the stream
    * source must not leak rows from micro-batches still pending under
    * the trigger into collapsed gen 0, where their own later append
    * would duplicate them), clearing the old-geometry drift rows, and
    * continuing
    * ingest under the RELOADED handle — no stale-stamp failure, no
    * manual intervention. Deliberately NOT the trainOn-recent bias a
    * manual [[graft.llm.IvfPq.retrainAndRebuild]] caller may choose: a
    * quantizer trained on only the triggering batch reconstructs that
    * batch optimistically (train-vs-holdout gap), so the re-baselined
    * drift row sits biased-low and the NEXT batch of the same
    * distribution spuriously re-triggers — measured exactly that way in
    * StreamingSpec before this choice was pinned. An index that serves
    * every generation should quantize every generation.
    *
    * Encode economics: the batch's kernel runs twice (once under the
    * error aggregate, once under the append write) — two cheap CPU
    * passes over a micro-batch, chosen over a per-batch
    * `localCheckpoint` whose storage blocks would accumulate until RDD
    * GC in a long-lived loop (the ADVICE r12 serve-path lesson).
    *
    * Crash semantics: a batch replayed after a crash rewrites its own
    * cells generation AND its own drift row (both dynamic overwrites —
    * idempotent). The rebuild itself keeps the batch↔generation mapping
    * stable: history MINUS the triggering batch collapses to gen 0
    * (`corpus()` anti-joined on the id), and the triggering batch is
    * then re-encoded under the NEW geometry as its own generation — so
    * a crash between rebuild and checkpoint commit replays the batch
    * onto exactly that generation (overwrite, not duplication), its
    * fresh drift row re-baselines in the new geometry, and the cleared
    * report cannot double-fire.
    */
  def ivfPqIngestStreamMonitored(
      embeddings: DataFrame,
      indexDir: String,
      checkpoint: String,
      corpus: () => DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      baseGen: Long = 1L,
      tau: Double = 1.25,
      dims: Int = 64,
      nCells: Int = 16,
      m: Int = 4,
      k: Int = 16,
      pqIters: Int = 2,
      seed: Int = 42): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.llm.IvfPq
    val spark = embeddings.sparkSession
    val cells = s"$indexDir/cells"
    // the quantizer handle is a VAR: the rebuild replaces it mid-loop
    var frozen = IvfPq.loadIndex(indexDir, spark).index
    Generations.ingestLoop(embeddings, checkpoint, baseGen, Seq(cells)) { (b, srcBatch) =>
      val enc   = IvfPq.encodeForIndexWithError(b, idCol, vecCol, frozen)
      val stats = enc.agg(count(lit(1)), avg(col("err"))).collect()(0)
      val n     = stats.getLong(0)
      IvfPq.appendEncodedLoaded(indexDir, frozen, enc.drop("err"), srcBatch)
      if (n > 0) {
        IvfPq.recordDrift(indexDir, spark, srcBatch, n, stats.getDouble(1))
        val due = IvfPq.driftHistory(indexDir, spark).exists(IvfPq.retrainDue(_, tau))
        if (due) {
          // rebuild over history WITHOUT the triggering batch, then
          // re-append the batch under the NEW geometry as its own
          // generation — keeps the batch↔generation mapping stable for
          // crash replay (see the crash-semantics note above).
          //
          // `corpus()` is semi-joined against the ids ALREADY IN THE
          // INDEX (ADVICE r15 #1): a corpus() that reads the stream
          // SOURCE — exactly what a files-on-a-directory deployment
          // passes — includes rows from micro-batches still PENDING
          // under the AvailableNow trigger; baking those into collapsed
          // gen 0 would duplicate them when their own batch later
          // appends. The id snapshot is eagerly materialized
          // (localCheckpoint) because the rebuild OVERWRITES the cells
          // table it would otherwise lazily read mid-write; rebuilds
          // are the rare path, and the blocks are dropped right after.
          val ingestedIds = spark.read
            .parquet(s"$indexDir/cells")
            .select(col("vec_id").as(idCol))
            .distinct()
            .localCheckpoint(true)
          try {
            val ingested = corpus().join(ingestedIds, Seq(idCol), "left_semi")
            frozen = IvfPq.retrainAndRebuild(
              indexDir, ingested.join(b, Seq(idCol), "left_anti"), idCol, vecCol, dims,
              nCells, m, k, pqIters, seed, trainOn = ingested)
          } finally {
            ingestedIds.unpersist()
            ()
          }
          IvfPq.clearDrift(indexDir, spark)
          val encNew   = IvfPq.encodeForIndexWithError(b, idCol, vecCol, frozen)
          val newStats = encNew.agg(count(lit(1)), avg(col("err"))).collect()(0)
          IvfPq.appendEncodedLoaded(indexDir, frozen, encNew.drop("err"), srcBatch)
          IvfPq.recordDrift(indexDir, spark, srcBatch, newStats.getLong(0),
            newStats.getDouble(1))
        }
      }
    }
  }

  /** STREAMING LSH-index maintenance — [[ivfPqIngestStream]]'s loop shape
    * for the [[graft.llm.AnnBuckets.writeBucketsGen]] index: each
    * micro-batch of embeddings is bucketed under the index's FROZEN
    * hyperplane parameters (read from the meta sidecar per batch) and
    * appended as generation `src_batch = baseGen + id`
    * ([[graft.llm.AnnBuckets.appendToBuckets]]). Exactly-once comes free
    * from the dynamic-overwrite idempotence; a fresh checkpoint against
    * an index with prior generations fails fast unless `baseGen` clears
    * them — the same silent-history-overwrite guard as the IVFADC loop.
    * Simpler than IVFADC in one important way: hyperplanes are
    * seed-derived constants, so there is NO quantizer drift and no
    * geometry staleness — only SIZING drifts (bucket occupancy grows
    * with appended batches; watch
    * [[graft.llm.AnnBuckets.bucketOccupancy]] and rebuild via
    * `writeBucketsGen` when it outgrows the sized target).
    */
  def lshIngestStream(
      embeddings: DataFrame,
      indexDir: String,
      checkpoint: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      baseGen: Long = 1L): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark   = embeddings.sparkSession
    val buckets = s"$indexDir/buckets"
    graft.llm.AnnBuckets.requireGenerational(indexDir, spark)
    // meta read + layout guard hoisted to per-loop costs (the
    // appendToIndexLoaded economics — ADVICE r14); what stays per batch
    // is ONE tiny geometry-stamp read, which fails the loop fast if
    // rebuildBucketsGen replaces the index mid-stream (the sizing — and
    // the generation space — changed underneath the cached meta)
    val meta = graft.llm.AnnBuckets.readBucketsMeta(indexDir, spark)
    Generations.ingestLoop(embeddings, checkpoint, baseGen, Seq(buckets)) { (batch, srcBatch) =>
      graft.llm.AnnBuckets.appendToBucketsLoaded(indexDir, meta, batch, idCol, vecCol, srcBatch)
    }
  }

  /** [[lshIngestStream]] with the REBUILD LOOP IN THE LOOP — the
    * [[ivfPqIngestStreamMonitored]] shape for the LSH family, closing
    * the same monitor-without-composed-remedy asymmetry one level up:
    * between micro-batches the loop watches bucket occupancy and runs
    * [[graft.llm.AnnBuckets.rebuildBucketsGen]] when
    * [[graft.llm.AnnBuckets.rebuildDue]] fires, then continues ingesting
    * under the returned meta — no stale-stamp failure, no manual
    * intervention.
    *
    * Cost shape (why this is not just "call bucketOccupancy per
    * batch"): the occupancy report is an aggregation over the WHOLE
    * index, a full scan per micro-batch at scale. The loop instead
    * tracks a running row count (seeded from one `bucketOccupancy` read
    * at loop start, advanced by each batch's size) and derives the
    * UNIFORM-occupancy estimate `rows / (2^bits)` per table — a lower
    * bound on the true mean (the denominator counts all key slots, not
    * just occupied ones), so it can only fire late, never spuriously.
    * Only when the estimate fires does the loop pay the exact
    * [[graft.llm.AnnBuckets.bucketOccupancy]] check, and only when THAT
    * confirms does it rebuild.
    *
    * Rebuild ordering (the crash-stable mapping): the check runs BEFORE
    * the batch is appended, so the rebuild's input — the index's own
    * stored embeddings — naturally excludes the in-flight batch; the
    * batch then appends under the NEW sizing as its own generation. A
    * crash replay either re-runs the rebuild on the same corpus (same
    * result, wasted work only) or lands the batch on its own generation
    * (dynamic overwrite — idempotent); no interleaving duplicates rows
    * into the collapsed batch-0.
    */
  def lshIngestStreamMonitored(
      embeddings: DataFrame,
      indexDir: String,
      checkpoint: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      baseGen: Long = 1L,
      targetBucketRows: Int = 128,
      slack: Double = 2.0): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.llm.AnnBuckets
    val spark   = embeddings.sparkSession
    val buckets = s"$indexDir/buckets"
    AnnBuckets.requireGenerational(indexDir, spark)
    // meta and the row counter are VARS: the rebuild replaces both
    var meta = AnnBuckets.readBucketsMeta(indexDir, spark)
    var rowsPerTable = AnnBuckets.bucketOccupancy(indexDir, spark)
      .collect()(0).getAs[Long]("rows") / math.max(1, meta.nTables)
    Generations.ingestLoop(embeddings, checkpoint, baseGen, Seq(buckets)) { (b, srcBatch) =>
      val batchRows = b.count()
      val estMean =
        (rowsPerTable + batchRows).toDouble / (1L << meta.nBits)
      if (estMean > slack * targetBucketRows &&
        AnnBuckets.rebuildDue(
          AnnBuckets.bucketOccupancy(indexDir, spark), targetBucketRows, slack)) {
        meta = AnnBuckets.rebuildBucketsGen(indexDir, spark, targetBucketRows)
      }
      AnnBuckets.appendToBucketsLoaded(indexDir, meta, b, idCol, vecCol, srcBatch)
      rowsPerTable += batchRows
    }
  }

  /** STREAMING MEDIA ingest — the decode-once contract under the
    * AvailableNow loop shape: each micro-batch of opaque media rows is
    * decoded EXACTLY once ([[graft.multimodal.Multimodal.ingestMedia]]:
    * features appended, then the just-persisted vectors — read back, not
    * re-decoded — appended to the LSH media index), with both writes
    * dynamic overwrites of the batch's own generation, so crash replay
    * is idempotent on BOTH tables and no payload is ever decoded twice.
    * Fresh-checkpoint collision guard as in every ingest loop; the meta
    * sidecars and layout guard are HOISTED to per-loop costs (the
    * `appendToBucketsLoaded` economics every ingest loop here follows —
    * per batch only the tiny geometry-stamp read runs, failing the loop
    * fast if the media index is rebuilt mid-stream), and the
    * feature-vs-index width agreement fails fast instead of truncating
    * dot products.
    */
  def mediaIngestStream(
      media: DataFrame,
      featuresDir: String,
      indexDir: String,
      checkpoint: String,
      baseGen: Long = 1L): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark   = media.sparkSession
    val buckets = s"$indexDir/buckets"
    graft.llm.AnnBuckets.requireGenerational(indexDir, spark)
    val indexMeta   = graft.llm.AnnBuckets.readBucketsMeta(indexDir, spark)
    val featureDims = graft.multimodal.Multimodal.featureDims(featuresDir, spark)
    Generations.ingestLoop(media, checkpoint, baseGen, Seq(buckets, s"$featuresDir/features")) {
      (batch, srcBatch) =>
        graft.multimodal.Multimodal
          .ingestMediaLoaded(featuresDir, indexDir, indexMeta, featureDims, batch, srcBatch)
    }
  }

  /** ONLINE IVFADC scoring — the serve half of the residual-PQ story
    * next to [[ivfPqEncodeStream]]'s ingest half: each embedding arriving
    * on the stream is a QUERY scored against the persisted encoded corpus
    * ([[graft.llm.IvfPq.scoreCandidates]] — probe-cell tables from a
    * stateless kernel, one stream-static equi-join on `cell`, m
    * `element_at` lookups per candidate). Emits (q_id, vec_id, adc_dist)
    * for every probed candidate; per-query top-k is a downstream sort
    * (the [[similarCandidatesStream]] contract — streams don't rank).
    * StreamingSpec pins batch ≡ stream and consistency with
    * [[graft.llm.IvfPq.topK]].
    */
  def ivfPqScoreStream(
      queries: DataFrame,
      index: graft.llm.IvfPq.IvfPqIndex,
      encoded: DataFrame,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    graft.llm.IvfPq.scoreCandidates(queries, encoded, index, nProbe, idCol, vecCol)

  /** Streaming count-min sketch — [[graft.llm.Sketches.countMinSketch]]
    * applied VERBATIM to an unbounded document stream: the sketch is a
    * (row, bucket) aggregation, so under `outputMode("update")` or
    * `complete` the state store holds exactly the depth × width counters
    * and every micro-batch merges into them by addition — the CMS merge
    * law IS streaming aggregation. One definition, both modes
    * (StreamingSpec pins batch equivalence).
    */
  def cmsSketchStream(
      docs: DataFrame,
      textCol: String = "text",
      depth: Int = 4,
      width: Int = 64): DataFrame =
    graft.llm.Sketches.countMinSketch(docs, textCol, depth, width)

  /** Streaming embedding source (vec_id, embedding float[], label). */
  def readEmbeddingStream(
      spark: SparkSession,
      dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
  }

  /** ONLINE similarity search: match an embedding stream against a static
    * reference corpus through the same multi-table LSH buckets as the
    * batch [[graft.llm.AnnBuckets.approxTopK]]. The bucket id is a pure
    * projection ([[graft.llm.AnnBuckets.bucketCol]] — sign bits of seeded
    * hyperplane dots), so it applies statelessly per micro-batch; the
    * corpus side is bucketed ONCE here and broadcast per batch
    * (stream-static join), so each arriving vector only scores against
    * its bucket's candidates — never the whole corpus.
    *
    * Emits (a_id = stream vector, b_id = corpus vector, cos_sim) with
    * rounded cos_sim ≥ tau; a pair matching in several tables emits once
    * per table — dedupe downstream if needed (same contract as
    * [[nearDupPairsStream]]'s per-band emits). Corpus rows with the same
    * id as the probe are skipped, so a corpus that contains the stream's
    * own vectors (self-indexing) does not match itself.
    *
    * Scale posture: corpus per bucket-table is |corpus|·nTables rows of
    * (bucket, id, emb, nrm) — the broadcast bound is the CORPUS, the
    * declared static side; for corpora past broadcast size, swap the
    * broadcast for a bucket-partitioned static table and let the join
    * shuffle the (small) stream side.
    *
    * Sizing (r14): defaults are the probed-auto operating point like
    * every other ANN consumer — but Auto sizes off the STATIC CORPUS
    * count, not the stream (a stream's cardinality is unknowable, and
    * it is corpus bucket occupancy that drives per-probe join cost).
    * `nProbes > 0` probes on the STREAM side only: each arriving vector
    * joins its own bucket plus its flip-neighbour buckets per table
    * (the q137 rule via the stateless [[graft.llm.AnnBuckets
    * .probesFrame]] kernel — mapPartitions, so it runs identically per
    * micro-batch) against the single-bucket corpus; a pair matching in
    * several (table, probe) slots emits once per slot, same
    * dedupe-downstream contract as the per-table emits.
    */
  def similarCandidatesStream(
      stream: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      tau: Double,
      nBits: Int = graft.llm.AnnBuckets.Auto,
      dims: Int = 64,
      nTables: Int = graft.llm.AnnBuckets.Auto,
      seed: Long = 42L,
      nProbes: Int = 2): DataFrame = {
    import graft.functions.GraftFunctions.dot
    import graft.llm.AnnBuckets
    val n      = if (nBits == AnnBuckets.Auto || nTables == AnnBuckets.Auto) corpus.count() else 0L
    val bits   = if (nBits != AnnBuckets.Auto) nBits else AnnBuckets.autoBits(n)
    val tables = AnnBuckets.resolveTables(n, nTables, nProbes)
    def prep(df: DataFrame, side: String): DataFrame = {
      val e = df.select(
        col(idCol).cast("long").as(s"${side}_id"),
        col(embCol).cast("array<double>").as(s"${side}_emb"))
      val withNrm = e.withColumn(s"${side}_nrm", sqrt(dot(col(s"${side}_emb"), col(s"${side}_emb"))))
      // one row per (table, bucket): posexplode of the per-table bucket ids
      withNrm.select(
        posexplode(array((0 until tables).map(t =>
          AnnBuckets.bucketCol(col(s"${side}_emb"), bits, dims, seed + t)): _*))
          .as(Seq("tbl", "bucket")),
        col(s"${side}_id"),
        col(s"${side}_emb"),
        col(s"${side}_nrm"))
    }
    val aSide =
      if (nProbes == 0) prep(stream, "a")
      else {
        // probe set per arriving vector, per table — probesFrame's kernel
        // is a stateless projection, so the same code path serves batch
        // frames and micro-batches
        val e = stream
          .select(
            col(idCol).cast("long").as("vec_id"),
            col(embCol).cast("array<double>").as("emb"))
          .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
        (0 until tables)
          .map { t =>
            AnnBuckets
              .probesFrame(e, bits, dims, seed + t, nProbes)
              .select(
                lit(t).as("tbl"),
                explode(col("probes")).as("bucket"),
                col("vec_id").as("a_id"),
                col("emb").as("a_emb"),
                col("nrm").as("a_nrm"))
          }
          .reduce(_ unionByName _)
      }
    aSide
      .join(broadcast(prep(corpus, "b")), Seq("tbl", "bucket"))
      .where(col("a_id") =!= col("b_id"))
      .select(
        col("a_id"),
        col("b_id"),
        round(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 6).as("cos_sim"))
      .where(col("cos_sim") >= tau)
  }

  /** Idempotent per-batch parquet write: batch `id` keys a partition
    * directory written with OVERWRITE, so a replayed micro-batch (failure
    * between sink write and checkpoint commit — the foreachBatch
    * at-least-once window) lands on the same path and replaces itself
    * instead of duplicating. This is the standard exactly-once-by-
    * idempotence recipe for foreachBatch sinks; Spark's own file sink
    * gets the same property from its manifest log.
    */
  def writeBatchIdempotent(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      outDir: String,
      batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** [[graft.core.Generations.ingestLoop]] stream into
    * [[writeBatchIdempotent]]; with a checkpoint, restarts neither
    * reprocess nor duplicate completed batches.
    */
  def exactlyOnceParquetSink(
      events: DataFrame,
      outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    Generations.ingestLoop(events, checkpoint, baseGen = 0L, guarded = Nil) { (batch, id) =>
      writeBatchIdempotent(batch, outDir, id)
    }

  /** Custom state: running per-user event count via mapGroupsWithState —
    * the `KeyValueGroupedDataset` escape hatch for state machines the
    * built-in windows can't express.
    */
  def runningUserCounts(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"))
      .as[Long]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Long], state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + batch.size
          state.update(n)
          (userId, n)
      }
      .toDF("user_id", "n_events")
  }
}
