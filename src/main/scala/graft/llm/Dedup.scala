package graft.llm

import graft.core.{Cols, Generations, IndexMeta, Jobs}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators (SURVEY.md §2B north star).
  *
  * Scale shape: exact dedup shuffles only a 16-byte content digest;
  * near-dup runs MinHash → band buckets → candidate join → exact Jaccard
  * verification, so the quadratic work is confined to documents that share
  * a band (hash collision on r concatenated signatures ≈ Jaccard^r), never
  * the full corpus.
  */
object Dedup {

  /** Observed-metric names must be unique within a query plan; a composed
    * pipeline may call [[ngramJaccardPairs]] more than once.
    */
  private val ObserveSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Exact dedup by content hash: first row per digest survives (ties
    * broken by the id column for determinism).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("__digest").orderBy(Cols.q(idCol))
    docs
      .withColumn("__digest", md5(Cols.q(textCol).cast("binary")))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__digest", "__rn")
  }

  /** Persist the corpus's exact-dedup digest set as a parquet index —
    * the artifact incremental ingestion dedups against, so a new batch
    * NEVER re-scans the historical corpus: the index is one 32-hex-char
    * digest per distinct document (the md5 the whole exact-dedup family
    * shares — [[exact]], the streaming ingest, q16), typically 4–5
    * orders of magnitude smaller than the corpus it summarizes.
    */
  def writeDigestIndex(docs: DataFrame, textCol: String, outDir: String): Unit =
    docs
      .where(Cols.q(textCol).isNotNull)
      .select(md5(Cols.q(textCol).cast("binary")).as("digest"))
      .distinct()
      .write
      .mode("overwrite")
      .parquet(outDir)

  /** Incremental exact dedup of a NEW batch against a persisted digest
    * index: drop rows whose content already exists in the index, then
    * elect one survivor per digest WITHIN the batch (lowest id — the
    * [[exact]] election). Appending the survivors' digests to the index
    * (see [[writeDigestIndex]]) closes the ingest loop.
    *
    * Scale shape: one left-anti join on the digest key (both sides
    * digest-keyed; the index side is digest-count-sized and carries no
    * payload) + the within-batch window over batch-sized dup groups.
    * Nothing historical-corpus-sized is ever read — that is the point
    * of the index.
    */
  def incrementalNew(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String): DataFrame =
    incrementalNew(newDocs, idCol, textCol, newDocs.sparkSession.read.parquet(indexDir))

  /** [[incrementalNew]] against an in-memory digest frame (one `digest`
    * column) — the form a declared query or a test composes directly.
    */
  def incrementalNew(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("__digest").orderBy(Cols.q(idCol))
    newDocs
      .where(Cols.q(textCol).isNotNull)
      .withColumn("__digest", md5(Cols.q(textCol).cast("binary")))
      .join(index.withColumnRenamed("digest", "__digest"), Seq("__digest"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
      .withColumnRenamed("__digest", "digest")
  }

  /** Minhash signature hash family. [[XxHash64]] (Spark's codegen'd
    * 64-bit xxHash, long-typed signatures) is the LIBRARY DEFAULT — the
    * 16× salted-md5-min fold was the measured compute floor for the whole
    * ingest family (q17/q104/q125 and the streaming loop), and xxhash64
    * roughly halves it. [[Md5]] (hex-string signatures) is kept for
    * oracle parity: DuckDB replays md5, so the DECLARED queries pin it.
    * Any fixed hash family gives uniform minhash — only collision
    * probability semantics matter, not which hash. A persisted index's
    * family is visible in (and auto-detected from) its schema: md5 sigs
    * are strings, xxhash64 sigs are longs — so a batch can never be
    * silently verified against an index from the other family.
    *
    * COMPATIBILITY NOTE (round 11): the DEFAULT family of the
    * signature-producing public APIs ([[minhashSignatures]],
    * [[nearDupPairs]], [[bandedProjection]], [[writeBandedNearDupIndex]],
    * [[signatureProjection]]) changed md5 → xxhash64. Signature VALUES
    * under the default therefore changed; persisted-index paths are
    * protected by schema auto-detection ([[indexFamily]]), but ad-hoc
    * cross-version signature comparisons must pass `family = Md5`
    * explicitly to reproduce pre-r11 outputs.
    */
  sealed trait SigHash
  case object Md5      extends SigHash
  case object XxHash64 extends SigHash

  /** SQL lambda body for minhash component i under the family. */
  private def sigExpr(i: Int, family: SigHash, toksCol: String): String = family match {
    case Md5      => s"array_min(transform($toksCol, t -> md5(cast(concat('s$i|', t) AS BINARY))))"
    case XxHash64 => s"array_min(transform($toksCol, t -> xxhash64(concat('s$i|', t))))"
  }

  /** Detect a signature index's hash family from its schema. */
  private[graft] def indexFamily(index: DataFrame): SigHash = indexFamily(index.schema)

  private def indexFamily(schema: org.apache.spark.sql.types.StructType): SigHash =
    schema.find(_.name == "sig0").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.StringType) => Md5
      case Some(org.apache.spark.sql.types.LongType)   => XxHash64
      case other =>
        throw new IllegalArgumentException(
          s"near-dup index sig0 has unrecognized type $other — expected string (md5) or long (xxhash64)")
    }

  /** One row per doc with content digest + `nSigs` minhash components —
    * the record a NEAR-dup ingest index stores (fixed-width per
    * historical doc, never the text). Signature formula is byte-equal
    * to [[bandedProjection]]/[[minhashSignatures]] (one family, no drift).
    */
  private[graft] def signatureProjection(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nSigs: Int,
      family: SigHash = XxHash64): DataFrame = {
    val base = docs
      .where(Cols.q(textCol).isNotNull)
      .select(
        Cols.q(idCol).as("__id"),
        md5(Cols.q(textCol).cast("binary")).as("digest"),
        array_distinct(split(Cols.q(textCol), " ")).as("__toks"))
    base.select(
      col("__id") +: col("digest") +:
        (0 until nSigs).map(i => expr(sigExpr(i, family, "__toks")).as(s"sig$i")): _*)
  }

  /** Incremental NEAR-dup dedup of a new batch against a signature index
    * — the fuzzy counterpart of [[incrementalNew]], which only stops
    * byte-identical re-ingests. `index` is a (digest, sig0..sigN-1) frame
    * (one row per distinct historical doc — the [[signatureProjection]]
    * of the history, id dropped); the persisted form is the banded index
    * ([[writeBandedNearDupIndex]] → [[incrementalNearDupNewBanded]]),
    * which decides identically (spec-pinned). A new doc is dropped when
    * some indexed doc shares ≥ 1 signature band (candidate generation —
    * one equi-join on the band key, exactly the [[nearDupPairs]] bucket
    * shape) AND its signature agreement `|{i : sig_i = idx_i}| / nSigs`
    * reaches `simTau` (verification — minhash collision probability
    * estimates Jaccard, so this is the estimated-Jaccard threshold;
    * exact dups agree on every component and are subsumed). Within-batch
    * exact election (lowest id per digest) matches [[incrementalNew]];
    * within-batch NEAR-dup resolution stays with [[DupClusters]] — this
    * op's contract is "new vs history".
    *
    * Scale shape: candidates join band keys against a fixed-width index
    * (no text moves); verification touches candidate rows only; the
    * historical corpus is never re-read. Returns surviving
    * (id, digest) rows. 16 sigs / 0.75 agreement is the operating point
    * the q125 probe measured: 8 × 0.5 degenerates on small shared
    * vocabularies.
    */
  def incrementalNearDupNew(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      simTau: Double = 0.75,
      maxBandDf: Option[Long] = Some(DefaultMaxShingleDf)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = bands * rowsPerBand
    require(
      index.columns.contains(s"sig${n - 1}"),
      s"near-dup index is narrower than bands*rowsPerBand = $n signatures " +
        s"(index columns: ${index.columns.filter(_.startsWith("sig")).length}) — " +
        "build it with nSigs = bands*rowsPerBand")
    // the new batch's signatures MUST be the index's family — detected
    // from the index schema, so a family mismatch cannot silently verify.
    // Pinned eagerly (r16): the lazy plan evaluated this projection 3×
    // (band-candidate join, verification join, election anti-join) — one
    // batch-bounded materialization replaces two repeats of the salted
    // minhash work (the banded path does the same; the INDEX side is
    // deliberately NOT pinned — it is history-sized).
    val newSigs = signatureProjection(newDocs, idCol, textCol, n, indexFamily(index))
      .localCheckpoint(true)
    // -1e-9: binary rounding of simTau*n can land a hair above the exact
    // integer (0.55*20 = 11.000000000000002) and silently raise the
    // effective threshold — the prefixFilteredPairs ceil guard
    val matchMin = math.ceil(simTau * n - 1e-9).toInt
    val idx = index.select(
      col("digest").as("__idig") +:
        (0 until n).map(i => col(s"sig$i").as(s"__isig_$i")): _*)
    def bandCols(sigName: Int => String): Seq[Column] =
      (0 until bands).map { b =>
        struct(
          lit(b).as("band_idx"),
          concat_ws("|", (0 until rowsPerBand).map(r => col(sigName(b * rowsPerBand + r))): _*)
            .as("band_val"))
      }
    // a hot bucket (thousands of docs sharing one band value — the
    // synthetic corpus measured df 18k at sf1) funds df_new × df_idx
    // candidate rows and carries no near-dup signal; the cap drops it
    // from BOTH sides before the join, the q34/nearDupPairs rule
    def cut(df: DataFrame): DataFrame = maxBandDf match {
      case Some(cap) =>
        val w = Window.partitionBy("band_idx", "band_val")
        df.withColumn("__df", count(lit(1)).over(w)).where(col("__df") <= cap).drop("__df")
      case None => df
    }
    val newBands = cut(
      newSigs
        .select(col("__id"), explode(array(bandCols(i => s"sig$i"): _*)).as("b"))
        .select(col("__id"), col("b.band_idx").as("band_idx"), col("b.band_val").as("band_val")))
    val idxBands = cut(
      idx
        .select(col("__idig"), explode(array(bandCols(i => s"__isig_$i"): _*)).as("b"))
        .select(col("__idig"), col("b.band_idx").as("band_idx"), col("b.band_val").as("band_val")))
    val cand = newBands
      .join(idxBands, Seq("band_idx", "band_val"))
      .select("__id", "__idig")
      .distinct()
    val dropped = cand
      .join(newSigs, Seq("__id"))
      .join(idx, Seq("__idig"))
      .withColumn(
        "__matched",
        (0 until n)
          .map(i => when(col(s"sig$i") === col(s"__isig_$i"), 1).otherwise(0))
          .reduce(_ + _))
      .where(col("__matched") >= matchMin)
      .select("__id")
      .distinct()
    electPerDigest(newSigs.join(dropped, Seq("__id"), "left_anti"), idCol)
  }

  // ─── Banded persisted near-dup index ────────────────────────────────
  //
  // The index is stored PRE-EXPLODED into band rows, partitioned by
  // (src_batch, band_idx, band_bucket) where band_bucket =
  // xxhash64(band key) mod nBuckets — the [[IvfPq.writeIndexGen]] `cell=`
  // pattern. Stored as one (digest, sigs) row per doc, EVERY ingest would
  // re-explode the whole index into band rows and shuffle them through
  // the df-cap window before the candidate join — the full index moving
  // per batch (q125's sf10 ingest measured candidate-join-bound at 28 s
  // in that shape). Pre-exploded, an ingest batch collects its own band
  // buckets (≤ bands × nBuckets values, one tiny collect) and reads ONLY
  // the matching partition directories via static partition pruning. A
  // band value's rows all hash to one bucket, so the df cap stays EXACT
  // over the pruned read, and signatures ride inline on the band rows,
  // so verification needs no join back to a corpus-sized table.
  // Small/streaming batches prune hardest (a micro-batch touches a
  // handful of buckets); a batch big enough to probe every bucket
  // degrades gracefully to the full-scan cost.

  /** Band-bucket count per band_idx in the banded layout: directories
    * per append = bands × nBuckets (128 at the defaults — coarse enough
    * to avoid a small-files explosion across thousands of ingest
    * batches, fine enough that a micro-batch prunes most of the index).
    */
  val DefaultBandBuckets: Int = 32

  private[graft] def bandBucketCol(bandIdx: Column, bandVal: Column, nBuckets: Int): Column =
    pmod(xxhash64(concat_ws("|", bandIdx.cast("string"), bandVal)), lit(nBuckets.toLong))
      .cast("int")

  /** Explode a signature frame into band rows, carrying every source
    * column (id/digest/sigs) inline. Band values are the concat-ws of the
    * band's signature components — byte-equal to [[incrementalNearDupNew]]
    * and [[bandedProjection]]'s band keys.
    */
  private def toBandRows(
      sigs: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      nBuckets: Int): DataFrame = {
    val structs = (0 until bands).map { b =>
      struct(
        lit(b).as("band_idx"),
        concat_ws("|", (0 until rowsPerBand).map(r => col(s"sig${b * rowsPerBand + r}")): _*)
          .as("band_val"))
    }
    sigs
      .withColumn("__b", explode(array(structs: _*)))
      .withColumn("band_idx", col("__b.band_idx"))
      .withColumn("band_val", col("__b.band_val"))
      .drop("__b")
      .withColumn("band_bucket", bandBucketCol(col("band_idx"), col("band_val"), nBuckets))
  }

  /** Banded-index partition order: the generation OUTERMOST, so the
    * streaming loop's `src_batch < N` read prunes at the top level.
    */
  private val BandedPartitions = Seq(Generations.Col, "band_idx", "band_bucket")

  /** The banded layout contract: the sidecar's sizing plus the hash
    * family its `bands` table's signature columns self-describe.
    */
  private[graft] final case class BandedMeta(
      bands: Int,
      rowsPerBand: Int,
      nBuckets: Int,
      family: SigHash) {
    def nSigs: Int = bands * rowsPerBand
  }

  private val BandedFormat = "banded-neardup/1"

  private def bandedIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String) =
    IndexMeta(spark, indexDir, BandedFormat, "Dedup.writeBandedNearDupIndex")

  /** The banded index's contract, read through its `meta` sidecar — the
    * layout's marker, so a directory without one (a flat signature table,
    * or no index at all) is refused here with the bootstrap to run.
    */
  private[graft] def readBandedMeta(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): BandedMeta = {
    val ix = bandedIndex(spark, indexDir)
    BandedMeta(
      ix.row.getAs[Int]("bands"),
      ix.row.getAs[Int]("rows_per_band"),
      ix.row.getAs[Int]("n_buckets"),
      indexFamily(ix.schema("bands")))
  }

  /** Bootstrap the banded near-dup index: band rows under
    * `<outDir>/bands/src_batch=-1/band_idx=<b>/band_bucket=<h>/`, plus a
    * one-row `meta` sidecar written last (bands / rowsPerBand / nBuckets /
    * format — the layout contract every later ingest reads back; the hash
    * family self-describes through the sig column types).
    */
  def writeBandedNearDupIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      outDir: String,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      family: SigHash = XxHash64,
      nBuckets: Int = DefaultBandBuckets): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(bands >= 1 && rowsPerBand >= 1 && nBuckets >= 1, "bands/rowsPerBand/nBuckets >= 1")
    val n    = bands * rowsPerBand
    val sigs = signatureProjection(docs, idCol, textCol, n, family).drop("__id").distinct()
    Generations.write(
      toBandRows(sigs, bands, rowsPerBand, nBuckets)
        // cluster on the partition columns before the partitioned write so
        // each (band_idx, band_bucket) directory is written by ONE task as
        // ONE file. At bench scale AQE already coalesces the upstream
        // shuffle to a task or two, so this changes nothing measurable —
        // but on a real corpus the shuffle stays wide and an unclustered
        // partitioned write sprays tasks × bands × nBuckets files per
        // generation (32 tasks × 128 dirs = 4096 files per sf10 batch);
        // across thousands of ingest batches that is the small-files
        // explosion the coarse bucket count exists to avoid
        .repartition(col("band_idx"), col("band_bucket")),
      s"$outDir/bands", -1L, BandedPartitions, append = false)
    IndexMeta.write(
      Seq((bands, rowsPerBand, nBuckets, BandedFormat))
        .toDF("bands", "rows_per_band", "n_buckets", "format"),
      outDir)
  }

  /** Append an ingest batch's survivors to a banded index — a
    * dynamic-partition overwrite of exactly the (src_batch=batchId,
    * band_idx, band_bucket) directories this batch produces, so a
    * crash-replayed batch rewrites its own partitions instead of
    * duplicate-appending.
    */
  def appendBandedNearDupIndex(
      survivors: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      batchId: Long): Unit = {
    val meta = readBandedMeta(survivors.sparkSession, indexDir)
    val sigs = signatureProjection(survivors, idCol, textCol, meta.nSigs, meta.family)
      .drop("__id").distinct()
    Generations.write(
      toBandRows(sigs, meta.bands, meta.rowsPerBand, meta.nBuckets)
        // one task → one file per written directory (see writeBandedNearDupIndex)
        .repartition(col("band_idx"), col("band_bucket")),
      s"$indexDir/bands", batchId, BandedPartitions, append = true)
  }

  /** Within-batch exact election over anti-joined signature rows — the
    * shared tail of the in-memory and banded ingests.
    */
  private def electPerDigest(sigs: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("digest").orderBy(col("__id"))
    sigs
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("__id").as(idCol), col("digest"))
  }

  /** [[incrementalNearDupNew]] against a BANDED index directory — same
    * decision contract (band-candidate ∧ signature agreement ≥ simTau,
    * then within-batch digest election), different physical plan: the
    * batch's band buckets prune the index read to the matching
    * (band_idx, band_bucket) partitions, the df cap windows over that
    * pruned subset only (exact — a band value lives in one bucket), and
    * verification runs inline on the band rows' carried signatures.
    * Survivors equal the in-memory path's row for row over the same
    * history (spec-pinned).
    *
    * `beforeBatch` is the streaming loop's replay guard: dedup batch N
    * against `src_batch < N` only.
    */
  def incrementalNearDupNewBanded(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      simTau: Double = 0.75,
      maxBandDf: Option[Long] = Some(DefaultMaxShingleDf),
      beforeBatch: Option[Long] = None): DataFrame = {
    val meta = readBandedMeta(newDocs.sparkSession, indexDir)
    // the batch's signature projection (digest + n salted minhash mins —
    // the dominant per-row work) is pinned ONCE: lazily it re-ran up to
    // 4× per ingest — under the probe collect, the band-candidate join,
    // the verification join, and the election anti-join (r16 stage probe:
    // ingest ~5 s of which ~3 s was repeated signature work at sf0.1).
    // Batch-bounded by contract, so the pin holds batch rows, never
    // history. One-shot batch callers keep the localCheckpoint pin; loop
    // callers that must release the pin per batch ([[ingestAppendBanded]],
    // the streaming ingest) pass a caller-managed persist through
    // [[incrementalNearDupNewBandedSigs]] instead.
    val newSigs = signatureProjection(newDocs, idCol, textCol, meta.nSigs, meta.family)
      .localCheckpoint(true)
    incrementalNearDupNewBandedSigs(newSigs, idCol, indexDir, meta, simTau, maxBandDf, beforeBatch)
  }

  /** [[incrementalNearDupNewBanded]] over a PRE-MATERIALIZED signature
    * frame (r17): callers that also append the survivors reuse ONE
    * materialization of the batch's signatures across the ingest joins
    * and the append write, and own the pin's lifetime (the r16 ADVICE
    * leak: an in-function localCheckpoint can never be released by the
    * function, so a long-lived streaming loop accumulated one pinned
    * batch per micro-batch until RDD GC). `newSigs` must be
    * [[signatureProjection]] output in the index's own hash family.
    */
  private[graft] def incrementalNearDupNewBandedSigs(
      newSigs: DataFrame,
      idCol: String,
      indexDir: String,
      meta: BandedMeta,
      simTau: Double,
      maxBandDf: Option[Long],
      beforeBatch: Option[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark    = newSigs.sparkSession
    val n        = meta.nSigs
    val idxAll   = bandedIndex(spark, indexDir).read("bands")
    val matchMin = math.ceil(simTau * n - 1e-9).toInt
    val wBand = Window.partitionBy("band_idx", "band_val")
    def cut(df: DataFrame): DataFrame = maxBandDf match {
      case Some(cap) =>
        df.withColumn("__df", count(lit(1)).over(wBand)).where(col("__df") <= cap).drop("__df")
      case None => df
    }
    val newBands = cut(toBandRows(newSigs, meta.bands, meta.rowsPerBand, meta.nBuckets))

    // the probe set is bounded by bands × nBuckets rows — one tiny
    // AQE-off collect that turns the index read into STATIC partition
    // pruning
    val probe = Jobs.collectFast(newBands.select("band_idx", "band_bucket").distinct())
      .map(r => (r.getInt(0), r.getInt(1)))
    val dropped =
      if (probe.isEmpty) newSigs.limit(0).select(col("__id"))
      else {
        val prune = probe
          .groupBy(_._1)
          .map { case (b, xs) =>
            col("band_idx") === b && col("band_bucket").isin(xs.map(_._2).toSeq: _*)
          }
          .reduce(_ || _)
        val hist = beforeBatch
          .map(bid => idxAll.where(col(Generations.Col) < bid))
          .getOrElse(idxAll)
        val idxBands = cut(hist.where(prune)).select(
          col("band_idx") +: col("band_val") +:
            (0 until n).map(i => col(s"sig$i").as(s"__isig_$i")): _*)
        newBands
          .join(idxBands, Seq("band_idx", "band_val"))
          .withColumn(
            "__matched",
            (0 until n)
              .map(i => when(col(s"sig$i") === col(s"__isig_$i"), 1).otherwise(0))
              .reduce(_ + _))
          .where(col("__matched") >= matchMin)
          .select("__id")
          .distinct()
      }
    electPerDigest(newSigs.join(dropped, Seq("__id"), "left_anti"), idCol)
  }

  /** Append pre-computed survivor signature rows to a banded index —
    * the [[appendBandedNearDupIndex]] write over sigs the caller already
    * materialized (r17): `sigs` is the batch's [[signatureProjection]]
    * and `survivors` the elected (idCol, digest) rows; the appended set
    * — sigs semi-joined to the survivor ids, id dropped, distinct — is
    * row-for-row the set the doc-path append derives by re-running the
    * salted-minhash projection over the survivor documents (the
    * projection is deterministic per doc), without paying that
    * projection a second time per ingest step.
    */
  private[graft] def appendBandedSigRows(
      sigs: DataFrame,
      survivors: DataFrame,
      idCol: String,
      indexDir: String,
      meta: BandedMeta,
      batchId: Long): Unit =
    Generations.write(
      toBandRows(
        sigs
          .join(survivors.select(Cols.q(idCol).as("__id")), Seq("__id"), "left_semi")
          .drop("__id")
          .distinct(),
        meta.bands, meta.rowsPerBand, meta.nBuckets)
        // one task → one file per written directory (see writeBandedNearDupIndex)
        .repartition(col("band_idx"), col("band_bucket")),
      s"$indexDir/bands", batchId, BandedPartitions, append = true)

  /** One full banded ingest-and-append step — dedup `newDocs` against the
    * index generations `< batchId` (exactly [[incrementalNearDupNewBanded]]
    * with `beforeBatch = Some(batchId)`) and append the survivors'
    * signatures as generation `batchId` — sharing ONE materialized
    * signature projection across the candidate/verification joins AND the
    * append write (r17: the separate ingest-then-append sequence paid the
    * salted-minhash projection twice per step, once inside the ingest and
    * once re-derived from the survivor docs). Both pins are batch-bounded
    * persists, RELEASED before return; `use` runs while the survivors are
    * still pinned, for callers that must consume them (e.g. the streaming
    * loop's survivor-docs write) without re-executing the election.
    */
  def ingestAppendBanded(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      batchId: Long,
      simTau: Double = 0.75,
      maxBandDf: Option[Long] = Some(DefaultMaxShingleDf))(
      use: DataFrame => Unit = _ => ()): Unit = {
    val meta = readBandedMeta(newDocs.sparkSession, indexDir)
    val sigs = signatureProjection(newDocs, idCol, textCol, meta.nSigs, meta.family)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val survivors =
        incrementalNearDupNewBandedSigs(
          sigs, idCol, indexDir, meta, simTau, maxBandDf, beforeBatch = Some(batchId))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the caller's consumer runs FIRST (the streaming loop writes the
        // survivor docs before touching the index — on a crash between
        // the two writes the replayed batch sees the pre-append index via
        // the beforeBatch guard and reproduces the same survivors)
        use(survivors)
        appendBandedSigRows(sigs, survivors, idCol, indexDir, meta, batchId)
      } finally survivors.unpersist(false)
    } finally sigs.unpersist(false)
  }

  /** Deterministic MinHash signatures: `nSigs` salted min-md5 hash
    * families over the token set (same family as q17, generalized).
    */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nSigs: Int = 8,
      family: SigHash = XxHash64): DataFrame = {
    val toks = docs.select(Cols.q(idCol).as("__id"), explode(split(Cols.q(textCol), " ")).as("tok"))
    def sig(i: Int): Column = family match {
      case Md5      => min(md5(concat(lit(s"s$i|"), col("tok")).cast("binary")))
      case XxHash64 => min(xxhash64(concat(lit(s"s$i|"), col("tok"))))
    }
    toks
      .groupBy("__id")
      .agg(sig(0).as("sig0"), (1 until nSigs).map(i => sig(i).as(s"sig$i")): _*)
  }

  /** Per-row banded MinHash as a pure PROJECTION — no groupBy, no keyed
    * state: `sig_i = array_min(transform(toks, t -> md5('s<i>|' || t)))`,
    * which yields exactly the values of [[minhashSignatures]] (the min over
    * an exploded token group equals `array_min` over the token array), but
    * is computable row-by-row on an unbounded STREAM. Returns one row per
    * (doc, band): (__id, toks, band_idx, band_val); `toks` rides along so a
    * stateful consumer can exact-Jaccard-verify candidates without a second
    * pass over the source.
    */
  private[graft] def bandedProjection(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int,
      rowsPerBand: Int,
      family: SigHash = XxHash64): DataFrame = {
    val nSigs = bands * rowsPerBand
    // null-text docs are dropped, matching the groupBy-signature path
    // (explode of a null array emits no rows). Without this, null texts
    // yield null sigs → band_val "" → they ALL share one band bucket, and
    // a candidate self-join over that bucket is quadratic in their count
    val withToks = docs
      .where(Cols.q(textCol).isNotNull)
      .select(
        Cols.q(idCol).as("__id"),
        array_distinct(split(Cols.q(textCol), " ")).as("toks"))
    val sigs = (0 until nSigs).map(i => expr(sigExpr(i, family, "toks")).as(s"sig$i"))
    val withSigs = withToks.select(col("__id") +: col("toks") +: sigs: _*)
    val bandCols = (0 until bands).map { b =>
      struct(
        lit(b).as("band_idx"),
        concat_ws("|", (0 until rowsPerBand).map(r => col(s"sig${b * rowsPerBand + r}")): _*)
          .as("band_val"))
    }
    withSigs
      .select(col("__id"), col("toks"), explode(array(bandCols: _*)).as("b"))
      .select(col("__id"), col("toks"), col("b.band_idx").as("band_idx"), col("b.band_val").as("band_val"))
  }

  /** Near-dup pairs: band the signatures (`bands` × `rowsPerBand`), bucket
    * candidates sharing any band, then verify with exact token-set Jaccard
    * ≥ `tau`. Returns (a_id, b_id, jaccard) with a_id < b_id.
    *
    * `maxBandDf` caps the document frequency of a band bucket: candidate
    * rows scale as Σ_bucket df², so a single hot bucket (e.g. every
    * near-empty doc hashing to the same band value) is quadratic in corpus
    * size. Buckets above the cap are dropped before the candidate join —
    * at 100 TB this trades recall on degenerate buckets for a bounded
    * shuffle. `None` (default) keeps every bucket.
    */
  def nearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      tau: Double = 0.5,
      maxBandDf: Option[Long] = None,
      family: SigHash = XxHash64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE banding implementation for batch and streaming: the projection
    // form (array_min over the token array == min over the exploded token
    // group, spec-proven in DedupSpec) — so salt/separator changes cannot
    // drift between the two paths
    val banded = bandedProjection(docs, idCol, textCol, bands, rowsPerBand, family)
      .select("__id", "band_idx", "band_val")

    val bandedCut = maxBandDf match {
      case Some(cap) =>
        val w = Window.partitionBy("band_idx", "band_val")
        banded.withColumn("__df", count(lit(1)).over(w)).where(col("__df") <= cap).drop("__df")
      case None => banded
    }

    val candidates = bandedCut.toDF("a_id", "band_idx", "band_val")
      .join(bandedCut.toDF("b_id", "band_idx", "band_val"), Seq("band_idx", "band_val"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()

    // exact verification on the candidate set only
    val tokenSets = docs.select(
      Cols.q(idCol).as("__id"),
      array_distinct(split(Cols.q(textCol), " ")).as("toks"))
    candidates
      .join(tokenSets.select(col("__id").as("a_id"), col("toks").as("a_toks")), Seq("a_id"))
      .join(tokenSets.select(col("__id").as("b_id"), col("toks").as("b_toks")), Seq("b_id"))
      .withColumn("inter", size(array_intersect(col("a_toks"), col("b_toks"))).cast("double"))
      .withColumn(
        "jaccard",
        round(col("inter") / (size(col("a_toks")) + size(col("b_toks")) - col("inter")), 6))
      .where(col("jaccard") >= tau)
      .select("a_id", "b_id", "jaccard")
  }

  /** N-gram (word `n`-shingle) Jaccard pairs via an inverted index:
    * explode distinct shingles per doc, group by shingle, generate the
    * ordered doc pairs in place, count common shingles per pair, and
    * derive exact Jaccard from the per-doc set sizes. Returns
    * (a_id, b_id, jaccard) with a_id < b_id, unrounded.
    *
    * `maxShingleDf` drops shingles whose document frequency exceeds the
    * cap BEFORE pair expansion — pair rows scale as Σ_s df(s)², so one
    * universal "stop shingle" is quadratic in corpus size. When a cut is
    * applied, per-doc sizes (and therefore Jaccard) are computed over the
    * retained-shingle universe, i.e. the true Jaccard of the filtered
    * shingle sets. The DEFAULT is capped at [[DefaultMaxShingleDf]] — a
    * shingle shared by thousands of documents carries no near-dup signal
    * and only funds quadratic pair rows; pass `None` for exact
    * all-shingle Jaccard (oracle parity, e.g. q34), which is safe to run
    * uncapped because the pair expansion streams (see below) but still
    * pays O(df²) pair ROWS per hot shingle.
    *
    * `minJaccard`: when the caller only needs pairs at or above a
    * threshold (every clustering/dedup path does), pass it — the plan
    * switches to exact prefix-filtered generation
    * ([[prefixFilteredPairs]]) whose candidate count scales with the
    * rare-shingle prefix occupancy instead of Σ df², and only pairs with
    * jaccard ≥ minJaccard are returned. `None` keeps the all-pairs
    * output (needed by rank-all consumers like q34's top-5).
    */
  val DefaultMaxShingleDf: Long = 1024L

  /** Per-key distinct-shingle rows (key, s) — the ONE place the shingle
    * construction lives: both the document-level pair op and the
    * dataset-level overlap matrix (and their oracles) depend on this
    * exact formatting, so it must not fork. The explode happens in the
    * SAME projection that builds the distinct-shingle array: anything
    * else (its size, the array itself) carried past the Generate either
    * re-runs the transform per row or copies the whole array onto every
    * exploded row — measured 5× the scan cost at sf0.1.
    */
  private[llm] def shingleRows(
      docs: DataFrame,
      keyCol: String,
      textCol: String,
      n: Int,
      outKey: String): DataFrame = {
    val parts = (0 until n).map(j => s"tk[i+$j]").mkString(", ")
    docs
      .select(Cols.q(keyCol).as(outKey), split(Cols.q(textCol), " ").as("tk"))
      .where(size(col("tk")) >= n)
      .select(
        col(outKey),
        explode(array_distinct(expr(
          s"transform(sequence(0, size(tk) - $n), i -> concat_ws(' ', $parts))"))).as("s"))
  }

  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      maxShingleDf: Option[Long] = Some(DefaultMaxShingleDf),
      minJaccard: Option[Double] = None): DataFrame = {
    // inverted-index rows from the shared shingle projection; per-doc set
    // sizes are recovered afterwards by a count over these rows instead
    // (doc-count-sized, broadcastable)
    val sh = shingleRows(docs, idCol, textCol, n, "__id")
    // invert: shingle -> member docs, sorted by id so ordered (a<b) pairs
    // can be generated IN PLACE — no self-join, so the shingle rows cross
    // exactly one shuffle and the quadratic expansion happens inside the
    // partition that already owns the group. A universal "stop shingle"
    // makes this group df-sized (same Σ df(s)² hazard as a self-join);
    // `maxShingleDf` is the production bound for that, applied here as a
    // group-size filter BEFORE pair expansion. The sorted list is hoisted
    // into its own projection: a HOF re-evaluates captured expressions per
    // element, so an inlined array_sort would re-sort per pair.
    val grouped = sh
      .groupBy("s")
      .agg(collect_list(col("__id")).as("ms"))
    // a capped run silently changes semantics (Jaccard over the retained
    // universe), so make the cut ATTRIBUTABLE: an observed metric counts
    // the shingles the cap actually dropped (free — piggybacks the agg, no
    // extra job; read it via QueryExecutionListener / Observation), and a
    // construction-time log names the metric
    val observed = maxShingleDf match {
      case Some(cap) =>
        val metric = s"ngram_jaccard_df_cap_${ObserveSeq.incrementAndGet()}"
        org.slf4j.LoggerFactory
          .getLogger(getClass)
          .info(s"ngramJaccardPairs: maxShingleDf=$cap — Jaccard is over the retained-shingle " +
            s"universe; dropped-shingle count surfaces as observed metric '$metric'")
        grouped.observe(
          metric,
          sum(when(size(col("ms")) > cap, 1L).otherwise(0L)).as("dropped_shingles"),
          max(size(col("ms"))).as("max_df"))
      case None => grouped
    }
    val kept = observed
      .where(maxShingleDf.map(size(col("ms")) <= _).getOrElse(lit(true)))
    minJaccard match {
      case Some(tau) => return prefixFilteredPairs(kept, tau)
      case None      => ()
    }
    // singleton shingles generate no pairs (but DO count toward per-doc
    // sizes in the capped recount below — any cap ≥ 1 retains them)
    // two-level streaming expansion: the outer loop is its own Generate
    // (posexplode of the sorted member list, the list riding along — one
    // O(df) array copy per row), and the inner explode slices the ordered
    // tail per row. The largest single VALUE anywhere is O(df), never the
    // O(df²) flat pair array a flatten(transform×transform) would build,
    // so an uncapped stop-shingle degrades to a slow streamed task instead
    // of a single-allocation OOM / 2 GB array-limit failure.
    val pairs = kept
      .where(size(col("ms")) > 1)
      .select(array_sort(col("ms")).as("ms"))
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "a_id")))
      .select(col("a_id"), explode(expr("slice(ms, i + 2, size(ms))")).as("b_id"))
    // per-doc set sizes over the relevant shingle universe: all shingles
    // when uncut, the retained groups under a df-cut (that recount shares
    // the groupBy("s") exchange with `pairs` via ReuseExchange). Either
    // way `cnt` is doc-count-sized BY CONSTRUCTION, so broadcast it
    // EXPLICITLY: Catalyst's size estimate through the Generate → agg
    // chain undershoots on the pair side, and at sf1 the planner chose to
    // build the pair-count table (Σ df² rows) as the broadcast — a
    // driver OOM, not a slow job. The hint pins the build side to the one
    // that is small no matter the corpus.
    val cnt = (maxShingleDf match {
      case None    => sh
      case Some(_) => kept.select(explode(col("ms")).as("__id"))
    }).groupBy(col("__id").as("id")).agg(count(lit(1)).as("nn"))
    pairs
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("c"))
      .join(broadcast(cnt.select(col("id").as("a_id"), col("nn").as("na"))), Seq("a_id"))
      .join(broadcast(cnt.select(col("id").as("b_id"), col("nn").as("nb"))), Seq("b_id"))
      .select(
        col("a_id"),
        col("b_id"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jaccard"))
  }

  /** Threshold-aware pair generation via PREFIX FILTERING (Bayardo et al.,
    * "Scaling Up All Pairs Similarity Search", WWW'07; Xiao et al.,
    * PPJoin, ICDE'08): for J(A,B) ≥ τ, the smallest element of A∩B under
    * ANY global total order must lie within the first
    * |X| − ⌈τ·|X|⌉ + 1 elements of BOTH sets — so candidate pairs only
    * need to be generated from those per-doc prefixes, taken in the
    * canonical rarest-first order (df asc, shingle asc) so the prefixes
    * land on the LEAST shared shingles. This is EXACT (no false
    * negatives), which is why the declared queries that use it keep their
    * unchanged all-pairs DuckDB oracles.
    *
    * Scale shape vs the all-co-occurrence plan: candidate rows shrink
    * from Σ_s df(s)² over every shingle to Σ over prefix occurrences of
    * the rarest ~(1−τ) of each doc's shingles (sf1 documents: 138 M
    * co-occurrence rows → 11 M candidates at τ=0.8), and verification is
    * one `array_intersect` per DISTINCT candidate against doc-sized
    * shingle arrays joined by id — joins that shuffle candidate-count
    * rows, never the quadratic stream, and no broadcast of anything
    * corpus-sized. The ⌈τ·n⌉ is computed with a −1e−9 guard so binary
    * rounding of τ·n can only LENGTHEN a prefix (safe direction); a
    * size-compatibility filter (τ·max ≤ min, same guard) prunes before
    * the intersect.
    *
    * @param kept the (s, ms: sorted member list) retained-shingle groups
    *             (post df-cap) — Jaccard is over that universe
    */
  private def prefixFilteredPairs(kept: DataFrame, tau: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tau > 0.0 && tau <= 1.0, s"minJaccard must be in (0,1], got $tau")
    // flat retained rows with each shingle's df riding along (size of the
    // member list the row was exploded from). The EXPLICIT repartition by
    // __id (r17) is the one id-keyed exchange BOTH downstream consumers
    // need — the prefix-rank window and the verification-array aggregate
    // below: each requires ClusteredDistribution(__id), which this
    // HashPartitioning satisfies, so the window adds only its sort and
    // the aggregate adds no exchange at all, and the two identical
    // exchange subtrees dedup into ONE physical shuffle (exchange reuse).
    // Without it the arrs branch paid its own full id-keyed shuffle of
    // the same rows — Catalyst pruned the window out of that branch, so
    // nothing was shared (the r16 attempt to reuse the window's exchange
    // was a plan no-op, VERDICT r16 #4). collect_list partials don't
    // shrink data, so aggregating post-shuffle moves no extra bytes.
    val rows = kept
      .select(col("s"), size(col("ms")).as("df"), explode(col("ms")).as("__id"))
      .repartition(col("__id"))
    val byDoc  = Window.partitionBy("__id")
    val ranked = rows
      .withColumn("rk", row_number().over(byDoc.orderBy(col("df").asc, col("s").asc)))
      .withColumn("nn", count(lit(1)).over(byDoc))
    val prefix = ranked
      .where(col("rk") <= col("nn") - ceil(lit(tau) * col("nn") - lit(1e-9)) + 1)
      .select("__id", "s", "rk", "nn")
    // in-place ordered expansion over prefix occurrences only, with
    // PPJoin's positional filter applied per collision BEFORE the distinct:
    // J ≥ τ needs overlap ≥ α = ⌈τ/(1+τ)·(nA+nB)⌉, and a collision at
    // ranks (rkA, rkB) bounds the overlap by 1 + min(nA−rkA, nB−rkB)
    // (every other common element sits after both ranks). The smallest
    // common element of a true pair always passes, so keeping pairs where
    // ANY collision passes loses nothing — while collisions on LATE
    // prefix ranks (the bulk, since random co-occurrences are uniform in
    // rank) are dropped before they ever reach the shuffle.
    val alphaNum = lit(tau / (1.0 + tau))
    val cand = prefix
      .groupBy("s")
      .agg(array_sort(collect_list(struct(col("__id").as("id"), col("rk"), col("nn")))).as("ps"))
      .where(size(col("ps")) > 1)
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "a")))
      .select(col("a"), explode(expr("slice(ps, i + 2, size(ps))")).as("b"))
      .where(lit(1) + least(col("a.nn") - col("a.rk"), col("b.nn") - col("b.rk")) >=
        ceil(alphaNum * (col("a.nn") + col("b.nn")) - lit(1e-9)))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    // per-doc retained-shingle arrays for exact verification (order-free;
    // the arrays are distinct by construction so array_intersect is the
    // exact intersection count). Derived from the repartitioned `rows`
    // (r17): the aggregate's required clustering is satisfied by the
    // shared repartition exchange above, so this branch re-reads that
    // shuffle's output instead of paying its own id-keyed exchange
    // (collect_list order differs from the window branch's sort, but only
    // size/array_intersect consume the arrays — both order-free).
    val arrs = rows.groupBy(col("__id")).agg(collect_list(col("s")).as("arr"))
    val verified = cand
      .join(arrs.select(col("__id").as("a_id"), col("arr").as("sa")), Seq("a_id"))
      .join(arrs.select(col("__id").as("b_id"), col("arr").as("sb")), Seq("b_id"))
      .withColumn("na", size(col("sa")))
      .withColumn("nb", size(col("sb")))
      .where(least(col("na"), col("nb")).cast("double") >=
        lit(tau) * greatest(col("na"), col("nb")) - lit(1e-9))
      .withColumn("c", size(array_intersect(col("sa"), col("sb"))))
      .select(
        col("a_id"),
        col("b_id"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jaccard"))
    verified.where(col("jaccard") >= tau)
  }

  /** Cross-corpus contamination matrix: n-gram Jaccard overlap between
    * GROUPS of documents (sources / datasets / splits), the
    * dataset-level sibling of [[ngramJaccardPairs]] — "how much does
    * dataset A leak into dataset B". Shingles are first deduplicated per
    * group (a group's set is the UNION of its documents' shingles — one
    * extra exchange the document-level op avoids via in-projection
    * `array_distinct`), then ordered group pairs are generated in place
    * per shingle by the same inverted-index plan. The group count is
    * small by definition (datasets, not documents), so per-shingle
    * member lists are bounded by the group count — no df cap needed.
    */
  def groupOverlapMatrix(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    val sh = shingleRows(docs, groupCol, textCol, n, "__g")
      .distinct() // a group's shingle set is the union over its documents
    val cnt = sh.groupBy(col("__g").as("g")).agg(count(lit(1)).as("nn"))
    val pairs = sh
      .groupBy("s")
      .agg(array_sort(collect_set(col("__g"))).as("gs"))
      .where(size(col("gs")) > 1)
      .select(col("gs"), posexplode(col("gs")).as(Seq("i", "a_group")))
      .select(col("a_group"), explode(expr("slice(gs, i + 2, size(gs))")).as("b_group"))
    pairs
      .groupBy("a_group", "b_group")
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(cnt.select(col("g").as("a_group"), col("nn").as("na"))), Seq("a_group"))
      .join(broadcast(cnt.select(col("g").as("b_group"), col("nn").as("nb"))), Seq("b_group"))
      .select(
        col("a_group"),
        col("b_group"),
        col("shared"),
        (col("shared").cast("double") / (col("na") + col("nb") - col("shared"))).as("jaccard"))
  }

  /** Boilerplate / duplicated-span removal (the C4 "repeated lines" pass,
    * re-expressed over token windows because the corpus has no line
    * structure): split each document into NON-overlapping `window`-token
    * spans, drop every span that occurs in ≥ `minDocs` distinct
    * documents, and reassemble the survivors (plus the <window-token
    * tail, which is always kept) in original order.
    *
    * Scale shape: one shuffled `countDistinct` builds the frequent-span
    * table (output is bounded by total_windows / minDocs and skewed
    * small in practice — boilerplate is by definition concentrated), a
    * left-anti join removes flagged spans, and one regroup rebuilds the
    * documents. No driver-side state, no broadcast of corpus-sized data;
    * Catalyst/AQE picks broadcast-anti when the frequent table is small.
    *
    * Returns (idCol, text_clean, n_removed) — one row per input document
    * (documents whose every span was removed come back as just their
    * tail, possibly empty).
    */
  def removeDuplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 2,
      minDocs: Long = 10L): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val tk   = split(Cols.q(textCol), " ")
    val base = docs.select(
      Cols.q(idCol).as("__id"),
      tk.as("tk"),
      (size(tk) / window).cast("int").as("nwin"))
    // sequence(0, -1) would count DOWN (Spark defaults the step to -1
    // when start > stop), so guard the no-window case explicitly
    val spansExpr = when(
      col("nwin") >= 1,
      expr(s"transform(sequence(0, nwin - 1), i -> concat_ws(' ', slice(tk, i * $window + 1, $window)))")
    ).otherwise(array().cast("array<string>"))
    val spans = base.select(col("__id"), posexplode(spansExpr).as(Seq("pos", "w")))
    val frequent = spans
      .groupBy("w")
      .agg(countDistinct("__id").as("df"))
      .where(col("df") >= minDocs)
      .select("w")
    val kept = spans
      .join(frequent, Seq("w"), "left_anti")
      .groupBy("__id")
      .agg(array_sort(collect_list(struct(col("pos"), col("w")))).as("ks"))
      .select(col("__id"), expr("transform(ks, k -> k.w)").as("kept"))
    base
      .join(kept, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        concat_ws(
          " ",
          concat(
            flatten(transform(
              coalesce(col("kept"), array().cast("array<string>")),
              w => split(w, " "))),
            expr(s"slice(tk, nwin * $window + 1, size(tk) - nwin * $window)"))
        ).as("text_clean"),
        (col("nwin").cast("long") -
          coalesce(size(col("kept")), lit(0)).cast("long")).as("n_removed"))
  }

  /** N-gram novelty: per document, the fraction of its DISTINCT word
    * n-grams that occur in NO other document (corpus df = 1) — the
    * diversity/memorization screen dual to contamination
    * ([[Decontamination]] asks "seen in the eval set?", novelty asks
    * "seen anywhere else?"). Low novelty = boilerplate assembled from
    * corpus-common n-grams; high novelty = fresh text.
    *
    * Returns (id, n_shingles, n_novel, novelty) for every doc with at
    * least one n-gram, novelty rounded to 6 dp.
    *
    * Scale shape: the shared distinct-shingle projection feeds two
    * aggregates and NO corpus-sized join. A df = 1 shingle has exactly
    * one owner, so the novel count per doc is an aggregate OF the df
    * table (carry `min(doc)` through the shingle agg, re-key the df = 1
    * rows by owner), and the final join is doc-count-sized on both
    * sides. The alternative — rejoining the df table to the shingle
    * stream — moves the whole (doc, shingle) stream through a second
    * exchange and invites a misestimated broadcast of the
    * vocabulary-sized df table (the q34 sf1 incident, PLANS.md); this
    * shape cannot. No pair expansion at all, so unlike the Jaccard index
    * path there is no df² hazard and no cap to set.
    */
  def ngramNovelty(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, n, "__id")
    val perDoc = sh.groupBy(col("__id")).agg(count(lit(1)).as("n_shingles"))
    // min is deterministic for the df = 1 groups that survive (singleton);
    // the df > 1 groups it is computed over are discarded
    val novelPerDoc = sh
      .groupBy("s")
      .agg(count(lit(1)).as("df"), min(col("__id")).as("owner"))
      .where(col("df") === 1L)
      .groupBy(col("owner").as("__id"))
      .agg(count(lit(1)).as("n_novel"))
    perDoc
      .join(novelPerDoc, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_shingles"), 6)
          .as("novelty"))
  }
}
