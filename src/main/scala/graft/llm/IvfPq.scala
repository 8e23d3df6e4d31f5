package graft.llm

import graft.core.{Cols, Generations, IndexMeta}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVFADC (Jégou et al. 2011): the composed FAISS-style index — IVF
  * coarse cells for pruning ([[IvfIndex]] centroids) with product
  * quantization of the RESIDUAL `v − centroid(cell)` ([[Pq]] codebooks)
  * for in-cell scoring. This is the architecture a 100 TB embedding
  * corpus actually deploys: the coarse quantizer bounds how much of the
  * corpus a query touches (nProbe cells), and the residual codes bound
  * how much memory each touched row costs (m bytes + a cell id).
  * Residuals quantize better than raw vectors because subtracting the
  * cell centroid removes the coarse structure the codebook would
  * otherwise spend its entries on.
  *
  * Scale shape: build = centroid training (bounded driver sample, the
  * [[IvfIndex.trainCentroids]] recipe) + one assignment projection +
  * m·iters bounded aggregates for the residual codebooks; the encoded
  * corpus is (vec_id, cell, m codes) — nothing else is retained. Search
  * = driver-side probe-cell pick + per-probed-cell ADC tables, then ONE
  * filter + projection + TakeOrdered over the probed cells' rows. At
  * cluster scale `cell` is the partition key, so the probe filter is
  * partition pruning (the [[IvfIndex.writeIndexGen]] layout).
  */
object IvfPq {

  /** The built index: coarse centroids (cell id = array position) and the
    * residual codebooks.
    */
  final case class IvfPqIndex(
      centroids: Array[Array[Double]],
      cb: Pq.Codebooks)

  /** Cell assignment + residual for a corpus frame, (vec_id, cell, res),
    * in one broadcast kernel: the cell is [[KMeans.nearestIndex]] over the
    * coarse centroids (rounded distance, smaller cell on ties), the
    * residual the index-order `v − centroid(cell)`. Rows with a null id or
    * embedding are dropped. Left LAZY on purpose — the fused [[Pq.train]]
    * passes are mapPartitions kernels that evaluate their input stream
    * once per pass, so re-deriving the residual costs one cheap kernel per
    * pass instead of a corpus-sized localCheckpoint materialization
    * (measured 16 s of q128's 21 s at sf10).
    */
  private[graft] def residualKernelFrame(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val c2s = centroids.map(c => c.map(x => x * x).sum)
    val bc  = spark.sparkContext.broadcast((centroids, c2s))
    emb
      .select(
        Cols.q(idCol).cast("long").as("vec_id"),
        Cols.q(vecCol).cast("array<double>").as("v"))
      .where(col("vec_id").isNotNull && col("v").isNotNull)
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val (cents, c2s) = bc.value
        it.map { case (id, v) =>
          val cell = KMeans.nearestIndex(v, 0, v.length, cents, c2s)
          val cen  = cents(cell)
          val res  = new Array[Double](v.length)
          var p = 0
          while (p < v.length) { res(p) = v(p) - cen(p); p += 1 }
          (id, cell, res)
        }
      }
      .toDF("vec_id", "cell", "res")
  }

  /** Train the composed index and encode the corpus: returns the index
    * plus the encoded frame (vec_id, cell, code0..codeM-1).
    */
  def build(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      nCells: Int = 16,
      m: Int = 4,
      k: Int = 16,
      pqIters: Int = 2,
      seed: Int = 42): (IvfPqIndex, DataFrame) = {
    require(nCells >= 1 && nCells <= 64, s"nCells=$nCells out of the CASE-expression range")
    val centroids = IvfIndex.trainCentroids(emb, idCol, vecCol, nCells, seed = seed)
    // residuals via the LAZY broadcast kernel: the fused Pq.train makes
    // 1 + iters passes total, each re-deriving the residual inside its own
    // mapPartitions input stream — cheaper than materializing the corpus-
    // sized frame through localCheckpoint (16 s of q128's 21 s at sf10)
    val res = residualKernelFrame(emb, idCol, vecCol, centroids)
    val cb  = Pq.train(res, "vec_id", "res", dims, m, k, pqIters)
    val idx = IvfPqIndex(centroids, cb)
    // corpus encoding via the one-pass kernel over the RAW embeddings:
    // cell + codes in a single projection, instead of encoding the
    // residual frame and re-joining it to itself for the cell column (a
    // corpus×corpus sort-merge join). Bit-identical to the residual
    // pipeline ([[encodeViaResiduals]], spec-pinned).
    (idx, encodeForIndex(emb, idCol, vecCol, idx))
  }

  /** The two-stage encoding (PQ-encode the residual frame, then re-join
    * it for the cell column) — kept for the one-pass kernel parity spec.
    */
  private[graft] def encodeViaResiduals(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      index: IvfPqIndex): DataFrame = {
    val res = residualKernelFrame(emb, idCol, vecCol, index.centroids)
    Pq.encode(res, "vec_id", "res", index.cb)
      .join(res.select("vec_id", "cell"), Seq("vec_id"))
  }

  /** One-pass encoder against a BUILT index: cell assignment, residual,
    * and PQ codes computed in a single broadcast kernel over the raw
    * embedding — a stateless projection, so the SAME method encodes a
    * batch corpus or an unbounded stream (the online index-ingestion
    * path; see `StreamingOps.ivfPqEncodeStream`). Bit-identical to the
    * build-time assignment+encode pipeline (same round6/argmin/tie
    * contracts at every stage; spec-pinned).
    */
  def encodeForIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      index: IvfPqIndex): DataFrame =
    encodeKernel(emb, idCol, vecCol, index)
      .select(
        col("vec_id") +: col("cell") +:
          (0 until index.cb.m).map(s => col("__codes")(s).as(s"code$s")): _*)

  /** The ONE encode kernel behind [[encodeForIndex]] and
    * [[encodeForIndexWithError]]: (vec_id, cell, __codes, err) — coarse
    * cell, residual PQ codes, and the exact residual reconstruction
    * error, all in a single pass so the spec-pinned argmin contract
    * (rounded dist, strict-&lt; displacement over ascending indexes via
    * [[KMeans.nearestIndex]]) cannot desynchronize between the ingest
    * path and the drift monitor. The err accumulation is O(dims),
    * negligible next to the O(k·dims) argmin scans.
    */
  private def encodeKernel(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      index: IvfPqIndex): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val coarseC2s = index.centroids.map(c => c.map(x => x * x).sum)
    val bookC2s   = index.cb.books.map(_.map(b => b.map(x => x * x).sum))
    val bc        = spark.sparkContext.broadcast((index, coarseC2s, bookC2s))
    emb
      .select(Cols.q(idCol).cast("long").as("vec_id"), Cols.q(vecCol).cast("array<double>").as("v"))
      .where(col("vec_id").isNotNull && col("v").isNotNull)
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val (ix, c2s, bC2s) = bc.value
        val cb = ix.cb
        it.map { case (id, v) =>
          // coarse cell + residual PQ codes, both via the ONE shared
          // argmin kernel (KMeans.nearestIndex — rounded dist, strict-<
          // displacement over ascending indexes)
          val cell = KMeans.nearestIndex(v, 0, v.length, ix.centroids, c2s)
          val cen  = ix.centroids(cell)
          val res  = Array.tabulate(v.length)(j => v(j) - cen(j))
          val codes  = new Array[Int](cb.m)
          var errAcc = 0.0
          var s = 0
          while (s < cb.m) {
            val code = KMeans.nearestIndex(res, s * cb.subDim, cb.subDim, cb.books(s), bC2s(s))
            codes(s) = code
            val book = cb.books(s)(code)
            var i = 0
            while (i < cb.subDim) {
              val d = res(s * cb.subDim + i) - book(i)
              errAcc += d * d
              i += 1
            }
            s += 1
          }
          (id, cell, codes, math.sqrt(errAcc))
        }
      }
      .toDF("vec_id", "cell", "__codes", "err")
  }

  /** Deterministic fingerprint of an index's GEOMETRY (coarse centroids +
    * PQ codebooks): two indexes with the same quantizer hash equal, a
    * retrained one differs. This is what lets a long-lived serve handle
    * detect that [[retrainAndRebuild]] replaced the index underneath it —
    * codes are meaningless across geometries, so serving stale codebooks
    * against rebuilt cells would return silently wrong distances.
    */
  def geomId(idx: IvfPqIndex): Long = {
    var h = 0xcbf29ce484222325L // FNV-1a over the raw double bits
    def mix(x: Double): Unit = {
      h ^= java.lang.Double.doubleToLongBits(x)
      h *= 0x100000001b3L
    }
    idx.centroids.foreach(_.foreach(mix))
    idx.cb.books.foreach(_.foreach(_.foreach(mix)))
    h
  }

  /** The centroid + codebook sidecars [[writeIndexGen]] writes after
    * the cells and [[loadIndex]] reads back.
    */
  private def writeQuantizerSidecars(
      spark: org.apache.spark.sql.SparkSession,
      idx: IvfPqIndex,
      outDir: String): Unit = {
    import spark.implicits._
    idx.centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/centroids")
    (for {
      s <- 0 until idx.cb.m
      c <- idx.cb.books(s).indices
    } yield (s, c, idx.cb.labels(s)(c), idx.cb.books(s)(c).toSeq))
      .toDF("subspace", "code", "label", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/codebooks")
  }

  private val IvfPqFormat = "ivfadc/1"

  private def ivfPqIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String) =
    IndexMeta(spark, indexDir, IvfPqFormat, "IvfPq.writeIndexGen")

  /** The geometry stamp — the `meta` sidecar (format, geom_id) — written
    * FIRST in every index (re)write (ADVICE r14 #1): readers derive their
    * own hash from the quantizer sidecars they actually loaded
    * ([[loadIndex]]) and compare it to this stamp, so a load racing a
    * rebuild in the window after the stamp lands but before the
    * cells/sidecars finish sees NEW stamp vs OLD-quantizer hash and fails
    * fast — the old stamp-written-last order let that window pair new
    * cells with the old quantizer AND the old stamp, passing the check
    * and serving wrong distances.
    */
  private def writeGeomStamp(
      spark: org.apache.spark.sql.SparkSession,
      idx: IvfPqIndex,
      outDir: String): Unit = {
    import spark.implicits._
    IndexMeta.write(Seq((IvfPqFormat, geomId(idx))).toDF("format", "geom_id"), outDir)
  }

  /** The persisted geometry stamp. While the sidecar is unchanged this is
    * one driver-side listing of `<indexDir>/meta`, no Spark job.
    */
  private def readGeomId(
      indexDir: String,
      spark: org.apache.spark.sql.SparkSession): Long =
    ivfPqIndex(spark, indexDir).row.getAs[Long]("geom_id")

  /** [[encodeForIndex]] plus the EXACT residual reconstruction error —
    * `err = ‖res − decode(codes)‖` accumulated per subspace at the chosen
    * code, in the same one-pass kernel. This is the frozen-quantizer
    * drift signal: a batch whose distribution has moved away from the
    * batch-0 geometry reconstructs worse, and the per-generation error
    * trend ([[q135]]'s ingest story) is the retrain-and-rebuild trigger.
    */
  def encodeForIndexWithError(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      index: IvfPqIndex): DataFrame =
    encodeKernel(emb, idCol, vecCol, index)
      .select(
        col("vec_id") +: col("cell") +:
          (0 until index.cb.m).map(s => col("__codes")(s).as(s"code$s")) :+ col("err"): _*)

  /** Persist an ALREADY-BUILT index ([[build]]) and its encoded corpus
    * in the GENERATIONAL layout: `cells/cell=<id>/src_batch=<b>/` (m
    * codes + id per row, nothing else), plus the geometry stamp (the
    * `meta` sidecar) and the centroid and codebook sidecars (nCells + m·k
    * rows). A probe filter over this layout is STATIC partition pruning
    * on `cell` (the outer directory level): a query at nProbe=p reads p
    * cells' directories of code rows, never the corpus. The generation
    * level only scopes writes, so incremental ingest ([[appendToIndex]])
    * can add or replay a batch by (over)writing only that batch's
    * partitions. Takes a pre-built index so a relational (seed-pinned)
    * quantizer can be persisted as easily as a Lloyd-trained one.
    */
  def writeIndexGen(
      idx: IvfPqIndex,
      encoded: DataFrame,
      outDir: String,
      srcBatch: Long = 0L): Unit = {
    val spark = encoded.sparkSession
    // stamp FIRST: from this point a racing load pairs its old-quantizer
    // hash against the new stamp and fails fast (see writeGeomStamp)
    writeGeomStamp(spark, idx, outDir)
    // a bootstrap write (static overwrite regardless of session conf): the
    // documented retrain-and-rebuild remedy must replace the WHOLE cells
    // table, or generations encoded in the old geometry would survive
    // into the new index and serve wrong distances
    Generations.write(encoded.repartition(col("cell")), s"$outDir/cells", srcBatch,
      Seq("cell", Generations.Col), append = false)
    writeQuantizerSidecars(spark, idx, outDir)
    // the sidecar went first: drop a schema a reader took before the table
    IndexMeta.invalidate(spark, outDir)
  }

  /** Incremental IVFADC ingest: encode a NEW batch against a persisted
    * index's FROZEN centroids and codebooks ([[encodeForIndex]] — no
    * retrain, no history re-read) and append its code rows as generation
    * `srcBatch` of the [[writeIndexGen]] layout. Dynamic partition
    * overwrite replaces exactly this batch's `(cell, src_batch)`
    * directories, so replaying a batch is idempotent — the q117/q125
    * ingest contract applied to the ANN index family. At 100 TB this is
    * the only index-maintenance shape that works: the history is never
    * re-encoded, the write touches ≤ nCells directories, and serving
    * reads the probed cells across all generations via the same static
    * pruning on the outer `cell` level.
    *
    * Frozen-quantizer drift is the caller's trade: appended batches are
    * encoded in the batch-0 geometry (standard FAISS practice); retrain
    * + full rebuild when reconstruction error on new batches degrades.
    */
  def appendToIndex(
      indexDir: String,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      srcBatch: Long): Unit =
    appendToIndexLoaded(indexDir, loadIndex(indexDir, emb.sparkSession).index, emb, idCol, vecCol,
      srcBatch)

  /** The [[appendToIndex]] write against an ALREADY-LOADED quantizer —
    * the ingest-loop shape: the quantizer is FROZEN for the life of the
    * index, so a loop loads it once and pays only the encode + write per
    * batch. The sidecar collects and the layout guard ([[loadIndex]])
    * are per-loop costs; the GEOMETRY-STAMP check below is deliberately
    * per-batch (one driver-side listing of the `meta` sidecar, no Spark
    * job while it is unchanged) — it is what lets the loop fail fast when
    * retrainAndRebuild replaces the quantizer mid-stream.
    */
  def appendToIndexLoaded(
      indexDir: String,
      index: IvfPqIndex,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      srcBatch: Long): Unit =
    appendEncodedLoaded(indexDir, index, encodeForIndex(emb, idCol, vecCol, index), srcBatch)

  /** The [[appendToIndexLoaded]] write for an ALREADY-ENCODED batch
    * (vec_id, cell, code0..codeM-1 — e.g. the error-carrying encode a
    * monitored ingest loop already ran, minus its `err` column), so a
    * loop that measures drift per batch does not encode twice through
    * separate entry points. Carries the same per-batch geometry guard:
    * appending rows encoded in a quantizer that is no longer the
    * index's — an ingest loop overtaken by [[retrainAndRebuild]] — would
    * corrupt the index with cross-geometry codes; fail fast telling the
    * loop to reload instead.
    */
  def appendEncodedLoaded(
      indexDir: String,
      index: IvfPqIndex,
      encoded: DataFrame,
      srcBatch: Long): Unit = {
    val cur = readGeomId(indexDir, encoded.sparkSession)
    require(
      cur == geomId(index),
      s"IVFADC index at $indexDir was rebuilt since this quantizer was loaded (geometry " +
        s"stamp $cur != loaded ${geomId(index)}) — appending cross-geometry codes would " +
        "corrupt the index; reload via IvfPq.loadIndex and re-encode the batch")
    Generations.write(encoded.repartition(col("cell")), s"$indexDir/cells", srcBatch,
      Seq("cell", Generations.Col), append = true)
  }

  /** Durable per-generation drift history (`<indexDir>/drift/
    * src_batch=<b>/…`: n, mean_err) — the q136 report persisted NEXT TO
    * the index it describes, so a monitored ingest loop's baseline
    * survives restarts (in-memory history would re-baseline on every
    * recovery and miss slow drift). One row per generation, written with
    * dynamic overwrite: a replayed micro-batch rewrites its own row —
    * idempotent like the cells append it travels with.
    */
  def recordDrift(
      indexDir: String,
      spark: org.apache.spark.sql.SparkSession,
      srcBatch: Long,
      n: Long,
      meanErr: Double): Unit = {
    import spark.implicits._
    Generations.write(Seq((n, meanErr)).toDF("n", "mean_err").coalesce(1), s"$indexDir/drift",
      srcBatch, Seq(Generations.Col), append = true)
  }

  /** The persisted drift report (src_batch, n, mean_err), or None when no
    * generation has recorded one yet (fresh index, or just rebuilt — the
    * old-geometry errors are meaningless after a retrain and
    * [[clearDrift]] drops them).
    */
  def driftHistory(
      indexDir: String,
      spark: org.apache.spark.sql.SparkSession): Option[DataFrame] = {
    val p  = new org.apache.hadoop.fs.Path(indexDir, "drift")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString).select("src_batch", "n", "mean_err"))
    else None
  }

  /** Drop the drift history — called after a rebuild: the recorded errors
    * were measured in the REPLACED geometry, and keeping them would make
    * the next [[retrainDue]] compare new-geometry batches against a
    * stale baseline.
    */
  def clearDrift(
      indexDir: String,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    val p  = new org.apache.hadoop.fs.Path(indexDir, "drift")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  /** q136's retrain trigger as a predicate over the drift report
    * (`src_batch`, `mean_err` — the q136 / `ivfPqDriftStream` shape):
    * true when the LATEST generation's mean residual reconstruction
    * error exceeds `tau` × the BOOTSTRAP generation's (min src_batch) —
    * i.e. the current distribution reconstructs `tau`× worse in the
    * frozen geometry than the data the quantizer was trained on. The
    * report is generations-sized (collect is O(generations)).
    */
  def retrainDue(genErr: DataFrame, tau: Double = 1.25): Boolean = {
    require(tau > 1.0, s"tau must exceed 1 (it multiplies the bootstrap error), got $tau")
    val rows = genErr
      .select(col("src_batch").cast("long"), col("mean_err").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    require(rows.nonEmpty, "retrainDue needs a non-empty drift report")
    val base   = rows.minBy(_._1)
    val latest = rows.maxBy(_._1)
    latest._1 != base._1 && latest._2 > tau * base._2
  }

  /** The composed remedy when [[retrainDue]] fires — the action half of
    * the q136 trigger: RETRAIN the quantizer (coarse centroids + residual
    * codebooks, the [[build]] recipe) on `trainOn` (default: the full
    * corpus; pass the recent batches to bias the new geometry toward the
    * drifted distribution), RE-ENCODE the entire corpus through the
    * one-pass kernel, and REBUILD the generational index via
    * [[writeIndexGen]] — whose STATIC overwrite is exactly why this is
    * safe: generations encoded in the old geometry cannot survive into
    * the new index. History re-encoding is unavoidable (codes are
    * meaningless across geometries), which is why this is the RARE
    * operation and [[appendToIndex]] the per-batch one; post-rebuild the
    * index is single-generation (src_batch = 0) and ingest resumes with
    * a fresh generation space. Concurrent serving: handles loaded BEFORE
    * the rebuild fail fast on their next [[scoreCandidatesServe]] batch
    * via the geometry stamp (spec-pinned) rather than serving stale-
    * codebook distances; a load racing the rebuild fails fast at
    * [[loadIndex]] because the NEW stamp is written before anything else
    * while the quantizer sidecars still hash to the old geometry
    * (ADVICE r14 #1 — the old stamp-written-last order had a window that
    * paired new cells with the old quantizer and the old stamp, passing
    * the check); readers racing the cells overwrite itself surface
    * file-level errors, not wrong results.
    *
    * Returns the NEW index (so the caller's ingest loop can keep
    * encoding without a reload).
    */
  def retrainAndRebuild(
      indexDir: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      nCells: Int = 16,
      m: Int = 4,
      k: Int = 16,
      pqIters: Int = 2,
      seed: Int = 42,
      trainOn: DataFrame = null): IvfPqIndex = {
    // same range check as build — the rebuilt centroids ride the same
    // CASE expressions (ADVICE r14 #3: the paired writers validated
    // inconsistently)
    require(nCells >= 1 && nCells <= 64, s"nCells=$nCells out of the CASE-expression range")
    val trainSrc  = Option(trainOn).getOrElse(corpus)
    val centroids = IvfIndex.trainCentroids(trainSrc, idCol, vecCol, nCells, seed = seed)
    val res       = residualKernelFrame(trainSrc, idCol, vecCol, centroids)
    val cb        = Pq.train(res, "vec_id", "res", dims, m, k, pqIters)
    val idx       = IvfPqIndex(centroids, cb)
    writeIndexGen(idx, encodeForIndex(corpus, idCol, vecCol, idx), indexDir, srcBatch = 0L)
    idx
  }

  /** A [[writeIndexGen]] directory loaded for serving: the rebuilt in-memory
    * [[IvfPqIndex]] plus the cell-partitioned encoded corpus relation.
    * A serving process calls [[loadIndex]] ONCE and then [[topK]] /
    * [[scoreCandidates]] per query — the quantizer reads (two small
    * parquet collects) are a per-load cost, not a per-query one.
    *
    * `dir = None` (a hand-constructed handle) means there is nothing to
    * re-check the geometry against, EXPLICITLY — the staleness guard is
    * `Option`-shaped rather than sentinel-disabled (`dir = ""`,
    * `geomId = -1L`), so a legitimate FNV hash equal to −1 cannot
    * silently bypass it and neither can an accidental default
    * (ADVICE r14 #2). The stamp itself is DERIVED from the loaded
    * quantizer ([[geomId]] over `index`), never read into the handle, so
    * a mixed mid-rebuild load cannot carry a matching stamp.
    */
  final case class LoadedIndex(
      index: IvfPqIndex,
      cells: DataFrame,
      dir: Option[String] = None) {

    /** The loaded quantizer's own geometry hash (what the per-batch
      * guards compare against the index directory's current stamp).
      */
    def geomId: Long = IvfPq.geomId(index)
  }

  def loadIndex(
      indexDir: String,
      spark: org.apache.spark.sql.SparkSession): LoadedIndex = {
    val centroids = spark.read
      .parquet(s"$indexDir/centroids")
      .orderBy("cell")
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val cbRows = spark.read
      .parquet(s"$indexDir/codebooks")
      .orderBy("subspace", "code")
      .collect()
    val m      = cbRows.map(_.getInt(0)).max + 1
    val books  = Array.tabulate(m)(s =>
      cbRows.filter(_.getInt(0) == s).map(_.getSeq[Double](3).toArray))
    val labels = Array.tabulate(m)(s =>
      cbRows.filter(_.getInt(0) == s).map(_.getLong(2)))
    val cb  = Pq.Codebooks(m, books(0)(0).length, books, labels)
    val idx = IvfPqIndex(centroids, cb)
    // load-time consistency check, read AFTER the quantizer: the stamp is
    // written FIRST in every (re)write, so a load racing a rebuild sees the
    // new stamp while the quantizer sidecars are still the old geometry —
    // fail fast here instead of handing out a handle that pairs old
    // codebooks with new cells
    val ix  = ivfPqIndex(spark, indexDir)
    val cur = ix.row.getAs[Long]("geom_id")
    require(
      cur == geomId(idx),
      s"IVFADC index at $indexDir is mid-rebuild (geometry stamp $cur != loaded quantizer " +
        s"hash ${geomId(idx)}) — a retrainAndRebuild is replacing it; retry the load after " +
        "the rebuild completes")
    // the layout guard takes the cells schema only once the stamp matches
    // the quantizer, whose sidecars land after the cells of its geometry
    Generations.require(ix.schema("cells"), s"$indexDir/cells", "IvfPq.writeIndexGen")
    LoadedIndex(idx, ix.read("cells"), dir = Some(indexDir))
  }

  /** Query a [[writeIndexGen]] index: sidecars rebuild the in-memory
    * [[IvfPqIndex]] (O(nCells + m·k) driver rows), and [[topK]]'s probe
    * filter over the partitioned cell table executes as partition
    * pruning — spec-asserted via the executed scan's partition count.
    */
  def topKIndexed(
      indexDir: String,
      spark: org.apache.spark.sql.SparkSession,
      query: Array[Double],
      k: Int = 5,
      nProbe: Int = 4): DataFrame = {
    val loaded = loadIndex(indexDir, spark)
    topK(loaded.index, loaded.cells, query, k, nProbe)
  }

  /** ADC search over the probed cells: the query's residual AGAINST EACH
    * probed cell gets its own m×k exact-distance table (coarse centroids
    * differ per cell, so the residual query differs per cell); each
    * encoded row in a probed cell costs m lookups via a per-subspace
    * CASE on its cell. Rounded distance, vec_id tie-break.
    */
  def topK(
      index: IvfPqIndex,
      encoded: DataFrame,
      query: Array[Double],
      k: Int = 5,
      nProbe: Int = 4): DataFrame = {
    val cb = index.cb
    require(query.length == cb.m * cb.subDim, "query dims do not match codebooks")
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val probed = index.centroids.zipWithIndex
      .map { case (c, i) => (d2(query, c), i) }
      .sortBy { case (d, i) => (d, i) }
      .take(math.min(nProbe, index.centroids.length))
      .map(_._2)
    // per probed cell: residual query and its m×k table, exact driver math
    val tables: Map[Int, Array[Array[Double]]] = probed.map { cell =>
      val rq = query.indices.map(i => query(i) - index.centroids(cell)(i)).toArray
      cell -> Array.tabulate(cb.m) { s =>
        cb.books(s).map { c =>
          var acc = 0.0
          var i = 0
          while (i < cb.subDim) { val d = rq(s * cb.subDim + i) - c(i); acc += d * d; i += 1 }
          acc
        }
      }
    }.toMap
    val approx = (0 until cb.m)
      .map { s =>
        probed.foldLeft(lit(0.0): Column) { (acc, cell) =>
          when(
            col("cell") === cell,
            element_at(typedlit(tables(cell)(s).toSeq), col(s"code$s") + 1)).otherwise(acc)
        }
      }
      .reduce(_ + _)
    encoded
      .where(col("cell").isin(probed.toSeq: _*))
      .select(col("vec_id"), round(sqrt(greatest(approx, lit(0.0))), 6).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Score MANY queries against the encoded corpus through the index —
    * the residual-PQ scorer for a query STREAM (each arriving embedding
    * is a query) as well as batch query tables. Per query: the nProbe
    * nearest coarse cells (exact distance, cell-id tie-break — [[topK]]'s
    * probe rule) each get the query-residual's m×k exact subspace
    * distance table, emitted as one (q_id, cell, table) row by a
    * stateless kernel; candidates come from ONE equi-join on `cell`
    * against the encoded corpus — the COMPRESSED (m-byte-code) side, 64×
    * smaller than raw vectors, which is what keeps the corpus side
    * broadcastable/shufflable at scale — and each candidate costs m
    * `element_at` lookups. Emits every probed candidate with its ADC
    * distance —
    * per-query top-k is a downstream sort (streams can't rank without an
    * aggregation mode; [[topK]] IS that sort for one query, spec-pinned
    * consistent).
    *
    * Stateless and watermark-free by construction, so the SAME method
    * scores a batch frame or an unbounded stream
    * (`StreamingOps.ivfPqScoreStream`); batch ≡ stream is spec-pinned.
    */
  def scoreCandidates(
      queries: DataFrame,
      encoded: DataFrame,
      index: IvfPqIndex,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cb = index.cb
    val kk = cb.books.map(_.length).max
    scoreJoin(probeTables(queries, index, nProbe, idCol, vecCol), encoded, cb.m, kk)
  }

  /** [[scoreCandidates]] against a PERSISTED ([[loadIndex]]-ed) index
    * with STATIC cell pruning: the batch's probe tables are pinned once
    * (they are batch × nProbe rows of m×k doubles — serve-batch-sized,
    * collected in ONE job into a LocalRelation, nothing persisted on
    * executors), the probed-cell union is read off that collect and
    * applied as a literal `cell` filter so the
    * scan of the `cells/cell=<id>/` layout executes as partition
    * pruning no matter how the optimizer shapes the join — a concurrent
    * serve batch reads exactly the union of its queries' probed cells,
    * never the corpus (spec-asserted via the executed scan's partition
    * count; the join-only path leaves the pruning to DPP, which a plain
    * equi-join on a computed column is not guaranteed to get).
    */
  /** Probe-row collect ceiling for [[scoreCandidatesServe]]: queries ×
    * nProbe rows of m×k doubles each. 2¹⁶ rows ≈ 34 MB at m·k = 64 —
    * comfortably driver-sized; a corpus-scale query frame blows it and
    * must fail fast naming the distributed path (ADVICE r13: the
    * serve-batch contract was only a comment, so an oversize batch OOMed
    * the driver with no diagnostic).
    */
  val MaxServeProbeRows: Int = 1 << 16

  def scoreCandidatesServe(
      queries: DataFrame,
      loaded: LoadedIndex,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxProbeRows: Int = MaxServeProbeRows): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // staleness guard: a retrainAndRebuild since loadIndex replaced the
    // quantizer, and decoding rebuilt codes with these (stale) codebooks
    // would serve silently WRONG distances — re-check the geometry stamp
    // (one driver-side listing of the meta sidecar per serve batch, no
    // Spark job while it is unchanged) and fail fast telling the loop to
    // reload. The compared value is the loaded quantizer's OWN hash (never
    // a stored stamp), so a mixed mid-rebuild handle cannot pass; dir =
    // None (hand-constructed) skips the check explicitly.
    loaded.dir.foreach { d =>
      val current = readGeomId(d, spark)
      require(
        current == loaded.geomId,
        s"IVFADC index at $d was rebuilt since loadIndex (geometry stamp " +
          s"$current != loaded ${loaded.geomId}) — stale codebooks would decode " +
          "rebuilt codes to wrong distances; reload the index (IvfPq.loadIndex) and retry")
    }
    val cb = loaded.index.cb
    val kk = cb.books.map(_.length).max
    // probes are serve-batch-sized by contract (queries × nProbe rows of
    // m×k doubles — e.g. 64 queries × 4 probes × 32 KB ≈ 8 MB), so pin
    // them as ONE collect into a LocalRelation instead of a
    // localCheckpoint: the probed-cell union falls out driver-side for
    // free, the join side broadcasts naturally, and a long-running serve
    // loop accumulates NO executor storage (the old per-batch checkpoint
    // blocks lived until RDD GC — ADVICE r12). take(bound + 1) keeps the
    // overflow CHECK itself bounded — an oversize batch is detected, not
    // materialized.
    val probeRows = probeTables(queries, loaded.index, nProbe, idCol, vecCol)
      .as[(Long, Int, Array[Double])]
      .take(maxProbeRows + 1)
    require(
      probeRows.length <= maxProbeRows,
      s"scoreCandidatesServe collected more than $maxProbeRows probe rows (queries × nProbe) — " +
        "this entry point pins the batch's probe tables on the driver and is for SERVE-SIZED " +
        "query batches; for corpus-scale query frames use IvfPq.scoreCandidates (distributed " +
        "probe kernel, no driver collect), or raise maxProbeRows explicitly")
    val cells  = probeRows.map(_._2).distinct.toSeq
    val probes = spark.createDataset(probeRows.toSeq).toDF("q_id", "cell", "__table")
    scoreJoin(probes, loaded.cells.where(col("cell").isin(cells: _*)), cb.m, kk)
  }

  /** The stateless per-query probe kernel: (q_id, cell, flattened m×k
    * ADC table) for each of the query's nProbe nearest coarse cells.
    */
  private def probeTables(
      queries: DataFrame,
      index: IvfPqIndex,
      nProbe: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cb = index.cb
    val kk = cb.books.map(_.length).max
    require(cb.books.forall(_.length == kk), "scoreCandidates requires uniform codebook sizes")
    val bc = spark.sparkContext.broadcast(index)
    queries
      .select(
        Cols.q(idCol).cast("long").as("q_id"),
        Cols.q(vecCol).cast("array<double>").as("v"))
      // a null embedding/id must not kill the kernel (and, streamed, the
      // whole query) — drop it, the Dedup streaming-path convention
      .where(col("q_id").isNotNull && col("v").isNotNull)
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val ix = bc.value
        val cbk = ix.cb
        it.flatMap { case (qid, v) =>
          val probed = ix.centroids.zipWithIndex
            .map { case (c, i) =>
              var s = 0.0
              var p = 0
              while (p < c.length) { val d = v(p) - c(p); s += d * d; p += 1 }
              (s, i)
            }
            .sortBy { case (d, i) => (d, i) }
            .take(math.min(nProbe, ix.centroids.length))
            .map(_._2)
          probed.iterator.map { cell =>
            val cen = ix.centroids(cell)
            val rq  = Array.tabulate(v.length)(i => v(i) - cen(i))
            val table = new Array[Double](cbk.m * kk)
            var s = 0
            while (s < cbk.m) {
              var c = 0
              while (c < cbk.books(s).length) {
                val book = cbk.books(s)(c)
                var acc  = 0.0
                var i    = 0
                while (i < cbk.subDim) {
                  val d = rq(s * cbk.subDim + i) - book(i); acc += d * d; i += 1
                }
                table(s * kk + c) = acc
                c += 1
              }
              s += 1
            }
            (qid, cell, table)
          }
        }
      }
      .toDF("q_id", "cell", "__table")
  }

  /** ADC join: probe tables × encoded corpus on `cell`, m `element_at`
    * lookups per candidate.
    */
  private def scoreJoin(probes: DataFrame, encoded: DataFrame, m: Int, kk: Int): DataFrame = {
    val approx = (0 until m)
      .map(s => element_at(col("__table"), col(s"code$s") + lit(s * kk) + 1))
      .reduce(_ + _)
    probes
      .join(encoded, Seq("cell"))
      .select(
        col("q_id"),
        col("vec_id"),
        round(sqrt(greatest(approx, lit(0.0))), 6).as("adc_dist"))
  }
}
