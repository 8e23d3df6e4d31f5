package graft.llm

import graft.core.{Cols, Generations, IndexMeta}
import graft.functions.GraftFunctions.dot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbours — the coarse-
  * quantizer alternative to the random-hyperplane LSH in [[AnnBuckets]]
  * (SURVEY.md §2B north star names both).
  *
  * Train: k centroids by Lloyd iterations in driver memory over a bounded
  * hash-ordered sample ([[trainCentroids]]); only the sample and k×dims
  * doubles ever sit on the driver. Deterministic: seeded hash-ordered
  * init, fixed iteration count.
  *
  * Assign: one argmin, [[nearestCells]], behind every path — Lloyd's
  * driver-side steps (nearest cell) and the broadcast kernel that gives
  * each corpus or query row its `nProbe` nearest cells
  * ([[assignProbesKernel]]). Centroids reach executors as a broadcast
  * primitive array, never as generated code.
  *
  * Search: each vector probes its `nProbe` nearest cells and meets only the
  * vectors assigned there — at cluster scale the cell id is the shuffle
  * key (inverted lists co-locate), and recall/cost tune via k and nProbe.
  */
object IvfIndex {

  /** Train centroids on a bounded deterministic sample: the first
    * `trainSample` rows in hash-of-id order are collected once (the first
    * k of them are the init, unchanged from the full-corpus variant) and
    * Lloyd runs in driver memory — the standard IVF recipe (FAISS trains
    * its coarse quantizer on a sample for the same reason): one
    * TakeOrdered job instead of `iters` full passes over the corpus, and
    * at 100 TB the sample bound keeps driver memory at
    * O(trainSample × dims) while training cost stays independent of
    * corpus size. Each Lloyd step assigns with [[nearestCells]], the
    * argmin every read and write replays; empty cells keep their
    * centroid. Rows with a null id or embedding are not sampled.
    */
  def trainCentroids(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      k: Int = 16,
      iters: Int = 3,
      seed: Int = 42,
      trainSample: Int = 4096): Array[Array[Double]] = {
    val e = emb
      .select(Cols.q(idCol).as("id"), Cols.q(embCol).cast("array<double>").as("emb"))
      .where(col("id").isNotNull && col("emb").isNotNull)
    val cap = math.max(k, trainSample)
    // probe cap+1 rows so "corpus is larger than the sample" is a fact, not
    // an inference from exact equality (which also fires when |corpus|==cap)
    val probed: Array[Array[Double]] = e
      .orderBy(pmod(hash(col("id"), lit(seed)), lit(1000003)), col("id"))
      .limit(cap + 1)
      .select("emb")
      .collect()
      .map(_.getSeq[Double](0).toArray)
    // the sampled-vs-full decision changes the centroids (and thus recall)
    // for any corpus above trainSample — log it so a recall drop at larger
    // SFs is attributable to this cut rather than silent
    if (probed.length > cap)
      org.slf4j.LoggerFactory
        .getLogger(getClass)
        .info(s"IVF centroids trained on a $cap-row sample " +
          s"(trainSample=$trainSample) — corpus is larger; recall depends on sample coverage")
    val sample    = probed.take(cap)
    var centroids = sample.take(k)

    for (_ <- 1 to iters) {
      val (twoC, c2) = distanceTerms(centroids)
      val sums = Array.fill(k)(new Array[Double](centroids(0).length))
      val cnts = new Array[Long](k)
      sample.foreach { v =>
        val c = nearestCells(v, twoC, c2, 1)(0)
        cnts(c) += 1
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { cell =>
        if (cnts(cell) > 0) sums(cell).map(_ / cnts(cell))
        else centroids(cell) // empty cell keeps its centroid
      }.toArray
    }
    centroids
  }

  /** Sentinel: size the index from the corpus (see [[autoCells]]). */
  val Auto: Int = -1

  /** Cell count for a corpus of `n` vectors: the FAISS √n rule. A FIXED
    * nCells is a scale bug — cell occupancy grows linearly with the
    * corpus, so probe-join candidate work (n · nProbe · n/nCells) grows
    * QUADRATICALLY; the sf1 full-suite bench measured 31× growth for 10×
    * data at nCells=16. √n sizing makes both occupancy and cell count grow
    * as √n, keeping candidate volume at n^1.5 · nProbe — the IVF trade.
    * Clamped to [16, 65536]; assignment is one flat-array scan per row
    * ([[assignProbesKernel]]), so large cell counts stay cheap.
    */
  def autoCells(n: Long): Int =
    math.min(65536, math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** Approximate cosine top-k: probe the `nProbe` nearest cells per vector,
    * rank candidates exactly (rounded score + id tie-break).
    *
    * `nCells = Auto` (the default) counts the corpus once, sizes the index
    * via [[autoCells]], and scales the training sample to 16 rows per
    * centroid (min 4096); pass explicit values for reproducible
    * small-scale runs (the declared q50 query does).
    */
  def approxTopK(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      k: Int = 5,
      nCells: Int = Auto,
      nProbe: Int = 4,
      iters: Int = 3,
      seed: Int = 42): DataFrame = {
    val (cells, sampleRows) =
      if (nCells != Auto) (nCells, 4096)
      else {
        val n = emb.count()
        val c = autoCells(n)
        org.slf4j.LoggerFactory
          .getLogger(getClass)
          .info(s"approxTopK: auto-sized IVF index to nCells=$c for n=$n")
        (c, math.max(4096, 16 * c))
      }
    val centroids = trainCentroids(emb, idCol, embCol, cells, iters, seed, sampleRows)

    // ONE pass computes per-vector probe cells (nProbe nearest, nearest
    // first — so element 0 is the home cell). The indexed table is
    // materialized (localCheckpoint) because both sides of the candidate
    // self-join derive from it — this IS the inverted index; the
    // persisted form is [[writeIndexGen]]'s cell-partitioned table.
    val indexed = assignProbesKernel(vecBase(emb, idCol, embCol), centroids, nProbe)
      .withColumn("cell", col("probe_cells").getItem(0))
      .localCheckpoint(true)

    val probes = indexed
      .select(
        col("vec_id").as("a_id"),
        col("emb").as("a_emb"),
        col("nrm").as("a_nrm"),
        explode(col("probe_cells")).as("cell"))

    val lists = indexed.select(
      col("cell"),
      col("vec_id").as("b_id"),
      col("emb").as("b_emb"),
      col("nrm").as("b_nrm"))

    rankCandidates(probes, lists, k)
  }

  /** The one projection every IVF path reads. */
  private def vecBase(emb: DataFrame, idCol: String, embCol: String): DataFrame =
    emb
      .select(Cols.q(idCol).as("vec_id"), Cols.q(embCol).cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))

  /** Shared scoring tail (also used by [[AnnBuckets.approxTopKIndexed]]):
    * exact cosine over the candidate join, ranked by (rounded score desc,
    * id asc), top k per query.
    */
  private[llm] def rankCandidates(
      probes: DataFrame,
      lists: DataFrame,
      k: Int,
      key: String = "cell"): DataFrame = {
    val w = Window.partitionBy("a_id").orderBy(col("cos_sim").desc, col("b_id").asc)
    probes
      .join(lists, Seq(key))
      .where(col("a_id") =!= col("b_id"))
      .select(
        col("a_id"),
        col("b_id"),
        round(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 6).as("cos_sim"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select("a_id", "b_id", "rn", "cos_sim")
  }

  /** The assignment projection the persisted-IVF writers share: each
    * vector with its nearest cell (nProbe = 1 head of the probe list —
    * the same argmin both query paths replay).
    */
  private def assignedRows(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    assignProbesKernel(vecBase(emb, idCol, embCol), centroids, nProbe = 1)
      .select(col("probe_cells").getItem(0).as("cell"), col("vec_id"), col("emb"), col("nrm"))

  private def writeCentroidSidecar(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]],
      outDir: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$outDir/centroids")
  }

  /** The persisted centroids, cell-ordered — the frozen quantizer every
    * read and append re-derives its assignment from. Read with the
    * sidecar's cached schema (the centroids are written before it) and
    * sorted on the driver: one job.
    */
  private def readCentroids(ix: IndexMeta): Array[Array[Double]] =
    ix.read("centroids")
      .select("cell", "centroid")
      .collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)

  /** Persist the inverted index: vectors written as a CELL-PARTITIONED
    * parquet table in the GENERATIONAL layout
    * (`<outDir>/cells/cell=<id>/src_batch=<b>/…`) plus a centroid sidecar
    * (`<outDir>/centroids`) and, last, the `meta` sidecar (its format).
    * This is the durable form of the index [[approxTopK]] materializes
    * per run — at cluster scale the cell
    * directory IS the inverted list: a probe join touches only the
    * probed cells' files (partition pruning), so query cost scales with
    * cells-probed, not corpus size, and the index is built once and
    * shared across query sessions. Auto sizing caps at 4096 cells (the
    * in-memory 65536 ceiling would be a file-count hazard as a directory
    * tree). The `src_batch` level is the q135 ingest contract applied to
    * the plain-IVF family: [[appendToIndex]] adds a batch against the FROZEN centroid sidecar
    * by writing only that batch's partitions (history never re-read or
    * re-assigned), [[cellOccupancy]] is the sizing monitor. Static
    * overwrite on the bootstrap for the same reason as
    * [[IvfPq.writeIndexGen]]: a re-bootstrap must replace every
    * generation.
    *
    * MAINTENANCE ROUTING: unlike LSH hyperplanes, IVF centroids are a
    * TRAINED quantizer — appended batches whose distribution moves away
    * from the bootstrap assign increasingly off-center (the q136 drift
    * mode), and this family deliberately ships NO retrain remedy: a
    * drift-monitored, retrain-capable deployment should use [[IvfPq]]
    * (the superset — same coarse layout plus residual codes,
    * `retrainDue`/`retrainAndRebuild`, geometry stamps with fail-fast
    * stale handles). Plain IVF's generational layout is for corpora
    * whose distribution is stable across batches.
    */
  def writeIndexGen(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      outDir: String,
      nCells: Int = Auto,
      iters: Int = 3,
      seed: Int = 42,
      srcBatch: Long = 0L): Unit = {
    val (cells, sampleRows) =
      if (nCells != Auto) (nCells, 4096)
      else {
        val n = emb.count()
        val c = math.min(4096, autoCells(n))
        (c, math.max(4096, 16 * c))
      }
    writeIndexGenWith(
      trainCentroids(emb, idCol, embCol, cells, iters, seed, sampleRows),
      emb, idCol, embCol, outDir, srcBatch)
  }

  /** [[writeIndexGen]] against PRE-TRAINED centroids (the
    * [[IvfPq.writeIndexGen]] shape) — lets a relational (seed-pinned)
    * quantizer be persisted as easily as a Lloyd-trained one.
    */
  def writeIndexGenWith(
      centroids: Array[Array[Double]],
      emb: DataFrame,
      idCol: String,
      embCol: String,
      outDir: String,
      srcBatch: Long = 0L): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    Generations.write(
      assignedRows(emb, idCol, embCol, centroids).repartition(col("cell")),
      s"$outDir/cells", srcBatch, Seq("cell", Generations.Col), append = false)
    writeCentroidSidecar(spark, centroids, outDir)
    IndexMeta.write(Seq(Tuple1(IvfFormat)).toDF("format"), outDir)
  }

  private val IvfFormat = "ivf/1"

  private def ivfIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String) =
    IndexMeta(spark, indexDir, IvfFormat, "IvfIndex.writeIndexGen")

  /** Incremental plain-IVF ingest: assign a NEW batch under the index's
    * FROZEN centroid sidecar and append it as generation `srcBatch` —
    * dynamic partition overwrite touches only this batch's
    * `(cell, src_batch)` directories, so replay is idempotent and
    * history is never re-read. Probe reads ([[approxTopKIndexed]]) prune
    * statically on the outer `cell` level across all generations
    * unchanged. See [[writeIndexGen]] for the maintenance routing:
    * drifting distributions belong on [[IvfPq]], which can retrain.
    */
  def appendToIndex(
      indexDir: String,
      emb: DataFrame,
      idCol: String,
      embCol: String,
      srcBatch: Long): Unit = {
    val ix = ivfIndex(emb.sparkSession, indexDir)
    Generations.require(ix.schema("cells"), s"$indexDir/cells", "IvfIndex.writeIndexGen")
    Generations.write(
      assignedRows(emb, idCol, embCol, readCentroids(ix)).repartition(col("cell")),
      s"$indexDir/cells", srcBatch, Seq("cell", Generations.Col), append = true)
  }

  /** Occupancy report for a persisted IVF index — the sizing monitor
    * (the [[AnnBuckets.bucketOccupancy]] analog): `autoCells` was √n of
    * the BOOTSTRAP corpus, and mean cell occupancy grows linearly with
    * appended generations, degrading probe-join candidate cost. One
    * aggregation over the index's cell keys. There is deliberately no
    * composed rebuild here — re-sizing an IVF index retrains its
    * quantizer, which is [[IvfPq.retrainAndRebuild]]'s job; see the
    * routing note on [[writeIndexGen]].
    */
  def cellOccupancy(
      indexDir: String,
      spark: org.apache.spark.sql.SparkSession): DataFrame =
    ivfIndex(spark, indexDir)
      .read("cells")
      .groupBy("cell")
      .agg(count(lit(1)).as("occ"))
      .agg(
        sum(col("occ")).as("rows"),
        count(lit(1)).as("cells"),
        round(avg(col("occ")), 2).as("mean_occ"),
        max(col("occ")).as("max_occ"))

  /** Query a [[writeIndexGen]] index: assign probe cells to the query
    * vectors with the persisted centroids, join against the partitioned
    * cell table, rank exactly. The join key is the PARTITION column, and
    * the union of probed cells is bounded by nCells (≤ [[autoCells]]'s
    * 65536 ceiling), so it is collected (one bounded aggregation over
    * the query side) and applied as a STATIC partition filter — the
    * index scan then reads only the probed cells' files regardless of
    * index size, without relying on DPP's selectivity heuristics. At
    * 100 TB that is nProbe/nCells of the index, spec-pinned via the
    * executed scan's partition count.
    */
  def approxTopKIndexed(
      indexDir: String,
      queries: DataFrame,
      idCol: String,
      embCol: String,
      k: Int = 5,
      nProbe: Int = 4): DataFrame = {
    val ix = ivfIndex(queries.sparkSession, indexDir)
    val probes = assignProbesKernel(vecBase(queries, idCol, embCol), readCentroids(ix), nProbe)
      .select(
        col("vec_id").as("a_id"),
        col("emb").as("a_emb"),
        col("nrm").as("a_nrm"),
        explode(col("probe_cells")).as("cell"))
    // structurally bounded: distinct probed cells ⊆ [0, nCells) and the
    // persisted layout caps cells at 4096 dirs — unlike the LSH tb space
    // (tables · 2^bits), so no size guard is needed here
    // (cf. AnnBuckets.MaxProbedBuckets)
    val probedCells: Seq[Int] =
      probes.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val lists = ix
      .read("cells")
      .where(col("cell").isin(probedCells: _*))
      .select(
        col("cell"),
        col("vec_id").as("b_id"),
        col("emb").as("b_emb"),
        col("nrm").as("b_nrm"))
    rankCandidates(probes, lists, k)
  }

  /** The two driver-side terms of the IVF distance: every centroid's
    * 2·c, flattened cell-major, and its ‖c‖² (index-order sum).
    */
  private def distanceTerms(
      centroids: Array[Array[Double]]): (Array[Double], Array[Double]) = {
    val dims = if (centroids.isEmpty) 0 else centroids(0).length
    val twoC = new Array[Double](centroids.length * dims)
    var c = 0
    while (c < centroids.length) {
      var j = 0
      while (j < dims) { twoC(c * dims + j) = centroids(c)(j) * 2.0; j += 1 }
      c += 1
    }
    (twoC, centroids.map(c => KMeans.sqNorm(c, 0, c.length)))
  }

  /** THE IVF argmin: the `take` nearest cells of `e`, nearest first. The
    * distance is the UNROUNDED ‖c‖² − Σ_j e_j·(2c_j), summed in index order
    * in doubles (‖e‖² is constant per row and omitted); ties break
    * (dist, cell) lexicographic — cells scan ascending and only a strictly
    * smaller distance moves ahead. `twoC`/`c2` come from [[distanceTerms]].
    */
  private[graft] def nearestCells(
      e: Array[Double],
      twoC: Array[Double],
      c2: Array[Double],
      take: Int): Array[Int] = {
    val nc   = c2.length
    val dims = if (nc == 0) 0 else twoC.length / nc
    val d    = math.min(e.length, dims)
    val t    = math.min(take, nc)
    val ds   = new Array[Double](t)
    val cs   = new Array[Int](t)
    var size = 0
    var c = 0
    while (c < nc) {
      var s = 0.0
      var j = 0
      while (j < d) { s += e(j) * twoC(c * dims + j); j += 1 }
      val dist = c2(c) - s
      if (size < t || (size > 0 && dist < ds(size - 1))) {
        var i = math.min(size, t - 1)
        while (i > 0 && dist < ds(i - 1)) {
          ds(i) = ds(i - 1); cs(i) = cs(i - 1); i -= 1
        }
        ds(i) = dist; cs(i) = c
        if (size < t) size += 1
      }
      c += 1
    }
    cs
  }

  /** Adds `probe_cells` (the nProbe nearest cells, nearest first, by
    * [[nearestCells]]) to a [[vecBase]] frame: the centroid terms are
    * broadcast once and each row scans them. Rows with a null id or
    * embedding are dropped.
    */
  private[graft] def assignProbesKernel(
      base: DataFrame,
      centroids: Array[Array[Double]],
      nProbe: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(distanceTerms(centroids))
    base
      .select(col("vec_id").cast("long"), col("emb"), col("nrm"))
      .where(col("vec_id").isNotNull && col("emb").isNotNull)
      .as[(Long, Array[Double], Double)]
      .mapPartitions { it =>
        val (twoC, c2) = bc.value
        it.map { case (id, e, nrm) => (id, e, nrm, nearestCells(e, twoC, c2, nProbe).toSeq) }
      }
      .toDF("vec_id", "emb", "nrm", "probe_cells")
  }
}
