package graft.llm

import graft.core.Cols
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SemDedup — semantic deduplication over an embedding column (Abbas et
  * al. 2023, "SemDedup: Data-efficient learning at web-scale through
  * semantic deduplication"): cluster the corpus, then drop near-identical
  * vectors WITHIN each cluster, so the quadratic cosine scan runs over
  * cluster-sized groups instead of the whole corpus.
  *
  * Clustering here is deterministic SEED-POINT assignment rather than
  * Lloyd iterations: the k seeds are the vectors with the smallest
  * salted-md5 of their id (the [[Sampling]] determinism pattern — a pure
  * function of (salt, id), reproducible across engines and cluster
  * sizes), and every vector joins the seed it is most cosine-similar to.
  * That keeps the whole operator relationally replayable — a SQL oracle
  * can re-pick the seeds, re-assign the cells, and re-derive the drop
  * list, which no sampled-Lloyd clustering allows ([[IvfIndex]]'s
  * centroids are training-order artifacts). For production clustering
  * quality, swap the seed table for [[IvfIndex.trainCentroids]] output —
  * the within-cell scan below is agnostic to where cells came from.
  *
  * Scale shape: seed pick is one TakeOrdered job collecting O(k) rows;
  * assignment is one kernel pass (k rounded cosines per row against the
  * broadcast seed matrix, no join); the within-cell scan is ONE shuffle
  * on the cell key with a secondary sort on id, streamed against each
  * cell's reference prefix (the first `maxPrevRefs` vectors by id), so
  * both the pair work (O(n · maxPrevRefs · d) total) and the per-task
  * memory (O(maxPrevRefs · d)) are bounded no matter how skewed the
  * cells — see [[keepFlags]] for the capped contract.
  *
  * Decision contract (deterministic, engine-portable): a vector is
  * DROPPED iff some SAME-CELL vector with a smaller id has rounded
  * cosine ≥ tau — the "keep first" greedy at 6-dp rounding, with NaN
  * ranking greatest (both engines' NaN order), so zero-norm vectors
  * cannot diverge.
  */
object SemDedup {

  /** One picked seed: its id, vector, and L2 norm (index-order sum, the
    * same reduction order as [[graft.functions.DotProduct]] and DuckDB's
    * `list_dot_product`, so the driver-computed norm is bit-identical to
    * either engine's).
    */
  final case class Seed(id: Long, vec: Array[Double], nrm: Double)

  /** Rows a task refuses to BUFFER past (2^17 × d doubles of reference
    * vectors in one task's memory). Only reachable when `maxPrevRefs`
    * exceeds it — the capped default never buffers more than
    * [[DefaultMaxPrevRefs]] rows per cell.
    */
  val DefaultMaxCellRows: Int = 1 << 17

  /** Per-cell reference-prefix cap (the q34/q69 df-cap move applied to
    * SemDedup): each vector is compared against at most this many
    * SAME-CELL predecessors — the cell's first `maxPrevRefs` vectors by
    * id act as its dedup representatives. Bounds the within-cell scan at
    * O(n · maxPrevRefs · d) total (linear in the corpus) where the
    * uncapped scan is O(n²/k · d) — n^1.5 at the k = √n operating point
    * and the measured 343 s sf10 cliff at a fixed k. Binds only when a
    * cell outgrows the cap; below it the capped and exact contracts are
    * bit-identical. 4096 leaves the √n default exact past 16 M vectors
    * and still bounds every pathological cell.
    */
  val DefaultMaxPrevRefs: Int = 4096

  /** Uncapped sentinel for `maxPrevRefs`: exact within-cell semantics,
    * memory-guarded by `maxCellRows` (the tiny-sf spec mode).
    */
  val NoCap: Int = Int.MaxValue

  /** Sentinel: size k from the corpus (√n) inside [[keepFlags]]. */
  val Auto: Int = -1

  /** Seed count for a corpus of `n` vectors: the √n rule, the SemDedup
    * operating point. A FIXED k is a scale bug for the same reason as
    * IVF's fixed nCells — cell occupancy grows linearly with the corpus,
    * so within-cell pair work (n · n/k) grows quadratically (the declared
    * q80 keeps k=8 for oracle reproducibility and measured 7.9× growth
    * for 10× data at sf1; the auto path restores the n^1.5 curve).
    * Clamp matches [[IvfIndex.autoCells]].
    */
  def autoK(n: Long): Int =
    math.min(65536, math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))

  private def saltedMd5(id: Column, salt: String): Column =
    md5(concat(lit(salt + "|"), id.cast("string")).cast("binary"))

  /** The k seed vectors: smallest salted-md5 of id, id ascending on ties
    * — one TakeOrdered job, O(k) driver memory.
    */
  def pickSeeds(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      salt: String = "semdedup"): Array[Seed] = {
    require(k >= 1, s"need at least one seed, got $k")
    val rows = emb
      .select(
        Cols.q(idCol).cast("long").as("id"),
        Cols.q(vecCol).cast("array<double>").as("emb"),
        saltedMd5(Cols.q(idCol), salt).as("h"))
      .orderBy(col("h").asc, col("id").asc)
      .limit(k)
      .select("id", "emb")
      .collect()
    rows.map { r =>
      val vec = r.getSeq[Double](1).toArray
      var s = 0.0
      var i = 0
      while (i < vec.length) { s += vec(i) * vec(i); i += 1 }
      Seed(r.getLong(0), vec, math.sqrt(s))
    }
  }

  /** Cell assignment as a pure projection: the seed with the greatest
    * ROUNDED cosine (ties → smaller seed id). Returns (vec_id, cell, emb);
    * rows with a null id or embedding are dropped.
    *
    * Seeds travel as one broadcast flat primitive array and each row scans
    * it once: index-order dot, `round6` (Catalyst `Round` semantics, so
    * the DuckDB oracle replays it), strict-> displacement over seeds in
    * ascending id order so ties keep the smaller seed id. NaN: Spark SQL's
    * `>` ranks NaN above every double (its total order), where Java's `>`
    * is always false on NaN — so displacement uses `Double.compare`, whose
    * total order matches Spark's (and DuckDB's NaN-greatest sort). No seed
    * value reaches generated code, so a new seed set compiles nothing new.
    */
  def assignCells(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      seeds: Array[Seed]): DataFrame = {
    require(seeds.nonEmpty, "no seeds")
    val spark = emb.sparkSession
    import spark.implicits._
    val sorted = seeds.sortBy(_.id)
    val k    = sorted.length
    val dims = sorted(0).vec.length
    val flat = new Array[Double](k * dims)
    val nrms = new Array[Double](k)
    val ids  = new Array[Long](k)
    var i = 0
    while (i < k) {
      System.arraycopy(sorted(i).vec, 0, flat, i * dims, dims)
      nrms(i) = sorted(i).nrm
      ids(i) = sorted(i).id
      i += 1
    }
    val bc = spark.sparkContext.broadcast((ids, flat, nrms))
    val src = emb
      .select(
        Cols.q(idCol).cast("long").as("vec_id"),
        Cols.q(vecCol).cast("array<double>").as("__emb"))
      .where(col("vec_id").isNotNull && col("__emb").isNotNull)
      .withColumn("__nrm", sqrt(graft.functions.GraftFunctions.dot(col("__emb"), col("__emb"))))
      .as[(Long, Array[Double], Double)]
    // the n·k·d kernel inherits the SCAN's partitioning (a handful of
    // parquet files at bench scale → a handful of tasks on a 32-core
    // box: measured 12 s of the 13 s sf10 keepFlags). One round-robin
    // repartition spreads the dominant compute across the cluster —
    // per-row results are partitioning-independent, so this is purely
    // physical (spec-pinned by the partitioning-invariance case)
    val target = spark.sparkContext.defaultParallelism
    val spread = if (src.rdd.getNumPartitions < target) src.repartition(target) else src
    spread
      .mapPartitions { it =>
        val (ids, flat, nrms) = bc.value
        val k = ids.length
        val d = if (k == 0) 0 else flat.length / k
        it.map { case (vid, e, nrm) =>
          var bestId = ids(0)
          var bestCs = Double.NaN
          var s0 = 0.0
          var j = 0
          val dd = math.min(d, e.length)
          while (j < dd) { s0 += e(j) * flat(j); j += 1 }
          bestCs = BruteForce.round6(s0 / (nrm * nrms(0)))
          var c = 1
          while (c < k) {
            var s = 0.0
            var jj = 0
            while (jj < dd) { s += e(jj) * flat(c * d + jj); jj += 1 }
            val cs = BruteForce.round6(s / (nrm * nrms(c)))
            if (java.lang.Double.compare(cs, bestCs) > 0) { bestCs = cs; bestId = ids(c) }
            c += 1
          }
          (vid, bestId, e)
        }
      }
      .toDF("vec_id", "cell", "emb")
  }

  /** Full SemDedup pass: (vec_id, cell, max_sim_prev, keep), where
    * `max_sim_prev` is the greatest rounded cosine to any vector of the
    * cell's REFERENCE PREFIX — its first `maxPrevRefs` vectors by id —
    * with a smaller id (null when no such reference exists), and
    * `keep = !(max_sim_prev ≥ tau)` with NaN passing the threshold.
    * Below the cap this is exactly the classic keep-first greedy (every
    * predecessor is a reference); above it the prefix acts as the cell's
    * dedup representatives — the bounded contract, like [[Dedup]]'s
    * `maxShingleDf` and [[DupClusters]]' pair cap, and `maxPrevRefs` is
    * the corpus-scale knob. The capped scan is O(n · maxPrevRefs · d)
    * total — LINEAR in the corpus — where the uncapped exact scan is
    * n^1.5 at the k = √n operating point (and n²/k at a fixed k: the
    * 343 s sf10 cliff). `maxPrevRefs = NoCap` restores exact semantics
    * (memory-guarded by `maxCellRows`); [[keepFlagsApprox]] remains the
    * LSH-neighbourhood alternative when even √n seeds are too many.
    *
    * `k = Auto` sizes the seed count √n from a count job — the
    * production default; a literal k is the oracle-reproducibility mode.
    *
    * Physical shape: ONE shuffle on the cell key with a secondary sort
    * on id (`repartition` + `sortWithinPartitions`), then a streaming
    * mapPartitions scan that buffers only the prefix — per-task memory
    * is O(maxPrevRefs · d) no matter how large a cell grows, where the
    * old flatMapGroups kernel materialized whole cells.
    *
    * Ids must be unique for the prefix to be engine-portable (DuckDB's
    * `row_number` over ties is arbitrary); duplicate-id pairs are
    * skipped in the scan and never score against each other, matching
    * the previous kernel.
    */
  def keepFlags(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      k: Int = Auto,
      salt: String = "semdedup",
      maxCellRows: Int = DefaultMaxCellRows,
      maxPrevRefs: Int = DefaultMaxPrevRefs): DataFrame = {
    require(maxPrevRefs >= 1, s"maxPrevRefs must be >= 1, got $maxPrevRefs")
    val spark = emb.sparkSession
    import spark.implicits._
    val kk    = if (k == Auto) autoK(emb.count()) else k
    val seeds = pickSeeds(emb, idCol, vecCol, kk, salt)
    // the semantic truncation is OBSERVABLE, not silent (ADVICE r12): when
    // a cell outgrows its reference prefix the kernel bumps this named
    // accumulator (visible in the Spark UI per job) and warns once per
    // cell per task — "capped cells > 0" tells an operator that late
    // duplicates of out-of-prefix vectors can survive, and that raising
    // k (smaller cells) or maxPrevRefs tightens the contract
    val cappedCells = spark.sparkContext.longAccumulator("graft.semdedup.cappedCells")
    assignCells(emb, idCol, vecCol, seeds)
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("vec_id"))
      .as[(Long, Long, Array[Double])]
      .mapPartitions { rows =>
        // secondary-sort streaming scan: rows arrive grouped by cell,
        // id-ascending within each; single-threaded per partition, so
        // the captured buffer state is safe and O(maxPrevRefs · d)
        var curCell  = 0L
        var started  = false
        var capHit   = false
        val refIds   = new scala.collection.mutable.ArrayBuffer[Long]
        val refVecs  = new scala.collection.mutable.ArrayBuffer[Array[Double]]
        val refNrms  = new scala.collection.mutable.ArrayBuffer[Double]
        rows.map { case (vid, cell, e) =>
          if (!started || cell != curCell) {
            refIds.clear(); refVecs.clear(); refNrms.clear()
            curCell = cell; started = true; capHit = false
          }
          var s = 0.0
          var j = 0
          while (j < e.length) { s += e(j) * e(j); j += 1 }
          val nrm = math.sqrt(s)
          var mx  = 0.0
          var has = false
          var a   = 0
          while (a < refIds.length) {
            if (refIds(a) != vid) {
              val rv = refVecs(a)
              var d  = 0.0
              var i  = 0
              val dd = math.min(rv.length, e.length)
              while (i < dd) { d += rv(i) * e(i); i += 1 }
              val cs = BruteForce.round6(d / (refNrms(a) * nrm))
              if (!has || java.lang.Double.compare(cs, mx) > 0) mx = cs
              has = true
            }
            a += 1
          }
          if (refIds.length < maxPrevRefs) {
            if (refIds.length >= maxCellRows)
              throw new IllegalArgumentException(
                s"cell $curCell buffers more than $maxCellRows reference vectors (uncapped " +
                  "scan over an oversized cell) — raise k (more, smaller cells; k ~ " +
                  "sqrt(corpus) is the SemDedup operating point) or set maxPrevRefs to " +
                  "bound the reference prefix")
            refIds += vid; refVecs += e; refNrms += nrm
          } else if (!capHit) {
            capHit = true
            cappedCells.add(1L)
            org.slf4j.LoggerFactory
              .getLogger("graft.llm.SemDedup")
              .warn(
                s"SemDedup cell $curCell exceeded maxPrevRefs=$maxPrevRefs: rows past the " +
                  "reference prefix are scored but not referenced (late duplicates of " +
                  "out-of-prefix vectors survive) — raise k or maxPrevRefs to tighten")
          }
          val mxOpt = if (has) Some(mx) else None
          (vid, cell, mxOpt, !(has && BruteForce.nanGte(mx, tau)))
        }
      }
      .toDF("vec_id", "cell", "max_sim_prev", "keep")
  }

  /** Corpus-scale SemDedup: the same keep rule — drop a vector when an
    * EARLIER (smaller-id) near-duplicate exists with rounded cosine ≥
    * tau — with the neighbourhood structure swapped from seeded-cosine
    * cells to multi-table LSH buckets ([[AnnBuckets.candidatePairs]]),
    * the q118 → q120 / q129 → q130 upgrade applied to semantic dedup.
    *
    * ROUTING (measured, rounds 12–13 — BENCH_SF1.md "SemDedup
    * crossover"): since [[keepFlags]] gained the `maxPrevRefs` prefix
    * cap, the capped EXACT path is the faster one at fixture scales —
    * 4.8–5.3 s vs this path's 9.8–14.9 s on the same 200 k-vector sf10
    * embeddings — because
    * the capped scan is one shuffle + a linear streamed kernel while this
    * path pays nTables explode-shuffles plus a pair-level group-by. Use
    * the capped exact path below the cell-saturation point (√n cells
    * reach the 4096-row prefix around n ≈ 16 M vectors; below it the cap
    * rarely binds and exact semantics are kept outright), and route HERE
    * when (a) cells saturate badly enough that the prefix truncation is
    * unacceptable (watch the `graft.semdedup.cappedCells` accumulator),
    * or (b) √n seeds are themselves too many to broadcast (k · d
    * doubles — ~16 MB at n = 10⁹, the practical ceiling of the
    * seeded-cell design).
    *
    * Candidate volume scales with bucket occupancy (held constant by
    * `autoBits`), so total work stays ~linear in the corpus.
    * Approximate in the same sense the exact path already is
    * (cells ≈ buckets: both can miss a cross-boundary neighbour); raise
    * `nTables` for recall. Output is (vec_id, max_sim_prev, keep) —
    * no `cell` column, since a vector belongs to nTables buckets.
    *
    * Defaults are the measured-best probed-auto operating point since
    * round 14 (`nTables = Auto`, `nProbes = 2`) — see the compatibility
    * note on [[AnnBuckets.approxTopK]]; pass `nTables = 4, nProbes = 0`
    * to reproduce pre-r14 outputs.
    */
  def keepFlagsApprox(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      nBits: Int = AnnBuckets.Auto,
      dims: Int = 64,
      nTables: Int = AnnBuckets.Auto,
      seed: Long = 42L,
      nProbes: Int = 2): DataFrame = {
    import graft.functions.GraftFunctions.dot
    val e = emb
      .select(
        Cols.q(idCol).cast("long").as("vec_id"),
        Cols.q(vecCol).cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
    val n      = if (nBits == AnnBuckets.Auto || nTables == AnnBuckets.Auto) e.count() else 0L
    val bits   = if (nBits != AnnBuckets.Auto) nBits else AnnBuckets.autoBits(n)
    val tables = AnnBuckets.resolveTables(n, nTables, nProbes)
    val mx = AnnBuckets.candidatesFor(e, bits, dims, tables, nProbes, seed)
      .where(col("a_id") < col("b_id"))
      .groupBy(col("b_id").as("vec_id"))
      .agg(max(col("cos_sim")).as("max_sim_prev"))
    e.select("vec_id")
      .join(mx, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        col("max_sim_prev"),
        // null-safe threshold with NaN passing it (Spark orders NaN
        // greatest), matching the exact path's nanGte rule
        (col("max_sim_prev").isNull || !(col("max_sim_prev") >= tau)).as("keep"))
  }
}
