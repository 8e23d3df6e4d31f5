package graft.llm

import graft.core.{Cols, Generations, IndexMeta}
import graft.functions.GraftFunctions.dot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest neighbours via random-hyperplane LSH (SURVEY.md §2B
  * north star, the 100 TB path next to the exact brute-force oracle in
  * [[SimilarityQueries]]).
  *
  * `nBits` seeded Gaussian hyperplanes give each vector a sign-bit bucket
  * id; candidate pairs only form INSIDE a bucket, so the O(n²) cross join
  * becomes Σ_b |bucket_b|² — with 8 bits and roughly uniform buckets,
  * ~1/256 of the pairs. At cluster scale the bucket id is the shuffle key:
  * each bucket's candidates co-locate on one executor, no global
  * cross-product ever materializes. Recall is tunable by `nBits` (fewer
  * bits → bigger buckets → higher recall) and by multi-table union
  * (`nTables`); AnnSpec measures recall against the exact oracle.
  */
object AnnBuckets {

  /** Sentinel: size the index from the corpus (see [[autoBits]]). */
  val Auto: Int = -1

  /** Hyperplane count for a target mean bucket occupancy. A FIXED nBits is
    * a scale bug: bucket occupancy grows linearly with the corpus, so
    * same-bucket candidate work (Σ_b occ_b²) grows QUADRATICALLY — the sf1
    * full-suite bench measured 14× growth for 10× data at nBits=4. Sizing
    * bits as log₂(n / target) holds occupancy (and thus per-bucket work)
    * constant: candidate volume then scales linearly with n, which is the
    * posture a 100 TB corpus needs. Clamped to [4, 24].
    */
  def autoBits(n: Long, targetBucketRows: Int = 128): Int = {
    val buckets = math.max(1.0, n.toDouble / math.max(1, targetBucketRows))
    math.min(24, math.max(4, math.ceil(math.log(buckets) / math.log(2)).toInt))
  }

  /** Table count that holds RECALL constant as [[autoBits]] holds
    * occupancy constant — the knob pair the clustered fixture measured
    * moving in opposite directions (BENCH_SF1.md: autoBits kept bucket
    * work flat while fixed-table recall@5 decayed 0.70 → 0.57 over
    * 20 k → 200 k, and nTables bought miner overlap 0.48 → 0.78 over
    * 4 → 16). Derived from the random-hyperplane collision model, not a
    * fitted curve: a neighbour at cosine `targetSim` survives one
    * table's bucketing with probability p^bits where
    * p = 1 − acos(targetSim)/π, so hitting it in ≥ 1 of T independent
    * tables with probability `targetRecall` needs
    * T = ln(1 − targetRecall) / ln(1 − p^bits). With bits = log₂(n/occ)
    * this grows like (n/occ)^(−log₂ p) — gently polynomial (exponent
    * ≈ 0.28 at sim 0.85), n·T candidate volume stays near-linear, and
    * the [2, 32] clamp bounds the index fan-out outright: past the
    * clamp, recall at `targetSim` decays and the honest answer is IVF
    * (which held 0.99 at every measured scale) rather than more tables.
    * At the fixture scales: n = 20 k → 8 bits → 7 tables,
    * n = 200 k → 11 bits → 13 tables.
    */
  def autoTables(
      n: Long,
      targetSim: Double = 0.85,
      targetRecall: Double = 0.8,
      targetBucketRows: Int = 128): Int = {
    require(targetSim > 0 && targetSim < 1, s"targetSim in (0,1), got $targetSim")
    require(targetRecall > 0 && targetRecall < 1, s"targetRecall in (0,1), got $targetRecall")
    val bits     = autoBits(n, targetBucketRows)
    val p        = 1.0 - math.acos(targetSim) / math.Pi
    val perTable = math.pow(p, bits)
    val t        = math.ceil(math.log1p(-targetRecall) / math.log1p(-perTable)).toInt
    math.min(32, math.max(2, t))
  }

  /** [[autoTables]] under a probe budget: each probe recovers misses an
    * extra table would otherwise catch, so the table count divides by
    * (1 + nProbes) — the CONSERVATIVE reading of the measured operating
    * curve (BENCH_SF1.md: 4 t × 2 p ≈ the 13-table autoTables recall at
    * n = 200 k, a ~3.25× multiplier; 3 t × 2 p ≥ the 7-table recall at
    * n = 20 k). Empirical, fixture-calibrated — not derived: analytical
    * probe recovery depends on the margin-rank distribution of the
    * disagreeing plane, which the collision model does not carry;
    * ClusteredRecallSpec gates the sized result's recall in-suite.
    * `approxTopK` and the miner/SemDedup consumers apply this
    * automatically when `nTables = Auto` and `nProbes > 0`.
    */
  def autoTablesProbed(
      n: Long,
      nProbes: Int,
      targetSim: Double = 0.85,
      targetRecall: Double = 0.8,
      targetBucketRows: Int = 128): Int = {
    require(nProbes >= 0, s"nProbes must be >= 0, got $nProbes")
    val plain = autoTables(n, targetSim, targetRecall, targetBucketRows)
    math.min(32, math.max(2, math.ceil(plain.toDouble / (1 + nProbes)).toInt))
  }

  /** Resolve the table count under the probe budget — the shared sizing
    * rule of [[approxTopK]] and the miner/SemDedup consumers: explicit
    * wins, else [[autoTablesProbed]] when probing, else [[autoTables]].
    */
  private[graft] def resolveTables(n: => Long, nTables: Int, nProbes: Int): Int =
    if (nTables != Auto) nTables
    else if (nProbes > 0) autoTablesProbed(n, nProbes)
    else autoTables(n)

  /** Dispatch to the plain or multi-probe candidate kernel — the shared
    * candidate stage of [[approxTopK]] and the miner/SemDedup consumers,
    * kept in ONE place so a new knob cannot be wired into some consumers
    * and not others.
    */
  private[graft] def candidatesFor(
      e: DataFrame,
      bits: Int,
      dims: Int,
      tables: Int,
      nProbes: Int,
      seed: Long,
      minSim: Option[Double] = None): DataFrame =
    if (nProbes > 0) candidatePairsMultiProbe(e, bits, dims, tables, nProbes, seed, minSim)
    else candidatePairs(e, bits, dims, tables, seed, minSim)

  /** Deterministic seeded hyperplanes (driver-side constants → broadcast as
    * literals; no RNG at executor time). Exposed within the package so the
    * bucket-assignment oracle can embed the same constants in its SQL.
    */
  private[graft] def planes(nBits: Int, dims: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nBits)(Array.fill(dims)(rnd.nextGaussian()))
  }

  /** Sign-bit bucket id as a pure Column — a stateless projection, so it
    * composes onto batch AND streaming frames alike.
    */
  private[graft] def bucketCol(embCol: Column, nBits: Int, dims: Int, seed: Long): Column =
    planes(nBits, dims, seed).zipWithIndex
      .map { case (p, b) =>
        when(dot(embCol, typedLit(p.toSeq)) > 0, lit(1 << b)).otherwise(lit(0))
      }
      .reduce(_ + _)

  /** Adds `bucket` (int) to an embedding frame: sign bits of the plane dot
    * products.
    */
  def withBucket(emb: DataFrame, embCol: String, nBits: Int = 8, dims: Int = 64, seed: Long = 42L): DataFrame =
    emb.withColumn("bucket", bucketCol(Cols.q(embCol), nBits, dims, seed))

  /** Approximate cosine top-k: candidates restricted to same-bucket pairs,
    * unioned over `nTables` independent hash tables, then ranked exactly on
    * the surviving candidate set.
    *
    * `nBits = Auto` (the default) counts the corpus once and sizes the
    * index via [[autoBits]]; `nTables = Auto` sizes the table count via
    * [[autoTables]] off the same count, holding recall where a fixed
    * table count decays with corpus growth. Pass explicit values for
    * reproducible small-scale runs (the declared q41/q67 queries do).
    *
    * COMPATIBILITY NOTE (round 14): the DEFAULTS of the four production
    * ANN consumers ([[approxTopK]], [[SemDedup.keepFlagsApprox]],
    * [[EmbeddingStats.hardNegativesApprox]],
    * [[EmbeddingStats.trainingTripletsApprox]]) changed from fixed
    * tables, no probes (2/4 tables, nProbes = 0) to the MEASURED-BEST
    * operating point: `nTables = Auto` with `nProbes = 2` (probed-auto
    * sizing, [[autoTablesProbed]]). The old fixed-table default was the
    * exact recall-decays-with-n configuration autoTables was built to
    * fix (clustered recall@5 0.57 at n = 200 k vs 0.93 auto; probed t×2
    * matched plain-auto recall at ~⅓ the tables and ~half the wall —
    * BENCH_SF1.md). Out-of-box RESULTS therefore changed; pass
    * `nTables = 2, nProbes = 0` explicitly to reproduce pre-r14 outputs
    * (the declared queries pin their literals and are unaffected).
    * Default-argument recall floors are gated in ClusteredRecallSpec.
    */
  def approxTopK(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      k: Int = 5,
      nBits: Int = Auto,
      dims: Int = 64,
      nTables: Int = Auto,
      seed: Long = 42L,
      nProbes: Int = 2): DataFrame = {
    val e = emb
      .select(Cols.q(idCol).as("vec_id"), Cols.q(embCol).cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
    val n = if (nBits == Auto || nTables == Auto) e.count() else 0L
    val bits =
      if (nBits != Auto) nBits
      else {
        val b = autoBits(n)
        org.slf4j.LoggerFactory
          .getLogger(getClass)
          .info(s"approxTopK: auto-sized LSH index to nBits=$b")
        b
      }
    val tables     = resolveTables(n, nTables, nProbes)
    val candidates = candidatesFor(e, bits, dims, tables, nProbes, seed)

    val w = Window.partitionBy("a_id").orderBy(col("cos_sim").desc, col("b_id").asc)
    candidates
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("a_id"), col("b_id"), col("rn"), col("cos_sim"))
  }

  /** Directed same-bucket candidate pairs (a_id, b_id, cos_sim) unioned
    * over `nTables` independent tables — the bucketed-ANN candidate stage
    * shared by [[approxTopK]] and the approximate hard-negative miner
    * ([[graft.llm.EmbeddingStats.hardNegativesApprox]]).
    *
    * Cosine is computed INSIDE each table's bucket join so only
    * (a_id, b_id, cos_sim) crosses the dedup shuffle — never the
    * embedding arrays (at 64 dims that's a ~30× smaller shuffle). The
    * join emits BOTH directions of each pair (a×b with a ≠ b), so
    * consumers get anchor→neighbour rows without a symmetrize explode.
    *
    * One self-join per table, unioned — deliberately NOT one fused
    * self-join over a posexplode under `tb = tbl · 2^bits + bucket`: at
    * sf10 (n = 200 k, auto bits = 11, tables = 13; BENCH_SF1.md
    * "Round-13: LSH candidate-mining fusion") the per-table union took
    * 94–125 s vs the fused join's 164–174 s for the identical 371 M-pair
    * output, and the fusion regressed production
    * `SemDedup.keepFlagsApprox` 9.8–14.9 s → 45–53 s. Fewer jobs lost to
    * one oversized sort: the fused form sorts nTables·n
    * embedding-carrying rows per join side in a single exchange, while
    * the per-table joins each sort n rows — and at scale the sort, not
    * the job count, is the bottleneck.
    *
    * @param e (vec_id, emb: array&lt;double&gt;, nrm) — the normalized base
    *          projection
    */
  private[graft] def candidatePairs(
      e: DataFrame,
      bits: Int,
      dims: Int,
      nTables: Int,
      seed: Long,
      minSim: Option[Double] = None,
      allowDuplicatePairs: Boolean = false): DataFrame = {
    val unioned = (0 until nTables)
      .map { t =>
        val bucketed = withBucket(e, "emb", bits, dims, seed + t)
        val a = bucketed.select(
          col("bucket"), col("vec_id").as("a_id"), col("emb").as("a_emb"), col("nrm").as("a_nrm"))
        val b = bucketed.select(
          col("bucket"), col("vec_id").as("b_id"), col("emb").as("b_emb"), col("nrm").as("b_nrm"))
        withMinSim(
          a.join(b, Seq("bucket")).where(col("a_id") =!= col("b_id"))
            .select(
              col("a_id"),
              col("b_id"),
              round(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 6)
                .as("cos_sim")),
          minSim)
      }
      .reduce(_ unionByName _)
    // `allowDuplicatePairs = true` skips the cross-table duplicate-pair
    // shuffle — the LARGEST exchange of the query for dense pair sets
    // (r16, guide §2.4): legal exactly when the consumer is
    // duplicate-INSENSITIVE (min/max-style aggregation over the pair
    // multiset — a pair's cos_sim is functionally determined by
    // (a_id, b_id), so every duplicate carries the identical value).
    // Ranking consumers (row_number/top-k) MUST keep the default or
    // cross-table repeats inflate their rank positions. (Named for the
    // hazard it opts into — ADVICE r16 — so a call site reading
    // `allowDuplicatePairs = true` flags itself for exactly this check.)
    if (allowDuplicatePairs) unioned else unioned.dropDuplicates("a_id", "b_id")
  }

  /** Threshold PUSHDOWN into the candidate stage: a consumer that will
    * drop pairs under `tau` anyway (the miners, q138's media near-dup —
    * NOT SemDedup, which REPORTS sub-tau maxima) can filter per table
    * BEFORE the cross-table dedup shuffle, so below-threshold pairs
    * never ride it. Commutes with the dedup exactly because `cos_sim`
    * is functionally determined by (a_id, b_id); a None keeps the
    * unfiltered contract bit-for-bit (including null-cosine degradation
    * rows, which a `>= -Inf` predicate would silently drop).
    */
  private def withMinSim(pairs: DataFrame, minSim: Option[Double]): DataFrame =
    minSim.fold(pairs)(t => pairs.where(col("cos_sim") >= t))

  /** Per-vector MULTI-PROBE set (Lv et al. 2007, VLDB: "Multi-probe LSH"):
    * the vector's own sign-bit bucket plus the `nProbes` buckets reached
    * by flipping the hyperplanes with the SMALLEST |margin| — the planes
    * the vector sits closest to, i.e. the flips most likely to hold its
    * true neighbours. Probing buys recall the way extra tables do, but a
    * probe costs one extra join ROW where a table costs a whole extra
    * index copy (memory, build, its own join) — so T tables × P probes
    * reaches the recall of ~T·(P+1) plain tables at T tables' footprint.
    *
    * A mapPartitions kernel, not a Column: the probe set needs all nBits
    * dot products THREE times over (bucket, margins, flips) and at auto
    * scale (24 bits × 64 dims) the duplicated expression tree risks the
    * 64 KB codegen limit's silent-interpretation fallback; the kernel
    * computes the dots once. Bit-parity with [[bucketCol]] is spec-pinned
    * (same left-to-right dot, same `> 0` sign rule); flip order ties
    * break on plane index (equivalently its power-of-two, both
    * monotonic), matching the declared oracle's `ORDER BY abs(d), p`.
    *
    * @param e (vec_id, emb: array&lt;double&gt;, nrm) — the normalized base
    *          projection
    */
  private[graft] def probesFrame(
      e: DataFrame,
      bits: Int,
      dims: Int,
      seed: Long,
      nProbes: Int): DataFrame = {
    require(nProbes >= 0 && nProbes <= bits, s"nProbes=$nProbes must be in [0, bits=$bits]")
    val bc     = e.sparkSession.sparkContext.broadcast(planes(bits, dims, seed))
    // Row-encoded so vec_id keeps its ORIGINAL type — the plain
    // candidatePairs path never casts the id (string/UUID ids are
    // legal there), and the multi-probe path must not silently narrow
    // the contract or emit an a_id/b_id type mismatch across the join.
    // A null embedding must not kill the kernel (the IvfPq.probeTables
    // convention — ADVICE r13): the plain path degrades a null row to a
    // never-scoring candidate (its cosine is null, which every consumer
    // threshold/rank drops), so the probed path drops it up front rather
    // than NPE-ing one malformed row into a job failure
    val base   = e
      .select(col("vec_id"), col("emb").cast("array<double>").as("emb"), col("nrm"))
      .where(col("vec_id").isNotNull && col("emb").isNotNull)
    val embIdx = 1
    val outSchema = base.schema.add("probes",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, false))
    base.mapPartitions { rows =>
      val ps = bc.value
      val nb = ps.length
      rows.map { r =>
        val v      = r.getSeq[Double](embIdx).toArray
        val dots   = new Array[Double](nb)
        var bucket = 0
        var b      = 0
        while (b < nb) {
          val p = ps(b)
          var s = 0.0
          var i = 0
          while (i < p.length) { s += v(i) * p(i); i += 1 }
          dots(b) = s
          if (s > 0) bucket |= (1 << b)
          b += 1
        }
        val order  = Array.range(0, nb).sortBy(i => (math.abs(dots(i)), i))
        val probes = new Array[Int](nProbes + 1)
        probes(0) = bucket
        var k = 0
        while (k < nProbes) { probes(k + 1) = bucket ^ (1 << order(k)); k += 1 }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ probes.toSeq)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** [[candidatePairs]] with multi-probing: per table, the probe side
    * explodes each vector's `nProbes + 1` probe buckets and joins against
    * the plain single-bucket side, then the pair set is SYMMETRIZED (an
    * either-direction probe hit yields both anchor→neighbour directions,
    * preserving [[candidatePairs]]'s both-directions contract — a
    * flip-distance-1 pair is otherwise found only from the side whose
    * small-margin flip crosses it). `nProbes = 0` degenerates to exactly
    * [[candidatePairs]] (spec-pinned). Shuffle shape: the probe side
    * carries (nProbes+1)·n embedding rows per table where an extra table
    * carries 2n — multi-probe reaches a recall target with fewer index
    * copies and comparable join volume (measured on the clustered
    * fixture; see BENCH_SF1.md).
    */
  /** The DIRECTED half of [[candidatePairsMultiProbe]]: probe-side a ×
    * plain-bucket-side b, unioned over tables, BEFORE symmetrization —
    * exactly the candidate set a probed QUERY-vs-CORPUS read produces
    * (the persisted-index serve path, [[approxTopKIndexed]] at
    * nProbes &gt; 0, pins parity against this stage).
    */
  private[graft] def candidatePairsMultiProbeDirected(
      e: DataFrame,
      bits: Int,
      dims: Int,
      nTables: Int,
      nProbes: Int,
      seed: Long,
      minSim: Option[Double] = None): DataFrame =
    (0 until nTables)
      .map { t =>
        val a = probesFrame(e, bits, dims, seed + t, nProbes).select(
          explode(col("probes")).as("bucket"),
          col("vec_id").as("a_id"), col("emb").as("a_emb"), col("nrm").as("a_nrm"))
        val b = withBucket(e, "emb", bits, dims, seed + t).select(
          col("bucket"), col("vec_id").as("b_id"), col("emb").as("b_emb"), col("nrm").as("b_nrm"))
        withMinSim(
          a.join(b, Seq("bucket")).where(col("a_id") =!= col("b_id"))
            .select(
              col("a_id"),
              col("b_id"),
              round(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 6)
                .as("cos_sim")),
          minSim)
      }
      .reduce(_ unionByName _)

  private[graft] def candidatePairsMultiProbe(
      e: DataFrame,
      bits: Int,
      dims: Int,
      nTables: Int,
      nProbes: Int,
      seed: Long,
      minSim: Option[Double] = None): DataFrame = {
    val directed = candidatePairsMultiProbeDirected(e, bits, dims, nTables, nProbes, seed, minSim)
    directed
      .unionByName(directed.select(
        col("b_id").as("a_id"), col("a_id").as("b_id"), col("cos_sim")))
      .dropDuplicates("a_id", "b_id")
  }

  /** Long-id normalized base projection shared by the persisted-index
    * writer and both query-side bucketings.
    */
  private def indexBase(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df
      .select(Cols.q(idCol).cast("long").as("vec_id"), Cols.q(embCol).cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))

  /** One row per (table, bucket) with the combined partition key
    * `tb = tbl · 2^nBits + bucket`.
    */
  private[graft] def bucketedRows(
      df: DataFrame,
      idCol: String,
      embCol: String,
      nBits: Int,
      dims: Int,
      nTables: Int,
      seed: Long): DataFrame = {
    val e = indexBase(df, idCol, embCol)
    e.select(
      posexplode(array((0 until nTables).map(t =>
        bucketCol(col("emb"), nBits, dims, seed + t)): _*)).as(Seq("tbl", "bucket")),
      col("vec_id"),
      col("emb"),
      col("nrm"))
      .select(
        (col("tbl") * (1 << nBits) + col("bucket")).as("tb"),
        col("vec_id"),
        col("emb"),
        col("nrm"))
  }

  /** Auto-sized PERSISTED buckets cap at 2^14 dirs per table: a partition
    * directory per bucket is the index layout, and a 2^24-bit in-memory
    * bucketing would mean 16M+ directories — a file-count explosion no
    * filesystem tolerates. Past this corpus size the right durable layout
    * is a bucketed table (`bucketBy`, fixed file count) or coarser
    * partition dirs over a finer in-file bucket column.
    */
  val MaxPersistedBits: Int = 14

  /** The parameter sidecar of a persisted LSH index, decoded: the sizing,
    * the probe budget, the rebuild epoch and the geometry stamp
    * ([[stamped]] over the other six) that every writer records.
    */
  final case class BucketsMeta(
      nBits: Int,
      dims: Int,
      nTables: Int,
      seed: Long,
      nProbes: Int,
      epoch: Long,
      geomId: Long)

  private val BucketsFormat = "lsh-buckets/1"

  private def bucketsIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String) =
    IndexMeta(spark, indexDir, BucketsFormat, "AnnBuckets.writeBucketsGen")

  /** An index's parameter sidecar, decoded. The sidecar row itself is
    * read once per (re)bootstrap by [[graft.core.IndexMeta]], so a call
    * costs one driver-side listing of `<indexDir>/meta`, no Spark job.
    * An ingest loop still holds the decoded value across batches: its
    * per-batch geometry-stamp check ([[appendToBucketsLoaded]]) is what
    * fails the loop fast when [[rebuildBucketsGen]] resizes the index
    * underneath it.
    */
  def readBucketsMeta(
      indexDir: String,
      spark: org.apache.spark.sql.SparkSession): BucketsMeta = {
    val row = bucketsIndex(spark, indexDir).row
    BucketsMeta(
      row.getAs[Int]("nBits"),
      row.getAs[Int]("dims"),
      row.getAs[Int]("nTables"),
      row.getAs[Long]("seed"),
      row.getAs[Int]("nProbes"),
      row.getAs[Long]("epoch"),
      row.getAs[Long]("geom_id"))
  }

  /** A sizing with its deterministic stamp of the LSH index GEOMETRY +
    * rebuild epoch (FNV-1a over the sizing tuple): unlike IVFADC there is
    * no trained quantizer to fingerprint — the hyperplanes are (seed,
    * bits)-derived — but a REBUILD collapses generations and may resize,
    * so the epoch is mixed in to make every rebuild observable even when
    * the sizing lands unchanged (a replayed ingest batch that was already
    * collapsed into the rebuilt batch-0 would otherwise silently double
    * rows).
    */
  private def stamped(
      bits: Int,
      dims: Int,
      tables: Int,
      seed: Long,
      nProbes: Int,
      epoch: Long): BucketsMeta = {
    var h = 0xcbf29ce484222325L
    def mix(x: Long): Unit = {
      var i = 0
      while (i < 8) { h ^= (x >>> (8 * i)) & 0xffL; h *= 0x100000001b3L; i += 1 }
    }
    Seq(bits.toLong, dims.toLong, tables.toLong, seed, nProbes.toLong, epoch).foreach(mix)
    BucketsMeta(bits, dims, tables, seed, nProbes, epoch, h)
  }

  /** The stamp lives in BOTH halves of the index — `meta.geom_id` and an
    * underscore marker file inside the buckets table (`buckets/_geom`,
    * invisible to the parquet reader) — so the two-directory swap in
    * [[rebuildBucketsGen]] has NO window that pairs one half's new
    * geometry with the other's old one undetected: any mixed state
    * mismatches and readers fail fast instead of bucketing queries with
    * the wrong hyperplane count (the IvfPq geometry-stamp posture,
    * ADVICE r14 #1 applied at design time here).
    */
  private def geomMarkerPath(bucketsDir: String) =
    new org.apache.hadoop.fs.Path(bucketsDir, "_geom")

  /** The marker is SELF-DESCRIBING (`gid|bits|dims|tables|seed|probes|
    * epoch`), not just a hash: after a crash between the buckets swap
    * and the meta overwrite, the buckets table is the only half that
    * knows the new sizing — a bare hash could detect the mismatch but
    * not repair it, and a rebuild that trusted the STALE meta's bit
    * count would read `tb < 2^oldBits` against the new layout and
    * silently rebuild from a fraction of the corpus (data loss on the
    * documented recovery path). [[rebuildBucketsGen]] finishes the
    * interrupted swap from this tuple instead.
    */
  private[graft] def writeGeomMarker(
      bucketsDir: String,
      m: BucketsMeta,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    val p   = geomMarkerPath(bucketsDir)
    val fs  = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    val body = s"${m.geomId}|${m.nBits}|${m.dims}|${m.nTables}|${m.seed}|${m.nProbes}|${m.epoch}"
    out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  private def readMarkerBody(
      bucketsDir: String,
      spark: org.apache.spark.sql.SparkSession): Option[String] = {
    val p  = geomMarkerPath(bucketsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  private[graft] def readGeomMarker(
      bucketsDir: String,
      spark: org.apache.spark.sql.SparkSession): Option[Long] =
    readMarkerBody(bucketsDir, spark).flatMap(_.split('|').headOption.flatMap(_.toLongOption))

  /** The full sizing tuple a self-describing marker carries, validated
    * against its own hash (a corrupt or truncated marker yields None,
    * never a wrong repair).
    */
  private[graft] def readMarkerMeta(
      bucketsDir: String,
      spark: org.apache.spark.sql.SparkSession): Option[BucketsMeta] =
    readMarkerBody(bucketsDir, spark).flatMap { body =>
      body.split('|') match {
        case Array(g, bits, dims, tables, seed, probes, epoch) =>
          for {
            gid <- g.toLongOption
            b   <- bits.toIntOption
            d   <- dims.toIntOption
            t   <- tables.toIntOption
            s   <- seed.toLongOption
            p   <- probes.toIntOption
            e   <- epoch.toLongOption
            m = stamped(b, d, t, s, p, e)
            if m.geomId == gid
          } yield m
        case _ => None
      }
    }

  /** Meta-vs-buckets stamp agreement. A MISSING buckets marker is itself
    * a mid-write state: every writer ends by writing the marker, so its
    * absence means a (re)bootstrap's buckets overwrite deleted the old
    * marker and died (or is in flight) before writing the new one —
    * serving then would bucket queries with meta sizing against a
    * buckets table of unknown completeness (ADVICE r15 #2).
    */
  private def requireGeomConsistent(
      indexDir: String,
      meta: BucketsMeta,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    val bid = readGeomMarker(s"$indexDir/buckets", spark)
    require(
      bid.nonEmpty,
      s"LSH index at $indexDir is mid-rebuild or was left inconsistent: its meta carries a " +
        s"geometry stamp (${meta.geomId}) but the buckets table has no _geom marker — a (re)bootstrap " +
        "overwrite is in flight or died before stamping; retry after it completes, or " +
        "re-run writeBucketsGen / rebuildBucketsGen to restore a consistent index")
    require(
      bid.contains(meta.geomId),
      s"LSH index at $indexDir is mid-rebuild or was left inconsistent (meta geometry " +
        s"stamp ${meta.geomId} != buckets stamp ${bid.get}) — a rebuildBucketsGen swap is in flight or " +
        "failed partway; retry after it completes, or re-run rebuildBucketsGen to finish " +
        "the swap")
  }

  /** The ONE bits-resolution rule for persisted writers
    * ([[writeBucketsGen]], [[rebuildBucketsGen]]): auto bits clamp at
    * [[MaxPersistedBits]] and the clamp is LOGGED (ADVICE r14 #3).
    */
  private def resolvePersistedBits(
      nBits: Int,
      n: => Long,
      caller: String,
      targetBucketRows: Int = 128): Int =
    if (nBits != Auto) nBits
    else {
      val b = math.min(autoBits(n, targetBucketRows), MaxPersistedBits)
      if (b == MaxPersistedBits)
        org.slf4j.LoggerFactory
          .getLogger(getClass)
          .info(s"$caller: auto bits clamped to $b — partition-dir count bound; " +
            "bucket occupancy grows past this corpus size (see MaxPersistedBits)")
      b
    }

  /** The one meta-sidecar writer (bootstraps at epoch 0, rebuilds bump it). */
  private def writeMeta(
      spark: org.apache.spark.sql.SparkSession,
      outDir: String,
      m: BucketsMeta): Unit = {
    import spark.implicits._
    IndexMeta.write(
      Seq((m.nBits, m.dims, m.nTables, m.seed, m.nProbes, m.epoch, m.geomId, BucketsFormat))
        .toDF("nBits", "dims", "nTables", "seed", "nProbes", "epoch", "geom_id", "format"),
      outDir)
  }

  /** Persist the LSH index in the GENERATIONAL layout
    * (`buckets/tb=<id>/src_batch=<b>/…`) plus its meta sidecar — the
    * q135/q125 ingest contract for the LSH index family:
    * [[appendToBuckets]] adds a batch by writing ONLY that batch's
    * partitions, history is never re-read or re-bucketed. Unlike IVFADC
    * there is NO quantizer to drift: the hyperplanes are seed-derived
    * constants, data-independent for the index's life, so appends are
    * exact forever. What DOES drift is the SIZING — `autoBits`/`autoTables`
    * were computed for the bootstrap corpus, and bucket occupancy grows
    * linearly as batches append; watch [[bucketOccupancy]] (the
    * q136-monitor analog for this family) and run [[rebuildBucketsGen]]
    * when [[rebuildDue]] fires over it. Static overwrite on the
    * bootstrap for the same reason as [[IvfPq.writeIndexGen]]: a rebuild
    * must replace every generation.
    *
    * `nProbes` is the PROBE BUDGET the index is sized for and served
    * with: it is recorded in the meta sidecar, [[approxTopKIndexed]]
    * applies it on every read (each query probes its own bucket plus the
    * `nProbes` smallest-|margin| flip buckets per table — the q137 rule),
    * and `nTables = Auto` sizes the table count by [[autoTablesProbed]],
    * so a probed index carries ~1/(nProbes+1) the table copies of a plain
    * one at the same recall target (measured: t×2-probe matched plain
    * autoTables recall at ~⅓ the tables — BENCH_SF1.md). Default is the
    * r14 probed-auto operating point; pass `nTables = 2, nProbes = 0`
    * for a plain index.
    */
  def writeBucketsGen(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      outDir: String,
      nBits: Int = Auto,
      dims: Int = 64,
      nTables: Int = Auto,
      seed: Long = 42L,
      nProbes: Int = 2,
      srcBatch: Long = 0L): Unit = {
    val spark = emb.sparkSession
    val n      = if (nBits == Auto || nTables == Auto) emb.count() else 0L
    val bits   = resolvePersistedBits(nBits, n, "writeBucketsGen")
    val tables = resolveTables(n, nTables, nProbes)
    require(nProbes >= 0 && nProbes <= bits,
      s"nProbes=$nProbes must be in [0, bits=$bits] — the recorded probe budget is applied " +
        "on every index read, so an over-budget index would fail at read time instead")
    // meta + stamp FIRST (the IvfPq posture, ADVICE r15 #2): a
    // re-bootstrap over a LIVE index then fails every racing read fast —
    // new meta vs old buckets marker mismatches, and once the buckets
    // overwrite deletes the old marker the marker-missing state fails
    // too (requireGeomConsistent)
    val m = stamped(bits, dims, tables, seed, nProbes, epoch = 0L)
    writeMeta(spark, outDir, m)
    Generations.write(
      bucketedRows(emb, idCol, embCol, bits, dims, tables, seed)
        // cluster rows by the partition key BEFORE the partitioned write:
        // without it every write task emits a file into every `tb`
        // directory (tasks × tables · 2^bits files — measured 327 k files
        // and a 586 s build for the 5-table probed index at n = 200 k,
        // 852 k and 1 758 s for the 13-table plain one); clustered, each
        // directory gets its owning tasks' files only (A/B in
        // BENCH_SF1.md round-14 late section)
        .repartition(col("tb")),
      s"$outDir/buckets", srcBatch, Seq("tb", Generations.Col), append = false)
    writeGeomMarker(s"$outDir/buckets", m, spark)
    // the sidecar went first: drop a schema a reader took before the table
    IndexMeta.invalidate(spark, outDir)
  }

  /** Incremental LSH-index ingest: bucket a NEW batch under the index's
    * FROZEN hyperplane parameters (from the meta sidecar) and append it
    * as generation `srcBatch` — dynamic partition overwrite touches only
    * this batch's `(tb, src_batch)` directories, so replay is
    * idempotent and history is never re-read. Probe reads
    * ([[approxTopKIndexed]]) prune statically on the outer `tb` level
    * across all generations unchanged.
    */
  def appendToBuckets(
      indexDir: String,
      emb: DataFrame,
      idCol: String,
      embCol: String,
      srcBatch: Long): Unit = {
    val spark = emb.sparkSession
    requireGenerational(indexDir, spark)
    appendToBucketsLoaded(indexDir, readBucketsMeta(indexDir, spark), emb, idCol, embCol, srcBatch)
  }

  /** The generational-layout guard over the buckets schema the reader holds. */
  private[graft] def requireGenerational(
      indexDir: String,
      spark: org.apache.spark.sql.SparkSession): Unit =
    Generations.require(bucketsIndex(spark, indexDir).schema("buckets"), s"$indexDir/buckets",
      "AnnBuckets.writeBucketsGen")

  /** The [[appendToBuckets]] write against ALREADY-LOADED meta — the
    * ingest-loop shape (the `IvfPq.appendToIndexLoaded` economics,
    * ADVICE r14 #4): the sidecar collect and the generational-layout
    * guard are per-loop costs; what stays per-batch is ONE tiny stamp
    * read, which is exactly what lets a loop holding cached sizing fail
    * fast when [[rebuildBucketsGen]] replaces the index mid-stream —
    * appending under stale sizing would bucket the batch with the wrong
    * hyperplane count, and a replayed generation that the rebuild already
    * collapsed into batch-0 would silently double its rows.
    */
  def appendToBucketsLoaded(
      indexDir: String,
      meta: BucketsMeta,
      emb: DataFrame,
      idCol: String,
      embCol: String,
      srcBatch: Long): Unit = {
    val cur = readGeomMarker(s"$indexDir/buckets", emb.sparkSession)
    require(
      cur.contains(meta.geomId),
      s"LSH index at $indexDir was rebuilt since its meta was loaded (buckets stamp " +
        s"${cur.orNull} != loaded ${meta.geomId}) — the rebuild resized the index and collapsed " +
        "its generations, so appending under the stale sizing would corrupt it; reload via " +
        "AnnBuckets.readBucketsMeta and restart the ingest generation space")
    Generations.write(
      bucketedRows(emb, idCol, embCol, meta.nBits, meta.dims, meta.nTables, meta.seed)
        .repartition(col("tb")),
      s"$indexDir/buckets", srcBatch, Seq("tb", Generations.Col), append = true)
  }

  /** The rebuild trigger as a predicate over the [[bucketOccupancy]]
    * report — the `IvfPq.retrainDue` shape for THIS family's drift mode:
    * hyperplanes never drift (seed-derived constants), but the SIZING was
    * computed for the bootstrap corpus, and mean occupancy grows linearly
    * with appended generations, degrading candidate cost (Σ occ² per
    * bucket) back toward quadratic. True when mean occupancy exceeds
    * `slack` × the `targetBucketRows` the index was sized for. The report
    * is one row (collect is O(1)).
    */
  def rebuildDue(
      occupancy: DataFrame,
      targetBucketRows: Int = 128,
      slack: Double = 2.0): Boolean = {
    require(slack >= 1.0, s"slack must be >= 1 (it multiplies the sizing target), got $slack")
    val rows = occupancy.select(col("mean_occ").cast("double")).collect()
    require(rows.nonEmpty, "rebuildDue needs a non-empty occupancy report")
    rows(0).getDouble(0) > slack * targetBucketRows
  }

  /** The composed remedy when [[rebuildDue]] fires — the action half of
    * the occupancy monitor, closing the same monitor-without-remedy
    * asymmetry [[IvfPq.retrainAndRebuild]] closed for IVFADC: RE-SIZE
    * (`autoBits`/`autoTablesProbed` on the CURRENT corpus count, under
    * the index's recorded probe budget) and RE-BUCKET from the embeddings
    * the index partitions already store — table 0's rows
    * (`tb < 2^nBits`) hold every vector exactly once, so the rebuild
    * never re-reads the corpus. Generations collapse to a new batch-0
    * and ingest resumes with a fresh generation space.
    *
    * Mid-rebuild consistency (the story ADVICE r14 asked to be designed,
    * not assumed): the new buckets table is written COMPLETE to a
    * sibling temp dir (stamped inside via `_geom`), then swapped in with
    * delete + rename, then the meta sidecar is overwritten with the new
    * sizing + stamp. Every interleaving a racing reader can observe is
    * fail-fast: in the delete→rename gap the buckets path is missing
    * (file-level error); after the rename but before the meta write the
    * two stamps disagree (the [[requireGeomConsistent]] check on every
    * read); an ingest loop holding cached meta fails its per-batch stamp
    * check ([[appendToBucketsLoaded]]). No window serves cross-geometry
    * results. Rebuild always auto-sizes — resizing is its purpose — and
    * keeps dims/seed/probe budget from the meta.
    *
    * Returns the new meta (so a caller's loop can continue with the
    * rebuilt sizing without a reload).
    */
  def rebuildBucketsGen(
      indexDir: String,
      spark: org.apache.spark.sql.SparkSession,
      targetBucketRows: Int = 128): BucketsMeta = {
    // swap-gap repair FIRST (ADVICE r15 #3): a prior rebuild that died
    // between the live-dir delete and the temp-dir rename left NO
    // buckets path at all — the "re-run rebuildBucketsGen" recovery the
    // rename-failure message promises would itself die reading the
    // missing directory. The complete rebuilt table (stamped inside) is
    // sitting at the sibling temp path; finish the swap and continue.
    val entryFs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val livePath = new org.apache.hadoop.fs.Path(s"$indexDir/buckets")
    val tmpPath  = new org.apache.hadoop.fs.Path(s"$indexDir/buckets.rebuild")
    if (!entryFs.exists(livePath) && entryFs.exists(tmpPath)) {
      val m = readMarkerMeta(s"$indexDir/buckets.rebuild", spark).getOrElse(
        throw new IllegalStateException(
          s"LSH index at $indexDir has no buckets table and an UN-STAMPED buckets.rebuild " +
            "sibling — a temp table without its self-describing marker cannot be trusted as " +
            "a complete rebuild (the marker is written before any swap step); re-bootstrap " +
            "via writeBucketsGen from the raw corpus"))
      org.slf4j.LoggerFactory
        .getLogger(getClass)
        .warn(s"rebuildBucketsGen: finishing an interrupted delete->rename swap at $indexDir " +
          s"(marker epoch ${m.epoch}) before rebuilding")
      require(
        entryFs.rename(tmpPath, livePath),
        s"rebuildBucketsGen: swap-repair rename $tmpPath -> $livePath failed; the complete " +
          "rebuilt table is intact at the temp path — retry, or move it into place manually")
      writeMeta(spark, indexDir, m)
    }
    requireGenerational(indexDir, spark)
    val stored = readBucketsMeta(indexDir, spark)
    // crash repair BEFORE anything reads with the stored sizing: a prior
    // rebuild that died between the buckets swap and the meta overwrite
    // left NEW buckets under OLD meta — reading the corpus as
    // `tb < 2^oldBits` against the new layout would silently rebuild
    // from a fraction of it. The self-describing marker carries the
    // completed rebuild's sizing; finishing the interrupted meta write
    // is the repair, and the requested rebuild then proceeds on the
    // repaired index.
    val old = readGeomMarker(s"$indexDir/buckets", spark) match {
      case Some(mgid) if mgid != stored.geomId =>
        val m = readMarkerMeta(s"$indexDir/buckets", spark).getOrElse(
          throw new IllegalStateException(
            s"LSH index at $indexDir has mismatched stamps but a non-self-describing buckets " +
              "marker — cannot determine the buckets table's sizing to repair the interrupted " +
              "swap; restore the meta sidecar from a backup or re-bootstrap via writeBucketsGen " +
              "from the raw corpus"))
        org.slf4j.LoggerFactory
          .getLogger(getClass)
          .warn(s"rebuildBucketsGen: finishing an interrupted swap at $indexDir " +
            s"(meta epoch ${stored.epoch} -> marker epoch ${m.epoch}) before rebuilding")
        writeMeta(spark, indexDir, m)
        m
      case _ => stored
    }
    val corpus = bucketsIndex(spark, indexDir)
      .read("buckets")
      .where(col("tb") < lit(1 << old.nBits)) // table 0: every vector, once
      .select(col("vec_id"), col("emb"))
    val n      = corpus.count()
    val bits   = resolvePersistedBits(Auto, n, "rebuildBucketsGen", targetBucketRows)
    val tables =
      if (old.nProbes > 0) autoTablesProbed(n, old.nProbes, targetBucketRows = targetBucketRows)
      else autoTables(n, targetBucketRows = targetBucketRows)
    require(old.nProbes <= bits,
      s"recorded probe budget ${old.nProbes} exceeds rebuilt bits=$bits — shrink the budget " +
        "or the target occupancy")
    val next = stamped(bits, old.dims, tables, old.seed, old.nProbes, old.epoch + 1)
    val tmp  = s"$indexDir/buckets.rebuild"
    // the rebuild write READS the live buckets (lazily, during this job)
    // and must not overwrite its own input — hence the sibling temp dir
    Generations.write(
      bucketedRows(corpus, "vec_id", "emb", bits, old.dims, tables, old.seed).repartition(col("tb")),
      tmp, 0L, Seq("tb", Generations.Col), append = false)
    writeGeomMarker(tmp, next, spark)
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$indexDir/buckets")
    fs.delete(live, true)
    require(
      fs.rename(new org.apache.hadoop.fs.Path(tmp), live),
      s"rebuildBucketsGen: rename $tmp -> $live failed; the complete rebuilt table is intact " +
        "at the temp path — re-run rebuildBucketsGen or move it into place manually")
    writeMeta(spark, indexDir, next)
    next
  }

  /** Occupancy report for a persisted LSH index — the sizing-drift
    * monitor (this family's q136 analog): the hyperplanes never drift,
    * but `autoBits` was sized for the BOOTSTRAP corpus and mean bucket
    * occupancy grows linearly with appended batches, degrading candidate
    * cost (Σ occ² per bucket) back toward quadratic. One aggregation
    * over the index's (tb) keys: rows, buckets, mean/max occupancy —
    * feed the report to [[rebuildDue]] and run [[rebuildBucketsGen]]
    * when it fires (the composed monitor → remedy loop, r15).
    */
  def bucketOccupancy(
      indexDir: String,
      spark: org.apache.spark.sql.SparkSession): DataFrame =
    bucketsIndex(spark, indexDir)
      .read("buckets")
      .groupBy("tb")
      .agg(count(lit(1)).as("occ"))
      .agg(
        sum(col("occ")).as("rows"),
        count(lit(1)).as("buckets"),
        round(avg(col("occ")), 2).as("mean_occ"),
        max(col("occ")).as("max_occ"))

  /** The probed query side of a persisted-index read: each query
    * vector's own bucket PLUS its `nProbes` flip-neighbour buckets per
    * table (the [[probesFrame]] kernel — q137's hash-oracled rule),
    * under the combined `tb` key. At nProbes = 0 this degenerates to the
    * single-bucket [[bucketedRows]] set (probesFrame's probe list is
    * then exactly the own bucket; spec-pinned).
    */
  private[graft] def probedRows(
      df: DataFrame,
      idCol: String,
      embCol: String,
      nBits: Int,
      dims: Int,
      nTables: Int,
      seed: Long,
      nProbes: Int): DataFrame = {
    val e = indexBase(df, idCol, embCol)
    (0 until nTables)
      .map { t =>
        probesFrame(e, nBits, dims, seed + t, nProbes)
          .select(
            explode(col("probes")).as("bucket"),
            col("vec_id"),
            col("emb"),
            col("nrm"))
          .select(
            (lit(t) * (1 << nBits) + col("bucket")).as("tb"),
            col("vec_id"),
            col("emb"),
            col("nrm"))
      }
      .reduce(_ unionByName _)
  }

  /** Probe-set collect ceiling for [[approxTopKIndexed]] — the bound is
    * queries × nTables × (nProbes + 1) int keys, which the serve-batch
    * use case keeps tiny; a full-corpus frame passed as `queries` blows
    * it, and the guard fails fast naming the full-corpus path instead of
    * letting the driver accumulate an unbounded collect (the BruteForce
    * guard style — ADVICE/VERDICT r13).
    */
  val MaxProbedBuckets: Int = 1 << 16

  /** Probe a [[writeBucketsGen]] index with a query batch: re-bucket the
    * queries from the persisted parameters — applying the index's
    * recorded PROBE BUDGET, so each query reads its own bucket plus its
    * `nProbes` flip-neighbour buckets per table (the q137 multi-probe
    * rule; r14) — collect the bounded probed (table, bucket) set,
    * ≤ |queries| · nTables · (nProbes + 1) keys, the online-batch use
    * case this index exists for, and apply it as a STATIC partition
    * filter on the outer `tb` level, so the index scan reads only the
    * probed buckets' files across every generation. For a full-corpus
    * self-join prefer [[approxTopK]], whose single-run bucketing avoids
    * the probe-set collect.
    */
  def approxTopKIndexed(
      indexDir: String,
      queries: DataFrame,
      idCol: String,
      embCol: String,
      k: Int = 5,
      maxProbedBuckets: Int = MaxProbedBuckets): DataFrame = {
    val spark = queries.sparkSession
    // probe budget from the sidecar: the index serves as it was sized
    val meta = readBucketsMeta(indexDir, spark)
    // fail fast on a mid-rebuild mixed state rather than bucketing the
    // queries with the wrong hyperplane count
    requireGeomConsistent(indexDir, meta, spark)
    val (bits, dims, nTables, seed, nProbes) =
      (meta.nBits, meta.dims, meta.nTables, meta.seed, meta.nProbes)
    val queryRows =
      if (nProbes > 0) probedRows(queries, idCol, embCol, bits, dims, nTables, seed, nProbes)
      else bucketedRows(queries, idCol, embCol, bits, dims, nTables, seed)
    val probes = queryRows
      .select(
        col("tb"),
        col("vec_id").as("a_id"),
        col("emb").as("a_emb"),
        col("nrm").as("a_nrm"))
    // take(bound + 1), not collect(): the overflow check must itself be
    // bounded — a runaway query batch is detected after bound + 1 rows,
    // never materialized on the driver
    val probedKeys = probes.select("tb").distinct().take(maxProbedBuckets + 1)
    require(
      probedKeys.length <= maxProbedBuckets,
      s"approxTopKIndexed probed more than $maxProbedBuckets distinct (table, bucket) keys — " +
        "the static partition filter collects the probe set to the driver, so this index read " +
        "is for BOUNDED query batches; for a full-corpus self-join use AnnBuckets.approxTopK " +
        "(single-run bucketing, no probe-set collect), or raise maxProbedBuckets explicitly")
    val probedTbs: Seq[Int] = probedKeys.map(_.getInt(0)).toSeq
    val lists = bucketsIndex(spark, indexDir)
      .read("buckets")
      .where(col("tb").isin(probedTbs: _*))
      .select(
        col("tb"),
        col("vec_id").as("b_id"),
        col("emb").as("b_emb"),
        col("nrm").as("b_nrm"))
    IvfIndex.rankCandidates(probes, lists, k, key = "tb")
  }
}
