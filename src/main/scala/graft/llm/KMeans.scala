package graft.llm

import graft.core.{Cols, Jobs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over the embedding column — the domain
  * -discovery / mixture-balancing clustering a training-data pipeline runs
  * over the FULL corpus (cluster-then-reweight, the data-mixing
  * counterpart of SemDedup's cluster-then-dedup; cf. the DoReMi/DSIR
  * family, which needs a domain label per document).
  *
  * Relationship to the neighbours: [[SemDedup]] assigns to FIXED seed
  * points (no iteration — fully relational by design) and
  * [[IvfIndex.trainCentroids]] runs Lloyd in DRIVER memory on a bounded
  * sample (the FAISS coarse-quantizer recipe — right for an index, where
  * only the quantizer needs training). This operator is the third point
  * in that design space: Lloyd over the whole corpus, distributed — each
  * iteration is one assignment projection (no join, no shuffle) plus one
  * k·d-row aggregate, so driver state is O(k·d) per round and corpus
  * scale only enters through the scan. That is the 100 TB posture: at
  * 1000 executors every iteration is a map-side-combined aggregate over
  * the partitioned corpus; nothing corpus-sized ever concentrates.
  *
  * Everything is deterministic and engine-replayable, so the whole
  * optimizer loop hash-oracles (q122):
  *  - init = the k vectors with the smallest salted-md5(id)
  *    ([[SemDedup.pickSeeds]] — a pure function of (salt, id));
  *  - cluster label = the init seed's vec id (stable across engines, no
  *    positional numbering to disagree on);
  *  - assignment = argmin of the ROUNDED (6 dp) euclidean distance via
  *    the ‖v‖² − 2 v·c + ‖c‖² expansion, summed in index order on both
  *    engines; ties keep the smaller label (strict-< displacement over
  *    labels in ascending order); the radicand is clamped at 0 so
  *    identical vectors cannot produce sqrt(−ε) = NaN;
  *  - update = per-(cluster, dim) mean ROUNDED to 6 dp — the rounding is
  *    what makes iteration k+1's input bit-identical across engines even
  *    though float summation order inside the mean is not; an empty
  *    cluster keeps its previous centroid.
  */
object KMeans {

  /** One centroid: its stable label (the init seed's id) and position. */
  final case class Centroid(label: Long, vec: Array[Double])

  /** Deterministic init: the k smallest-salted-md5 vectors, labelled by
    * their own id, sorted by label.
    */
  def initCentroids(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      salt: String = "kmeans"): Array[Centroid] =
    SemDedup
      .pickSeeds(emb, idCol, vecCol, k, salt)
      .map(s => Centroid(s.id, s.vec))
      .sortBy(_.label)

  /** ‖v[off, off + len)‖², summed in index order. */
  private[graft] def sqNorm(v: Array[Double], off: Int, len: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < len) { val x = v(off + i); s += x * x; i += 1 }
    s
  }

  /** Squared euclidean distance from `v[off, off + len)` to `cen` by the
    * ‖v‖² − 2 v·c + ‖c‖² expansion, the dot summed in index order over
    * the shorter of the two, clamped at 0 so identical vectors cannot give
    * sqrt(−ε) = NaN. `ss` is ‖v[off, off + len)‖², `c2` is ‖cen‖².
    */
  private[graft] def sqDist(
      v: Array[Double],
      off: Int,
      len: Int,
      ss: Double,
      cen: Array[Double],
      c2: Double): Double = {
    val n  = math.min(len, cen.length)
    var dp = 0.0
    var j  = 0
    while (j < n) { dp += v(off + j) * cen(j); j += 1 }
    math.max(ss - 2.0 * dp + c2, 0.0)
  }

  /** THE coarse-argmin kernel contract, in one place: index of the
    * nearest centroid by ROUNDED euclidean distance (`round6` of
    * sqrt([[sqDist]])), strict-< displacement so ties keep the smaller
    * index — callers that label by id must pass centroids in
    * ascending-label order. `Double.compare` ranks a NaN greatest, as
    * Spark's and DuckDB's orders do. `off`/`len` select a subrange of `v`
    * (the PQ subspace case); full-vector callers pass (0, v.length).
    * `c2s(c)` is the precomputed ‖centroid c‖². Shared by
    * [[assignKernel]], [[IvfPq]]'s residual/encode kernels and [[Pq]]'s
    * encode and fused subspace fits, so a rounding or tie-rule change
    * cannot drift between them.
    */
  private[graft] def nearestIndex(
      v: Array[Double],
      off: Int,
      len: Int,
      cents: Array[Array[Double]],
      c2s: Array[Double]): Int = {
    val ss    = sqNorm(v, off, len)
    var best  = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = BruteForce.round6(math.sqrt(sqDist(v, off, len, ss, cents(c), c2s(c))))
      if (java.lang.Double.compare(d, bestD) < 0) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Assignment under the given centroids: (vec_id, cluster, dist, __emb).
    * `__emb` rides along for the update aggregate; the declared output
    * drops it. Rows with a null id or embedding are dropped.
    */
  def assign(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Centroid]): DataFrame = {
    require(cents.nonEmpty, "no centroids")
    val base = emb
      .select(
        Cols.q(idCol).cast("long").as("vec_id"),
        Cols.q(vecCol).cast("array<double>").as("__emb"))
      .where(col("vec_id").isNotNull && col("__emb").isNotNull)
    assignKernel(base, cents.sortBy(_.label))
  }

  /** Broadcast centroid-matrix argmin: the label-sorted centroids are
    * shipped once per executor and each row runs [[nearestIndex]] over
    * them, then recomputes the winner's rounded distance with the same
    * arithmetic. No centroid value reaches generated code, so a new
    * centroid set compiles nothing new.
    */
  private def assignKernel(base: DataFrame, sorted: Array[Centroid]): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val vecs = sorted.map(_.vec)
    val c2s  = vecs.map(c => sqNorm(c, 0, c.length))
    val bc   = spark.sparkContext.broadcast((sorted.map(_.label), vecs, c2s))
    base
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val (lbls, vecs, c2s) = bc.value
        it.map { case (vid, v) =>
          val best = nearestIndex(v, 0, v.length, vecs, c2s)
          val dist = BruteForce.round6(
            math.sqrt(sqDist(v, 0, v.length, sqNorm(v, 0, v.length), vecs(best), c2s(best))))
          (vid, lbls(best), dist, v)
        }
      }
      .toDF("vec_id", "cluster", "dist", "__emb")
  }

  /** `iters` Lloyd rounds from the deterministic init; returns the final
    * assignment (vec_id, cluster, dist) and the final centroids. Each
    * round's driver state is the k·d rounded mean table (one
    * [[Jobs.collectFast]] of a bounded aggregate).
    */
  def fit(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2,
      salt: String = "kmeans"): (DataFrame, Array[Centroid]) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    var cents = initCentroids(emb, idCol, vecCol, k, salt)
    for (_ <- 1 to iters) {
      val a = assign(emb, idCol, vecCol, cents)
      val upd = a
        .select(col("cluster"), posexplode(col("__emb")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(round(avg("v"), 6).as("cv"))
      // size each updated centroid by the PREVIOUS centroid's dimensionality
      // (not the aggregated row count): ragged embedding arrays or a null
      // position mean must fail loudly, not produce a short/corrupt centroid
      val dims = cents.map(c => c.label -> c.vec.length).toMap
      val byLabel = Jobs
        .collectFast(upd)
        .groupBy(_.getLong(0))
        .map { case (lbl, rows) =>
          val dim = dims.getOrElse(
            lbl,
            throw new IllegalStateException(s"kmeans: aggregated unknown cluster label $lbl"))
          require(
            rows.length == dim,
            s"kmeans: cluster $lbl aggregated ${rows.length} positions, expected $dim " +
              "(ragged embedding input)")
          val vec = new Array[Double](dim)
          rows.foreach { r =>
            require(
              !r.isNullAt(1) && !r.isNullAt(2),
              s"kmeans: null position/mean aggregated for cluster $lbl (null embedding element)")
            val pos = r.getInt(1)
            require(
              pos >= 0 && pos < dim,
              s"kmeans: position $pos out of bounds for dimensionality $dim (ragged embedding input)")
            vec(pos) = r.getDouble(2)
          }
          lbl -> vec
        }
      cents = cents.map(c => Centroid(c.label, byLabel.getOrElse(c.label, c.vec)))
    }
    (assign(emb, idCol, vecCol, cents).select("vec_id", "cluster", "dist"), cents)
  }

  /** Per-cluster mixture weights: `weight = (1/k) / (n_c / n)` — the
    * multiplier that reweights each discovered domain to a uniform
    * mixture (sampling with these weights equalizes domain mass). One
    * k-row aggregate over the assignment.
    */
  def mixtureWeights(assignments: DataFrame, k: Int): DataFrame = {
    val total = sum(col("n")).over(org.apache.spark.sql.expressions.Window.partitionBy())
    assignments
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"))
      .withColumn("weight", round((total / lit(k.toDouble)) / col("n"), 6))
  }
}
