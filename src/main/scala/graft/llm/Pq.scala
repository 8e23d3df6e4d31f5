package graft.llm

import graft.core.Cols
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the embedding-compression leg of the ANN
  * scale story next to [[AnnBuckets]] (LSH pruning) and [[IvfIndex]]
  * (coarse partitioning): split each d-dim vector into `m` subvectors,
  * quantize each against its own k-entry codebook, and store `m` small
  * codes per vector — 64 float32 dims at m=4/k=16 compress 64× (256 B →
  * 4 B), which is what lets a 100 TB embedding corpus hold its index in
  * cluster memory. Distances are answered WITHOUT decompression via ADC
  * (asymmetric distance computation): per query, an m×k lookup table of
  * exact subspace distances is computed once on the driver and each
  * candidate costs m table lookups — a pure codegen projection over the
  * code arrays, no vector math per row. Encoding is one broadcast-kernel
  * pass whose per-subspace argmin is [[KMeans.nearestIndex]].
  *
  * Determinism: codebooks come from [[KMeans]] per subspace (salted-md5
  * init, rounded iterations), so with a pinned iteration count the WHOLE
  * encode → ADC path is engine-replayable — q126/q127 pin `iters = 0`
  * (codebook = the k seed subvectors) so the oracle replays seed pick,
  * per-subspace argmin encoding, and the ADC ranking relationally;
  * training iterations are the library default and are spec-checked by
  * the reconstruction-error contract (trained codebooks must not be
  * worse than the seed codebooks they started from).
  */
object Pq {

  /** One codebook per subspace: `books(s)(c)` is centroid `c` (a d/m-dim
    * vector) of subspace `s`; `labels(s)(c)` its stable [[KMeans]] label.
    */
  final case class Codebooks(
      m: Int,
      subDim: Int,
      books: Array[Array[Array[Double]]],
      labels: Array[Array[Long]])

  /** Train per-subspace codebooks with the m subspace Lloyd fits FUSED
    * into one aggregate per round: each pass over the corpus emits every
    * subspace's (s, cluster, dim) partial sums, so `iters` rounds cost
    * `iters` scans instead of m·iters (measured ~90% of q128's sf10 cost
    * before the fusion). Per-subspace bit-parity with independent
    * [[KMeans.fit]] runs ([[trainPerSubspace]], spec-pinned): same seeds
    * (per-subspace salt), same rounded-distance strict-< argmin in
    * ascending label order, same 6-dp-rounded means, empty clusters keep
    * their previous centroid. Driver state is the k·dims rounded mean
    * table per round — unchanged. `iters = 0` keeps the deterministic
    * seed subvectors (the oracle-replayable mode).
    */
  def train(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      m: Int = 4,
      k: Int = 16,
      iters: Int = 2,
      salt: String = "pq"): Codebooks = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val subDim = dims / m
    var books  = seedBooks(emb, idCol, vecCol, subDim, m, k, salt)
    for (_ <- 1 to iters) {
      val upd = fusedAssignContrib(emb, idCol, vecCol, books, subDim)
        .select(col("s"), col("cluster"), posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy("s", "cluster", "pos")
        .agg(round(avg("v"), 6).as("cv"))
      val bySub = graft.core.Jobs.collectFast(upd).groupBy(_.getInt(0))
      books = books.zipWithIndex.map { case (cents, s) =>
        val byLabel = bySub.getOrElse(s, Array.empty[org.apache.spark.sql.Row])
          .groupBy(_.getLong(1))
          .map { case (lbl, rows) =>
            require(
              rows.length == subDim,
              s"pq: subspace $s cluster $lbl aggregated ${rows.length} positions, " +
                s"expected $subDim (ragged embedding input)")
            val vec = new Array[Double](subDim)
            rows.foreach { r =>
              require(
                !r.isNullAt(2) && !r.isNullAt(3),
                s"pq: null position/mean aggregated for subspace $s cluster $lbl")
              val pos = r.getInt(2)
              require(
                pos >= 0 && pos < subDim,
                s"pq: position $pos out of bounds for subspace dim $subDim")
              vec(pos) = r.getDouble(3)
            }
            lbl -> vec
          }
        cents.map(c => KMeans.Centroid(c.label, byLabel.getOrElse(c.label, c.vec)))
      }
    }
    Codebooks(
      m,
      subDim,
      books.map(_.map(_.vec)),
      books.map(_.map(_.label)))
  }

  /** The pre-fusion reference path: m independent [[KMeans.fit]] runs
    * (m·iters aggregates). Kept for the fusion bit-parity spec.
    */
  private[graft] def trainPerSubspace(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      m: Int = 4,
      k: Int = 16,
      iters: Int = 2,
      salt: String = "pq"): Codebooks = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val subDim = dims / m
    val fits = (0 until m).map { s =>
      val sub = emb.select(
        Cols.q(idCol).as("vec_id"),
        slice(Cols.q(vecCol).cast("array<double>"), s * subDim + 1, subDim).as("sub"))
      if (iters == 0) KMeans.initCentroids(sub, "vec_id", "sub", k, s"$salt$s")
      else KMeans.fit(sub, "vec_id", "sub", k, iters, s"$salt$s")._2
    }
    Codebooks(
      m,
      subDim,
      fits.map(_.map(_.vec)).toArray,
      fits.map(_.map(_.label)).toArray)
  }

  /** Per-subspace deterministic seeds in ONE pass: for each subspace s the
    * k rows with the smallest (md5("<salt><s>|<id>"), id) — exactly
    * [[KMeans.initCentroids]]'s contract per subspace, but all m
    * selections ride one scan (a bounded per-partition top-k per subspace,
    * merged on the driver) instead of m TakeOrdered jobs. Driver traffic
    * is partitions·m·k candidate rows. Output sorted by label, like
    * initCentroids.
    */
  private def seedBooks(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      subDim: Int,
      m: Int,
      k: Int,
      salt: String): Array[Array[KMeans.Centroid]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val prefixes = Array.tabulate(m)(s => s"$salt$s|")
    // hash the RAW id cast to string — [[SemDedup.pickSeeds]]'s exact salt
    // input (a long-cast id would print "42" where a double id prints
    // "42.0" and silently diverge from the per-subspace reference path)
    val candidates = emb
      .select(
        Cols.q(idCol).cast("string").as("__ids"),
        Cols.q(idCol).cast("long").as("vec_id"),
        Cols.q(vecCol).cast("array<double>").as("v"))
      .as[(String, Long, Array[Double])]
      .mapPartitions { it =>
        val md  = java.security.MessageDigest.getInstance("MD5")
        val hex = "0123456789abcdef".toCharArray
        def hexMd5(s: String): String = {
          md.reset()
          val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val a = new Array[Char](32)
          var i = 0
          while (i < 16) {
            a(2 * i) = hex((d(i) >> 4) & 0xf)
            a(2 * i + 1) = hex(d(i) & 0xf)
            i += 1
          }
          new String(a)
        }
        // per-subspace max-heap of the k smallest (hash, id) seen so far
        val heaps = Array.fill(m)(
          scala.collection.mutable.PriorityQueue.empty[(String, Long, Array[Double])](
            Ordering.by(t => (t._1, t._2))))
        it.foreach { case (idStr, id, v) =>
          var s = 0
          while (s < m) {
            val h    = hexMd5(prefixes(s) + idStr)
            val heap = heaps(s)
            if (heap.size < k) heap.enqueue((h, id, v))
            else if (Ordering[(String, Long)].lt((h, id), (heap.head._1, heap.head._2))) {
              heap.dequeue(); heap.enqueue((h, id, v))
            }
            s += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (heap, s) =>
          heap.iterator.map { case (h, id, v) =>
            // copyOfRange zero-PADS a short slice — a ragged embedding
            // would silently seed a zero-padded codebook here where the
            // per-subspace reference path fails loudly, so mirror the
            // ragged-input guard KMeans.fit/train grew (ADVICE r11)
            require(
              v.length >= (s + 1) * subDim,
              s"Pq.seedBooks: embedding id=$id has ${v.length} dims — shorter than " +
                s"(subspace ${s + 1}) × subDim $subDim; ragged corpus")
            (s, h, id, java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
          }
        }
      }
      .collect()
    Array.tabulate(m) { s =>
      candidates.iterator
        .filter(_._1 == s)
        .toArray
        .sortBy(c => (c._2, c._3))
        .take(k)
        .map(c => KMeans.Centroid(c._3, c._4))
        .sortBy(_.label)
    }
  }

  /** One fused pass: every vector emits m rows (s, winning cluster label,
    * subvector) — the argmin replicates [[KMeans]]'s kernel contract
    * exactly (rounded distance, strict-< displacement over labels in
    * ascending order) per subspace against the broadcast codebooks.
    */
  private def fusedAssignContrib(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      books: Array[Array[KMeans.Centroid]],
      subDim: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val m     = books.length
    val lbls  = books.map(_.map(_.label))
    val vecs  = books.map(_.map(_.vec))
    val c2s   = books.map(_.map(c => c.vec.map(x => x * x).sum))
    val bc    = spark.sparkContext.broadcast((lbls, vecs, c2s))
    emb
      .select(
        Cols.q(idCol).cast("long").as("vec_id"),
        Cols.q(vecCol).cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val (lbls, vecs, c2s) = bc.value
        val nSub = lbls.length
        it.flatMap { case (_, v) =>
          (0 until nSub).iterator.map { s =>
            val off  = s * subDim
            // the ONE shared argmin kernel; centroids are in ascending
            // label order, so index ties == label ties
            val best = KMeans.nearestIndex(v, off, subDim, vecs(s), c2s(s))
            (s, lbls(s)(best), java.util.Arrays.copyOfRange(v, off, off + subDim))
          }
        }
      }
      .toDF("s", "cluster", "sub")
  }

  /** Encode every vector as m codebook indices (0-based position in the
    * label-sorted codebook): per subspace, the argmin of the ROUNDED
    * euclidean distance, smaller index on ties — the [[KMeans]]
    * assignment contract ([[KMeans.nearestIndex]]). One kernel pass;
    * nothing shuffles.
    */
  def encode(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      cb: Codebooks): DataFrame =
    encodeKernel(emb, idCol, vecCol, cb).select(
      col("vec_id") +: (0 until cb.m).map(s => col("__codes")(s).as(s"code$s")): _*)

  /** Per-vector reconstruction error ‖v − decode(encode(v))‖ (rounded):
    * the quantization-quality metric the training contract is stated in.
    * Comes out of the same pass as the codes.
    */
  def reconstructionError(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      cb: Codebooks): DataFrame =
    encodeKernel(emb, idCol, vecCol, cb).select(
      col("vec_id") +:
        (0 until cb.m).map(s => col("__codes")(s).as(s"code$s")) :+
        col("__err").as("err"): _*)

  /** The one encode kernel: (vec_id, __codes, __err). Per subspace the
    * winner comes from [[KMeans.nearestIndex]] over the broadcast
    * codebooks; the error is the RAW squared distance of each winner
    * ([[KMeans.sqDist]]), summed in subspace order, then rooted and
    * rounded. Rows with a null id or embedding are dropped.
    */
  private def encodeKernel(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      cb: Codebooks): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val c2s = cb.books.map(_.map(c => KMeans.sqNorm(c, 0, c.length)))
    val bc  = spark.sparkContext.broadcast((cb, c2s))
    emb
      .select(Cols.q(idCol).cast("long").as("vec_id"), Cols.q(vecCol).cast("array<double>").as("v"))
      .where(col("vec_id").isNotNull && col("v").isNotNull)
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val (b, c2s) = bc.value
        it.map { case (id, v) =>
          val codes = new Array[Int](b.m)
          var errSq = 0.0
          var s = 0
          while (s < b.m) {
            val off  = s * b.subDim
            val best = KMeans.nearestIndex(v, off, b.subDim, b.books(s), c2s(s))
            codes(s) = best
            errSq += KMeans.sqDist(
              v, off, b.subDim, KMeans.sqNorm(v, off, b.subDim), b.books(s)(best), c2s(s)(best))
            s += 1
          }
          (id, codes, BruteForce.round6(math.sqrt(errSq)))
        }
      }
      .toDF("vec_id", "__codes", "__err")
  }

  /** ADC top-k: the query's exact distance to every codebook centroid is
    * an m×k driver-side table; each encoded vector's approximate distance
    * is the sum of its m looked-up entries (one codegen projection over
    * the code columns). Rounded before ranking, vec_id tie-break — the
    * q19 determinism contract.
    */
  def adcTopK(
      encoded: DataFrame,
      query: Array[Double],
      cb: Codebooks,
      k: Int = 5): DataFrame = {
    require(query.length == cb.m * cb.subDim, "query dims do not match codebooks")
    // expansion form (q·q − 2 q·c + c·c), each dot summed in index order —
    // the same arithmetic an SQL oracle's list_dot_product replays, so the
    // table entries are bit-identical across engines
    def dot(a: Array[Double], off: Int, b: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < b.length) { s += a(off + i) * b(i); i += 1 }
      s
    }
    val tables: Array[Array[Double]] = Array.tabulate(cb.m) { s =>
      val qq = {
        var acc = 0.0
        var i = 0
        while (i < cb.subDim) {
          acc += query(s * cb.subDim + i) * query(s * cb.subDim + i); i += 1
        }
        acc
      }
      cb.books(s).map { c =>
        var cc = 0.0
        var i = 0
        while (i < c.length) { cc += c(i) * c(i); i += 1 }
        math.max(qq - 2.0 * dot(query, s * cb.subDim, c) + cc, 0.0)
      }
    }
    val approx = (0 until cb.m)
      .map(s => element_at(typedlit(tables(s).toSeq), col(s"code$s") + 1))
      .reduce(_ + _)
    encoded
      .select(col("vec_id"), round(sqrt(greatest(approx, lit(0.0))), 6).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(k)
  }
}
