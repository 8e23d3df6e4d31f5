package graft

import graft.llm.{AnnBuckets, BruteForce, EmbeddingStats, IvfIndex, RetrievalEval, SemDedup}
import graft.tools.GenClusteredEmb
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall/overlap floors for the production Auto-sized ANN paths on
  * CLUSTERED geometry — the gate VERDICT r12 item 5 asked for: the
  * clustered fixture's numbers (BENCH_SF1.md recall table) previously
  * lived only in bench prose, so an Auto-path recall regression could
  * ship with `sbt test` green. This spec regenerates the fixture's
  * geometry seed-deterministically in-memory ([[GenClusteredEmb
  * .clustered]] — no committed blob) at n = 4 096 and asserts floors
  * against EXACT ground truth for every Auto-path family: q41 (LSH
  * auto bits + auto tables), q50 (IVF auto), q120/q130 (approx miners,
  * auto tables), q132 (SemDedup approx, auto tables).
  *
  * Floors are set ~0.10 under the measured value at this seed (values
  * in each assert message) — tight enough that a sizing regression
  * (autoBits/autoTables drift, bucket-hash bug, candidate-stage loss)
  * fails the suite, loose enough that they are not flaky: every stage
  * is deterministic (seeded hyperplanes, seeded Lloyd sample, seeded
  * noise), so run-to-run variance is zero; the slack covers only
  * intentional re-seeding.
  */
class ClusteredRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val n = 4096L

  // one shared fixture; localCheckpoint so the random projection is
  // evaluated once, not per assertion
  private lazy val emb: DataFrame =
    GenClusteredEmb.clustered(spark, n, nClusters = 50, dims = 64, sigma = 0.4, seed = 2026L)
      .localCheckpoint(true)

  private lazy val exactTop: Set[(Long, Long)] = BruteForce
    .topK(spark, emb, "vec_id", "embedding", k = 5)
    .select(col("a_id").cast("long"), col("b_id").cast("long"))
    .collect()
    .map(r => (r.getLong(0), r.getLong(1)))
    .toSet

  private def recallOf(df: DataFrame): Double = {
    val approx = df
      .select(col("a_id").cast("long"), col("b_id").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    (exactTop intersect approx).size.toDouble / exactTop.size
  }

  test("LSH Auto (autoBits + autoTables) holds recall@5 on clustered geometry") {
    val r = recallOf(
      AnnBuckets.approxTopK(emb, "vec_id", "embedding", k = 5,
        nBits = AnnBuckets.Auto, nTables = AnnBuckets.Auto, nProbes = 0))
    assert(r >= 0.80, f"LSH Auto recall@5 $r%.3f under floor 0.80 (measured 0.915 at seed 2026)")
  }

  test("autoTables beats the fixed default tables at the same auto bits") {
    val fixed = recallOf(
      AnnBuckets.approxTopK(emb, "vec_id", "embedding", k = 5,
        nBits = AnnBuckets.Auto, nTables = 2, nProbes = 0))
    val auto = recallOf(
      AnnBuckets.approxTopK(emb, "vec_id", "embedding", k = 5,
        nBits = AnnBuckets.Auto, nTables = AnnBuckets.Auto, nProbes = 0))
    assert(auto >= fixed,
      f"autoTables recall $auto%.3f must not fall under the fixed-2-tables recall $fixed%.3f")
  }

  test("probed Auto sizing holds plain-Auto recall at a fraction of the tables") {
    val nT  = AnnBuckets.autoTables(n)
    val nTp = AnnBuckets.autoTablesProbed(n, nProbes = 2)
    assert(nTp < nT, s"probe budget must shrink the table count: $nTp vs $nT")
    val plainAuto = recallOf(
      AnnBuckets.approxTopK(emb, "vec_id", "embedding", k = 5,
        nBits = AnnBuckets.Auto, nTables = AnnBuckets.Auto, nProbes = 0))
    val probedAuto = recallOf(
      AnnBuckets.approxTopK(emb, "vec_id", "embedding", k = 5,
        nBits = AnnBuckets.Auto, nTables = AnnBuckets.Auto, nProbes = 2))
    assert(probedAuto >= plainAuto - 0.02,
      f"probed Auto ($nTp tables x 2 probes) recall $probedAuto%.3f must hold the plain Auto " +
        f"($nT tables) recall $plainAuto%.3f within 0.02")
  }

  test("multi-probe buys recall: 2 tables x 3 probes reaches 4 plain tables at half the index") {
    def topk(nt: Int, np: Int): Double = recallOf(
      AnnBuckets.approxTopK(emb, "vec_id", "embedding", k = 5,
        nBits = AnnBuckets.Auto, nTables = nt, nProbes = np))
    val plain2 = topk(2, 0)
    val plain4 = topk(4, 0)
    val mp23   = topk(2, 3)
    assert(mp23 > plain2,
      f"3 probes must strictly add recall over the same 2 plain tables: $mp23%.3f vs $plain2%.3f")
    assert(mp23 >= plain4 - 0.02,
      f"2 tables x 3 probes recall $mp23%.3f must reach 4 plain tables ($plain4%.3f) " +
        "within 0.02 — the multi-probe premise (recall from probes, index cost from tables)")
  }

  // ── r14 default-arguments gate (VERDICT r13 item 1) ─────────────────
  // The SHIPPED defaults (nTables = Auto, nProbes = 2 — probed-auto) must
  // themselves hold the Auto floors: a default regression (someone resets
  // a consumer to fixed tables, or the probed sizing drifts) fails the
  // suite even if every explicitly-sized path is still green.
  test("DEFAULT arguments hold the Auto recall floor (approxTopK, no sizing args)") {
    val nTp = AnnBuckets.autoTablesProbed(n, nProbes = 2)
    val r   = recallOf(AnnBuckets.approxTopK(emb, "vec_id", "embedding", k = 5))
    assert(r >= 0.80,
      f"default-args recall@5 $r%.3f under floor 0.80 ($nTp probed-auto tables x 2 probes; " +
        "measured 0.921 at seed 2026) — the shipped default must be the measured-best point")
  }

  test("DEFAULT-sized persisted index holds the recall floor (writeBuckets → approxTopKIndexed)") {
    // the out-of-box index path: writeBucketsGen with ALL defaults (Auto
    // tables sized under the recorded probe budget) served through
    // approxTopKIndexed, which applies that budget per read. Directed
    // (query → corpus) reads have no symmetrize step, so the floor is
    // the in-memory one
    val idx = java.nio.file.Files.createTempDirectory("lsh_idx_default").toString
    AnnBuckets.writeBucketsGen(emb, "vec_id", "embedding", idx)
    val r = recallOf(AnnBuckets.approxTopKIndexed(idx, emb, "vec_id", "embedding", k = 5))
    assert(r >= 0.80,
      f"default-sized persisted-index recall@5 $r%.3f under floor 0.80 — the shipped index " +
        "defaults must hold the Auto floor end-to-end through the persisted layout")
  }

  test("DEFAULT arguments hold the miner overlap floor (hardNegativesApprox)") {
    def pairs(df: DataFrame): Set[(Long, Long)] = df
      .select(col("anchor").cast("long"), col("neighbor").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(
      EmbeddingStats.hardNegatives(emb, "vec_id", "cluster", "embedding", tau = 0.45, k = 3))
    assert(exact.nonEmpty, "exact miner returned no pairs — the gate would be vacuous")
    val approx = pairs(
      EmbeddingStats.hardNegativesApprox(emb, "vec_id", "cluster", "embedding", tau = 0.45, k = 3))
    val overlap = (exact intersect approx).size.toDouble / exact.size
    assert(overlap >= 0.30,
      f"default-args miner overlap $overlap%.3f under floor 0.30 — probed-auto default regressed")
  }

  test("DEFAULT arguments hold the triplet overlap floor (trainingTripletsApprox)") {
    def triplets(df: DataFrame): Set[(Long, Long, Long)] = df
      .select(col("anchor").cast("long"), col("pos_id").cast("long"), col("neg_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = triplets(
      EmbeddingStats.trainingTriplets(emb, "vec_id", "cluster", "embedding", tau = 0.45))
    assert(exact.nonEmpty, "exact triplet miner returned no rows — the gate would be vacuous")
    val approx = triplets(
      EmbeddingStats.trainingTripletsApprox(emb, "vec_id", "cluster", "embedding", tau = 0.45))
    val overlap = (exact intersect approx).size.toDouble / exact.size
    assert(overlap >= 0.28,
      f"default-args triplet overlap $overlap%.3f under floor 0.28 — probed-auto default regressed")
  }

  test("DEFAULT arguments hold the SemDedup agreement floor (keepFlagsApprox)") {
    def kept(df: DataFrame): Set[Long] = df
      .where(col("keep"))
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    val exact  = kept(SemDedup.keepFlags(emb, "vec_id", "embedding", tau = 0.8))
    val approx = kept(SemDedup.keepFlagsApprox(emb, "vec_id", "embedding", tau = 0.8))
    val agree = (n - ((exact diff approx) ++ (approx diff exact)).size).toDouble / n
    assert(agree >= 0.90,
      f"default-args keep agreement $agree%.3f under floor 0.90 — probed-auto default regressed")
  }

  // ── r15 rebuild loop (VERDICT r14 item 1) ───────────────────────────
  // The planted-growth case: a default-sized bootstrap outgrown 8× by
  // appended generations must trip rebuildDue, and rebuildBucketsGen must
  // restore BOTH the occupancy target and the default-args recall floor —
  // re-bucketing only from the embeddings the index already stores.
  test("LSH rebuild loop: planted growth fires rebuildDue, rebuild restores occupancy + recall") {
    import AnnBuckets._
    val idx  = java.nio.file.Files.createTempDirectory("lsh_rebuild").toString
    val boot = emb.where(col("vec_id") < 512)
    writeBucketsGen(boot, "vec_id", "embedding", idx) // shipped defaults (probed-auto)
    val m0 = readBucketsMeta(idx, spark)
    appendToBuckets(idx, emb.where(col("vec_id") >= 512 && col("vec_id") < 2048),
      "vec_id", "embedding", srcBatch = 1L)
    appendToBuckets(idx, emb.where(col("vec_id") >= 2048), "vec_id", "embedding", srcBatch = 2L)
    // the geometry marker must survive dynamic-overwrite appends — it is
    // what the per-batch staleness check reads
    assert(readGeomMarker(s"$idx/buckets", spark).contains(m0.geomId),
      "appends must not clobber the buckets geometry marker")
    // 8× the bootstrap corpus at bootstrap sizing → mean occupancy ~2×
    // the 128-row target → the monitor → trigger fires
    assert(rebuildDue(bucketOccupancy(idx, spark), targetBucketRows = 128, slack = 1.5),
      "ballooned occupancy must trip rebuildDue")

    val m1 = rebuildBucketsGen(idx, spark)
    assert(m1.nBits > m0.nBits, s"rebuild must re-size bits up: ${m1.nBits} vs ${m0.nBits}")
    assert(m1.epoch == m0.epoch + 1 && m1.geomId != m0.geomId,
      "every rebuild must be observable through the stamp, even at unchanged sizing")
    assert(!rebuildDue(bucketOccupancy(idx, spark), targetBucketRows = 128, slack = 1.5),
      "rebuild must restore the occupancy target")
    // generations collapsed to a fresh batch-0
    val gens = spark.read.parquet(s"$idx/buckets")
      .select(col("src_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(gens == Seq(0L), s"rebuild must collapse generations, got $gens")

    // probe reads serve CONSISTENTLY across the rebuild: the rebuilt
    // index is indistinguishable from a fresh default bootstrap of the
    // full corpus (same auto sizing, same seed family)
    val fresh = java.nio.file.Files.createTempDirectory("lsh_rebuild_fresh").toString
    writeBucketsGen(emb, "vec_id", "embedding", fresh)
    TestSpark.assertFrameEqual(
      approxTopKIndexed(idx, emb, "vec_id", "embedding", k = 5),
      approxTopKIndexed(fresh, emb, "vec_id", "embedding", k = 5))
    // …and holds the default-args recall floor the bootstrap sizing lost
    val r = recallOf(approxTopKIndexed(idx, emb, "vec_id", "embedding", k = 5))
    assert(r >= 0.80,
      f"post-rebuild recall@5 $r%.3f under floor 0.80 — the rebuild must restore the " +
        "default-args operating point")

    // an ingest loop still holding the PRE-rebuild meta fails fast per
    // batch (the rebuild collapsed its generation space)
    val e = intercept[IllegalArgumentException] {
      appendToBucketsLoaded(idx, m0, emb.limit(3), "vec_id", "embedding", srcBatch = 3L)
    }
    assert(e.getMessage.contains("rebuilt"), s"stale-meta guard must name the rebuild: ${e.getMessage}")
    // …and ingest resumes under the new meta in a fresh generation space
    appendToBucketsLoaded(idx, m1,
      emb.limit(3).select((col("vec_id") + 100000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", srcBatch = 1L)
    assert(spark.read.parquet(s"$idx/buckets")
      .where(col("src_batch") === 1L).count() == 3L * m1.nTables)

    // a mid-rebuild MIXED state (meta and buckets stamps disagree) fails
    // reads fast instead of bucketing queries with the wrong geometry
    // (written through the Hadoop FS so the local checksum stays valid)
    writeGeomMarker(s"$idx/buckets", m1.copy(geomId = 12345L), spark)
    val e2 = intercept[IllegalArgumentException] {
      approxTopKIndexed(idx, emb.limit(1), "vec_id", "embedding", k = 3).collect()
    }
    assert(e2.getMessage.contains("mid-rebuild"), e2.getMessage)
  }

  test("IVF Auto holds recall@5 on clustered geometry") {
    val r = recallOf(IvfIndex.approxTopK(emb, "vec_id", "embedding", k = 5))
    assert(r >= 0.90, f"IVF Auto recall@5 $r%.3f under floor 0.90 (measured 1.000 at seed 2026)")
  }

  // ── r15: the retrieval-eval op agrees with this suite's own math ────
  // RetrievalEval.report is method-agnostic (any (q_id, doc_id, rn)
  // frame); fed the default-args ANN results against the exact top-1
  // gold, its recall@5 must EQUAL a driver-side recomputation from the
  // same sets — the q142 aggregation replayed independently.
  test("RetrievalEval over ANN results matches the driver-side recall computation") {
    import org.apache.spark.sql.functions.col
    val gold = BruteForce
      .topK(spark, emb, "vec_id", "embedding", k = 1)
      .select(col("a_id").cast("long").as("q_id"), col("b_id").cast("long").as("gold_id"))
    val ann = AnnBuckets.approxTopK(emb, "vec_id", "embedding", k = 5)
      .select(col("a_id").as("q_id"), col("b_id").as("doc_id"), col("rn"))
    val rep = RetrievalEval.report(ann, gold, Seq(1, 5))
      .collect().map(r => r.getAs[Int]("k") ->
        (r.getAs[Double]("recall"), r.getAs[Double]("mrr"))).toMap
    // driver-side replay from the same collected sets
    val goldMap = gold.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ranks = ann.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"), r.getAs[Int]("rn")))
      .groupBy(_._1)
    def expected(k: Int): (Double, Double) = {
      val hits = goldMap.toSeq.map { case (q, g) =>
        ranks.getOrElse(q, Array.empty).find(t => t._2 == g && t._3 <= k).map(_._3)
      }
      val recall = hits.count(_.isDefined).toDouble / goldMap.size
      val mrr = hits.map(_.fold(0.0)(rk => math.rint(1e6 / rk) / 1e6)).sum / goldMap.size
      (math.rint(recall * 1e6) / 1e6, math.rint(mrr * 1e6) / 1e6)
    }
    Seq(1, 5).foreach { k =>
      val (er, em) = expected(k)
      assert(rep(k)._1 == er, s"recall@$k: op ${rep(k)._1} vs driver $er")
      assert(math.abs(rep(k)._2 - em) < 2e-6, s"mrr@$k: op ${rep(k)._2} vs driver $em")
    }
    // and the numbers are non-vacuous on this geometry
    assert(rep(5)._1 >= 0.80, s"ANN recall@5 through the eval op: ${rep(5)._1}")
  }

  // miner tau is 0.45 here, not the bench fixture's 0.6: with 50 clusters
  // the max cross-cluster cosine sits near 0.5 (center cosines ~N(0, 1/64)
  // over only 1 225 pairs), so tau 0.6 yields an EMPTY exact miner output
  // and a vacuous overlap. At 0.45 the exact miner elects ~950 pairs —
  // enough mass for the overlap to mean something. The lower overlap
  // floors (vs the bench fixture's 0.65–0.78) are honest physics, not a
  // loose gate: these negatives live at cosine 0.45–0.55 where the
  // per-table collision probability is far below the near-dup regime the
  // autoTables default targets.
  test("approx hard-negative miner (auto tables) overlaps the exact miner") {
    def pairs(df: DataFrame): Set[(Long, Long)] = df
      .select(col("anchor").cast("long"), col("neighbor").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(
      EmbeddingStats.hardNegatives(emb, "vec_id", "cluster", "embedding", tau = 0.45, k = 3))
    assert(exact.nonEmpty, "exact miner returned no pairs — the gate would be vacuous")
    val approx = pairs(
      EmbeddingStats.hardNegativesApprox(emb, "vec_id", "cluster", "embedding", tau = 0.45,
        k = 3, nTables = AnnBuckets.Auto, nProbes = 0))
    val overlap = (exact intersect approx).size.toDouble / exact.size
    assert(overlap >= 0.30,
      f"q120 auto-tables overlap $overlap%.3f under floor 0.30 (measured 0.382 at seed 2026)")
  }

  test("probed miner (4 t x 2 p) reaches the auto-tables overlap at a smaller index") {
    def pairs(df: DataFrame): Set[(Long, Long)] = df
      .select(col("anchor").cast("long"), col("neighbor").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(
      EmbeddingStats.hardNegatives(emb, "vec_id", "cluster", "embedding", tau = 0.45, k = 3))
    assert(exact.nonEmpty, "exact miner returned no pairs — the gate would be vacuous")
    def overlapOf(nt: Int, np: Int): Double = {
      val approx = pairs(
        EmbeddingStats.hardNegativesApprox(emb, "vec_id", "cluster", "embedding", tau = 0.45,
          k = 3, nTables = nt, nProbes = np))
      (exact intersect approx).size.toDouble / exact.size
    }
    val auto = overlapOf(AnnBuckets.Auto, 0)
    val mp   = overlapOf(4, 2)
    assert(mp >= auto - 0.02,
      f"4 t x 2 p miner overlap $mp%.3f must reach the auto-tables overlap ($auto%.3f) " +
        "within 0.02 — probes must substitute for tables in the consumer paths too")
  }

  test("approx triplet miner (auto tables) overlaps the exact miner") {
    def triplets(df: DataFrame): Set[(Long, Long, Long)] = df
      .select(col("anchor").cast("long"), col("pos_id").cast("long"), col("neg_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = triplets(
      EmbeddingStats.trainingTriplets(emb, "vec_id", "cluster", "embedding", tau = 0.45))
    assert(exact.nonEmpty, "exact triplet miner returned no rows — the gate would be vacuous")
    val approx = triplets(
      EmbeddingStats.trainingTripletsApprox(emb, "vec_id", "cluster", "embedding", tau = 0.45,
        nTables = AnnBuckets.Auto, nProbes = 0))
    val overlap = (exact intersect approx).size.toDouble / exact.size
    assert(overlap >= 0.28,
      f"q130 auto-tables overlap $overlap%.3f under floor 0.28 (measured 0.358 at seed 2026)")
  }

  test("SemDedup approx (auto tables) agrees with the exact keep decisions") {
    def kept(df: DataFrame): Set[Long] = df
      .where(col("keep"))
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    val exact  = kept(SemDedup.keepFlags(emb, "vec_id", "embedding", tau = 0.8))
    val approx = kept(SemDedup.keepFlagsApprox(emb, "vec_id", "embedding", tau = 0.8,
      nTables = AnnBuckets.Auto, nProbes = 0))
    val agree = (n - ((exact diff approx) ++ (approx diff exact)).size).toDouble / n
    assert(agree >= 0.90,
      f"q132 auto-tables keep agreement $agree%.3f under floor 0.90 (measured 0.973 at seed 2026)")
  }
}
