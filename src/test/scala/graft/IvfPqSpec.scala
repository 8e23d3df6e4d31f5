package graft

import graft.llm.{IvfPq, Pq}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfPqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = graft.core.Tables(spark, "/root/testdata/sf0.001").embeddings

  private def exactTopK(q: Array[Double], k: Int): Seq[Long] = {
    val sub = col("embedding").cast("array<double>")
    emb.select(
        col("vec_id"),
        sqrt(greatest(
          graft.functions.GraftFunctions.dot(sub, sub) -
            lit(2.0) * graft.functions.GraftFunctions.dot(sub, typedlit(q.toSeq)) +
            lit(q.map(x => x * x).sum),
          lit(0.0))).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(k)
      .select("vec_id").as[Long].collect().toSeq
  }

  /** The persisted index every serving spec reads: one generation. */
  private def writeIndex(dir: String): Unit = {
    val (idx, encoded) =
      IvfPq.build(emb, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    IvfPq.writeIndexGen(idx, encoded, dir)
  }

  test("kernel residual frame is bit-identical to the expression residual path") {
    // value comparison (the schemas differ only in nullability metadata:
    // kernel output is provably non-null)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Seq[Double])] =
      df.select(col("vec_id").cast("long"), col("cell").cast("int"), col("res"))
        .as[(Long, Int, Seq[Double])]
        .collect()
        .sortBy(_._1)
        .toSeq
    // the reference replays the expression argmin and a CASE + zip_with
    // residual in the spec, at 16 and 24 cells
    Seq(16, 24).foreach { nCells =>
      val centroids = graft.llm.IvfIndex.trainCentroids(emb, "vec_id", "embedding", nCells, seed = 42)
      val cents = centroids.zipWithIndex.map { case (c, i) => graft.llm.KMeans.Centroid(i.toLong, c) }
      val centroidOf = centroids.zipWithIndex.foldLeft(typedlit(Seq.empty[Double]): org.apache.spark.sql.Column) {
        case (acc, (c, i)) => when(col("cluster") === i.toLong, typedlit(c.toSeq)).otherwise(acc)
      }
      val expr = rows(ExprArgmin.kmeans(emb, "vec_id", "embedding", cents)
        .select(col("vec_id"), col("cluster").as("cell"),
          zip_with(col("__emb"), centroidOf, (a, b) => a - b).as("res")))
      val kernel = rows(IvfPq.residualKernelFrame(emb, "vec_id", "embedding", centroids))
      assert(kernel == expr, s"kernel residuals diverge from the expression path at $nCells cells")
    }
  }

  test("residual quantization reconstructs better than raw PQ at the same budget") {
    val (idx, _) = IvfPq.build(emb, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    // the residual reconstruction error IS ||v - (centroid + decode(res))||
    val cents = idx.centroids.zipWithIndex.map { case (c, i) => graft.llm.KMeans.Centroid(i.toLong, c) }
    val res = graft.llm.KMeans.assign(emb, "vec_id", "embedding", cents)
      .select(col("vec_id"),
        zip_with(col("__emb"),
          idx.centroids.zipWithIndex.foldLeft(typedlit(Seq.empty[Double]): org.apache.spark.sql.Column) {
            case (acc, (c, i)) => when(col("cluster") === i.toLong, typedlit(c.toSeq)).otherwise(acc)
          },
          (a, b) => a - b).as("res"))
      .localCheckpoint()
    val errIvf = Pq.reconstructionError(res, "vec_id", "res", idx.cb)
      .agg(avg("err")).collect()(0).getDouble(0)
    val rawCb = Pq.train(emb, "vec_id", "embedding", dims = 64, m = 4, k = 16)
    val errRaw = Pq.reconstructionError(emb, "vec_id", "embedding", rawCb)
      .agg(avg("err")).collect()(0).getDouble(0)
    info(f"mean reconstruction err: raw PQ=$errRaw%.4f residual (IVFADC)=$errIvf%.4f")
    assert(errIvf < errRaw, s"residual quantization should beat raw PQ: $errRaw -> $errIvf")
  }

  test("IVFADC search: full probe ranks by quantized distance; pruned probe keeps recall") {
    val (idx, encoded) = IvfPq.build(emb, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    val q = emb.where(col("vec_id") === 42)
      .select(col("embedding").cast("array<double>")).collect()(0).getSeq[Double](0).toArray
    val truth = exactTopK(q, 10).toSet

    val full = IvfPq.topK(idx, encoded, q, k = 10, nProbe = 16)
      .select("vec_id").as[Long].collect().toSet
    val pruned = IvfPq.topK(idx, encoded, q, k = 10, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    val rFull   = (full intersect truth).size / 10.0
    val rPruned = (pruned intersect truth).size / 10.0
    info(f"recall@10 vs exact: full-probe=$rFull%.2f nProbe=4=$rPruned%.2f")
    // random-vector regime floor (see the ANN recall section of
    // BENCH_SF1.md); gates are measured-minus-margin
    assert(rFull >= 0.2, s"full-probe IVFADC recall collapsed: $rFull")
    assert(rPruned >= 0.1, s"pruned IVFADC recall collapsed: $rPruned")
    // pruning can only remove candidates, never add beyond full probe's
    // candidate set ordering — and the query's own vector must be found
    assert(full.contains(42L) && pruned.contains(42L),
      "query vector must rank in its own top-10")
  }

  test("persisted IVFADC index reproduces the in-memory search and prunes cells") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    writeIndex(dir)
    val q = emb.where(col("vec_id") === 42)
      .select(col("embedding").cast("array<double>")).collect()(0).getSeq[Double](0).toArray
    val fromIndex = IvfPq.topKIndexed(dir, spark, q, k = 10, nProbe = 4)
    val (idx, encoded) =
      IvfPq.build(emb, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    val inMemory = IvfPq.topK(idx, encoded, q, k = 10, nProbe = 4)
    TestSpark.assertFrameEqual(fromIndex, inMemory)
    // the probe filter over the cell-partitioned layout must execute as
    // partition pruning: nProbe=4 of 16 cells -> <= 4 partitions scanned
    val res = IvfPq.topKIndexed(dir, spark, q, k = 10, nProbe = 4)
    res.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case s: QueryStageExec        => allScans(s.plan)
      case f: FileSourceScanExec    => Seq(f)
      case other =>
        other.children.flatMap(allScans) ++ other.subqueries.flatMap(allScans)
    }
    val scans = allScans(res.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("ivfpq_idx")))
    assert(scans.nonEmpty, "no index scan found in the executed plan")
    scans.foreach { s =>
      assert(s.relation.partitionSchema.nonEmpty, "cells table is not partitioned")
      val parts = s.selectedPartitions.partitionCount
      assert(parts <= 4, s"expected <= 4 pruned partitions, scan read $parts")
    }
  }

  test("loadIndex serves topK and scoreCandidates equal to the one-shot path") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_loaded").toString
    writeIndex(dir)
    val q = emb.where(col("vec_id") === 42)
      .select(col("embedding").cast("array<double>")).collect()(0).getSeq[Double](0).toArray
    val loaded = IvfPq.loadIndex(dir, spark)
    TestSpark.assertFrameEqual(
      IvfPq.topK(loaded.index, loaded.cells, q, k = 10, nProbe = 4),
      IvfPq.topKIndexed(dir, spark, q, k = 10, nProbe = 4))
    // the loaded handle also feeds the multi-query scorer; ranked, it IS topK
    val viaScorer = IvfPq
      .scoreCandidates(emb.where(col("vec_id") === 42), loaded.cells, loaded.index, nProbe = 4)
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "adc_dist")
    TestSpark.assertFrameEqual(viaScorer, IvfPq.topKIndexed(dir, spark, q, k = 10, nProbe = 4))
  }

  test("scoreCandidatesServe: identical scores, partitions pruned to the batch's probed cells") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_servebatch").toString
    writeIndex(dir)
    val loaded = IvfPq.loadIndex(dir, spark)
    // a small serve batch at nProbe 2: on i.i.d. vectors each query's
    // probes land near-uniformly, so the batch union must stay strictly
    // under nCells for pruning to be OBSERVABLE (17 queries × 4 probes
    // saturated all 16 cells)
    val nProbe  = 2
    val queries = emb.where(col("vec_id") % 101 === 0)
    // same scores as the plain scorer over the full cells relation
    TestSpark.assertFrameEqual(
      IvfPq.scoreCandidatesServe(queries, loaded, nProbe = nProbe)
        .orderBy("q_id", "vec_id"),
      IvfPq.scoreCandidates(queries, loaded.cells, loaded.index, nProbe = nProbe)
        .orderBy("q_id", "vec_id"))
    // the scan reads <= the batch's distinct probed cells — never all 16
    val res = IvfPq.scoreCandidatesServe(queries, loaded, nProbe = nProbe)
    res.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case s: QueryStageExec        => allScans(s.plan)
      case f: FileSourceScanExec    => Seq(f)
      case other =>
        other.children.flatMap(allScans) ++ other.subqueries.flatMap(allScans)
    }
    // ground-truth probe union, recomputed driver-side from the loaded
    // centroids with topK's (distance, cell-id) probe ranking
    val qVecs = queries
      .select(col("embedding").cast("array<double>")).collect().map(_.getSeq[Double](0).toArray)
    val union = qVecs.flatMap { v =>
      loaded.index.centroids.zipWithIndex
        .map { case (c, i) =>
          (c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, i)
        }
        .sortBy { case (d, i) => (d, i) }
        .take(nProbe)
        .map(_._2)
    }.toSet
    assert(union.size < 16, "fixture degenerate: batch probes every cell, pruning unobservable")
    val cellScans = allScans(res.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("ivfpq_servebatch")))
    assert(cellScans.nonEmpty, "no cells scan in the executed plan")
    cellScans.foreach { s =>
      val parts = s.selectedPartitions.partitionCount
      assert(parts <= union.size,
        s"scan read $parts partitions, batch probe union is ${union.size} of 16 cells")
    }
  }

  test("generational ingest: frozen-quantizer append, replay idempotence, cross-gen serving") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_gen").toString
    val old = emb.where(col("vec_id") % 3 =!= 0)
    val b1  = emb.where(col("vec_id") % 3 === 0)
    val (idx, encOld) = IvfPq.build(old, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    IvfPq.writeIndexGen(idx, encOld, dir, srcBatch = 0L)
    IvfPq.appendToIndex(dir, b1, "vec_id", "embedding", srcBatch = 1L)

    def content() = spark.read.parquet(s"$dir/cells")
      .select(col("vec_id").cast("long"), col("cell").cast("int"),
        col("code0"), col("code1"), col("code2"), col("code3"),
        col("src_batch").cast("long"))
      .as[(Long, Int, Int, Int, Int, Int, Long)].collect().toSeq.sorted

    // appended generation = encodeForIndex against the FROZEN index, exactly
    val afterFirst = content()
    val expectB1 = IvfPq.encodeForIndex(b1, "vec_id", "embedding", idx)
      .select(col("vec_id").cast("long"), col("cell").cast("int"),
        col("code0"), col("code1"), col("code2"), col("code3"))
      .as[(Long, Int, Int, Int, Int, Int)].collect().toSeq
      .map(r => (r._1, r._2, r._3, r._4, r._5, r._6, 1L)).sorted
    assert(afterFirst.filter(_._7 == 1L) == expectB1,
      "appended rows diverge from frozen-index encoding")
    assert(afterFirst.filter(_._7 == 0L).map(_._1).toSet ==
      old.select(col("vec_id").cast("long")).as[Long].collect().toSet,
      "generation 0 must hold exactly the bootstrap corpus")

    // replaying the batch overwrites ONLY its own partitions: content identical
    IvfPq.appendToIndex(dir, b1, "vec_id", "embedding", srcBatch = 1L)
    assert(content() == afterFirst, "batch replay must be idempotent")

    // a loaded two-generation index serves identically to a single frame
    // holding the union (same quantizer, so row-for-row the same codes)
    val loaded = IvfPq.loadIndex(dir, spark)
    val q = emb.where(col("vec_id") === 42)
      .select(col("embedding").cast("array<double>")).collect()(0).getSeq[Double](0).toArray
    val unionEnc = IvfPq.encodeForIndex(emb, "vec_id", "embedding", idx)
    TestSpark.assertFrameEqual(
      IvfPq.topK(loaded.index, loaded.cells, q, k = 10, nProbe = 4),
      IvfPq.topK(idx, unionEnc, q, k = 10, nProbe = 4))

    // probe filters still prune statically on the OUTER cell level:
    // nProbe=4 of 16 cells, each holding <= 2 generation dirs -> <= 8 leaf
    // partitions scanned, never the 16-cell corpus
    val res = IvfPq.topK(loaded.index, loaded.cells, q, k = 10, nProbe = 4)
    res.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case s: QueryStageExec        => allScans(s.plan)
      case f: FileSourceScanExec    => Seq(f)
      case other =>
        other.children.flatMap(allScans) ++ other.subqueries.flatMap(allScans)
    }
    val scans = allScans(res.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("ivfpq_gen")))
    assert(scans.nonEmpty, "no index scan found in the executed plan")
    scans.foreach { s =>
      val parts = s.selectedPartitions.partitionCount
      assert(parts <= 8, s"expected <= 4 cells x 2 generations partitions, scan read $parts")
    }
  }

  test("encodeForIndexWithError: codes match encodeForIndex, err is the decoded-residual " +
    "distance, planted drift is visible") {
    val (idx, _) = IvfPq.build(emb, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    val withErr = IvfPq.encodeForIndexWithError(emb, "vec_id", "embedding", idx)
    TestSpark.assertFrameEqual(
      withErr.select("vec_id", "cell", "code0", "code1", "code2", "code3"),
      IvfPq.encodeForIndex(emb, "vec_id", "embedding", idx))
    // err reference: rebuild ‖res − decode(codes)‖ driver-side from the
    // emitted (cell, codes) against the raw vectors
    val raw = emb.select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    withErr
      .select(col("vec_id").cast("long"), col("cell").cast("int"),
        col("code0"), col("code1"), col("code2"), col("code3"), col("err"))
      .as[(Long, Int, Int, Int, Int, Int, Double)]
      .collect()
      .foreach { case (id, cell, c0, c1, c2, c3, err) =>
        val v      = raw(id)
        val cen    = idx.centroids(cell)
        val res    = Array.tabulate(v.length)(j => v(j) - cen(j))
        val codes  = Array(c0, c1, c2, c3)
        val sub    = idx.cb.subDim
        val refErr = math.sqrt((0 until idx.cb.m).map { s =>
          val book = idx.cb.books(s)(codes(s))
          (0 until sub).map { i =>
            val d = res(s * sub + i) - book(i)
            d * d
          }.sum
        }.sum)
        assert(math.abs(err - refErr) < 1e-9, s"vec $id: err=$err ref=$refErr")
      }
    // planted drift: a uniformly shifted batch reconstructs worse in the
    // frozen geometry — the retrain trigger the drift report watches
    def meanErr(df: org.apache.spark.sql.DataFrame): Double =
      IvfPq.encodeForIndexWithError(df, "vec_id", "embedding", idx)
        .agg(avg(col("err"))).collect()(0).getDouble(0)
    val shifted = emb.select(
      col("vec_id"),
      transform(col("embedding").cast("array<double>"), x => x + lit(0.75)).as("embedding"))
    assert(meanErr(shifted) > meanErr(emb) * 1.05,
      "shifted batch must reconstruct measurably worse than the training distribution")
  }

  test("appendToIndex refuses the single-generation layout with a rebuild message") {
    // a single-generation cells table (no src_batch level), written by
    // hand under a valid meta sidecar
    val src = java.nio.file.Files.createTempDirectory("ivfpq_v1guard_src").toString
    writeIndex(src)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_v1guard").toString
    writeIndex(dir)
    spark.read.parquet(s"$src/cells").drop(graft.core.Generations.Col)
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/cells")
    val e = intercept[IllegalArgumentException] {
      IvfPq.appendToIndex(dir, emb.limit(5), "vec_id", "embedding", srcBatch = 1L)
    }
    assert(e.getMessage.contains("writeIndexGen"), s"guard must name the rebuild path: ${e.getMessage}")
  }

  test("planted drift: retrainDue fires, retrainAndRebuild recovers, stale handle fails fast") {
    val dir  = java.nio.file.Files.createTempDirectory("ivfpq_retrain").toString
    val base = emb
    val (idx0, enc0) =
      IvfPq.build(base, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    IvfPq.writeIndexGen(idx0, enc0, dir, srcBatch = 0L)
    // the drifted generation: uniformly shifted copies under fresh ids
    val drifted = base.select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding").cast("array<double>"), x => x + lit(0.75)).as("embedding"))
    IvfPq.appendToIndex(dir, drifted, "vec_id", "embedding", srcBatch = 1L)

    // drift report in the FROZEN geometry (the q136 shape) → trigger fires
    def report(df: org.apache.spark.sql.DataFrame, gen: Long) = IvfPq
      .encodeForIndexWithError(df, "vec_id", "embedding", idx0)
      .agg(avg(col("err")).as("mean_err"))
      .select(lit(gen).as("src_batch"), col("mean_err"))
    val drifting = report(base, 0L).unionByName(report(drifted, 1L))
    assert(IvfPq.retrainDue(drifting, tau = 1.05), "shifted generation must trip the trigger")
    assert(!IvfPq.retrainDue(report(base, 0L).unionByName(report(base, 1L)), tau = 1.05),
      "a same-distribution generation must NOT trip the trigger")

    val stale = IvfPq.loadIndex(dir, spark)
    assert(IvfPq.scoreCandidatesServe(base.limit(2), stale, nProbe = 2).count() > 0,
      "pre-rebuild the handle serves normally")

    val errBefore = IvfPq.encodeForIndexWithError(drifted, "vec_id", "embedding", idx0)
      .agg(avg(col("err"))).collect()(0).getDouble(0)
    val corpus = base.select(col("vec_id"), col("embedding").cast("array<double>"))
      .unionByName(drifted)
    // retrain ON the recent (drifted) batch, re-encode the whole corpus
    val newIdx = IvfPq.retrainAndRebuild(dir, corpus, "vec_id", "embedding", dims = 64,
      nCells = 16, m = 4, k = 16, trainOn = drifted)
    val errAfter = IvfPq.encodeForIndexWithError(drifted, "vec_id", "embedding", newIdx)
      .agg(avg(col("err"))).collect()(0).getDouble(0)
    assert(errAfter < errBefore * 0.9,
      f"reconstruction error must recover after retrain: $errAfter%.4f vs $errBefore%.4f")

    // the pre-rebuild handle FAILS FAST (geometry stamp) instead of
    // decoding rebuilt codes with stale codebooks
    val e = intercept[IllegalArgumentException] {
      IvfPq.scoreCandidatesServe(base.limit(2), stale, nProbe = 2).count()
    }
    assert(e.getMessage.contains("reload"), s"stale guard must say to reload: ${e.getMessage}")
    // …and so does an ingest loop still holding the pre-rebuild quantizer
    val e2 = intercept[IllegalArgumentException] {
      IvfPq.appendToIndexLoaded(dir, idx0, drifted.limit(3), "vec_id", "embedding", srcBatch = 5L)
    }
    assert(e2.getMessage.contains("reload"), s"ingest guard must say to reload: ${e2.getMessage}")

    // a fresh load serves the rebuilt single-generation index
    val fresh = IvfPq.loadIndex(dir, spark)
    assert(fresh.geomId == IvfPq.geomId(newIdx))
    assert(fresh.cells.select(col("src_batch").cast("long")).distinct()
      .as[Long].collect().toSeq == Seq(0L),
      "rebuild must leave a single generation (static overwrite)")
    assert(fresh.cells.count() == corpus.count())
    assert(IvfPq.scoreCandidatesServe(base.limit(2), fresh, nProbe = 2).count() > 0)
    // ingest resumes against a fresh generation space
    assert(graft.core.Generations.maxGen(spark, s"$dir/cells") == 0L)
  }

  test("scoreCandidatesServe fails fast past the probe-row bound, naming the distributed path") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_serveguard").toString
    writeIndex(dir)
    val loaded = IvfPq.loadIndex(dir, spark)
    val e = intercept[IllegalArgumentException] {
      // the full corpus as a "serve batch" must trip the guard, not OOM
      IvfPq.scoreCandidatesServe(emb, loaded, nProbe = 4, maxProbeRows = 8)
    }
    assert(e.getMessage.contains("scoreCandidates"), s"guard must name the scale path: ${e.getMessage}")
    // at the default bound a real serve batch is untouched
    val ok = IvfPq.scoreCandidatesServe(emb.limit(3), loaded, nProbe = 2)
    assert(ok.count() > 0)
  }

  test("Generations.maxGen is -1 over an empty generational cells table (no NPE)") {
    // an index whose cells relation carries the src_batch column but zero
    // rows: the max aggregate is null, which the fresh-checkpoint guard
    // must read as "no generations yet" rather than NPE (ADVICE r13)
    val dir    = java.nio.file.Files.createTempDirectory("ivfpq_emptygen").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cell", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("src_batch", org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.parquet(s"$dir/cells")
    assert(graft.core.Generations.maxGen(spark, s"$dir/cells") == -1L)
  }

  test("Scratch registers ONE shutdown hook; repeated tempDir calls only queue paths") {
    val before = graft.core.Scratch.pendingCount
    val d1 = graft.core.Scratch.tempDir("scratch_spec")
    val d2 = graft.core.Scratch.tempDir("scratch_spec")
    assert(d1 != d2 && java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d2)))
    assert(graft.core.Scratch.pendingCount == before + 2,
      "each call must queue its path for the SHARED exit hook")
    // a second hook registration with the same Thread identity would throw
    // IllegalArgumentException at addShutdownHook time; the lazy guard
    // means the calls above simply must not have thrown
  }

  test("build and search are deterministic") {
    val (i1, e1) = IvfPq.build(emb, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    val (i2, e2) = IvfPq.build(emb, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    assert(i1.centroids.flatten.toSeq == i2.centroids.flatten.toSeq)
    val q = emb.where(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>")).collect()(0).getSeq[Double](0).toArray
    val a = IvfPq.topK(i1, e1, q, k = 5).as[(Long, Double)].collect().toSeq
    val b = IvfPq.topK(i2, e2, q, k = 5).as[(Long, Double)].collect().toSeq
    assert(a == b, s"search not deterministic: $a vs $b")
  }
}
