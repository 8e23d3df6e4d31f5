package graft

import java.nio.file.Files

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-posture assertions: partition pruning reaches the scan, and no
  * declared query depends on broadcast joins to produce correct results
  * (AQE must be free to fall back to sort-merge at cluster scale).
  */
class ScalePostureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  test("year-partitioned writes prune partitions in the scan") {
    val out = Files.createTempDirectory("li_part").toString
    val li  = Tables(spark, dir).lineitem
    li.withColumn("ship_year", year(col("l_shipdate")))
      .write
      .partitionBy("ship_year")
      .mode("overwrite")
      .parquet(out)

    val pruned = spark.read
      .parquet(out)
      .where(col("ship_year") === 1996)
      .select(sum("l_quantity"))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), "no partition filters in plan")
    assert(
      scan.contains("ship_year") && !scan.contains("PartitionFilters: []"),
      s"partition filter not applied:\n${scan.take(800)}")
    // and the answer matches the unpartitioned filter
    val want = li
      .where(year(col("l_shipdate")) === 1996)
      .agg(sum("l_quantity"))
      .collect()(0)
      .getDouble(0)
    assert(pruned.collect()(0).getDouble(0) == want)
  }

  test("LSH rebuild's corpus read prunes to the table-0 partitions") {
    import graft.llm.AnnBuckets
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val emb = Tables(spark, dir).embeddings
    val idx = Files.createTempDirectory("lsh_prune_rebuild").toString
    AnnBuckets.writeBucketsGen(emb, "vec_id", "embedding", idx, nBits = 4, nTables = 3,
      nProbes = 0)
    // the exact read rebuildBucketsGen issues: every vector once, from
    // table 0 only — at 100 TB this is 1/nTables of the index, and it
    // must execute as STATIC partition pruning, not a full scan + filter
    val corpus = spark.read.parquet(s"$idx/buckets")
      .where(col("tb") < lit(1 << 4))
      .select(col("vec_id"), col("emb"))
    assert(corpus.count() == emb.count(), "table 0 must hold every vector exactly once")
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case s: QueryStageExec        => allScans(s.plan)
      case f: FileSourceScanExec    => Seq(f)
      case other                    => other.children.flatMap(allScans) ++ other.subqueries.flatMap(allScans)
    }
    val total = spark.read.parquet(s"$idx/buckets")
      .select("tb").distinct().count() // occupied (tb, src_batch) leaves overall
    val scanned = allScans(corpus.queryExecution.executedPlan)
      .map(_.selectedPartitions.partitionCount).sum
    assert(scanned <= 16, // ≤ 2^4 table-0 buckets of the 3 · 2^4 total
      s"rebuild corpus read must prune to table 0: scanned $scanned of ~${3 * total / 3} keys")
  }

  test("factorWrangler's distinct-set discovery is exactly ONE Spark job") {
    import graft.core.GraftFrame
    // the r3 regression was a second blocking aggregate job (the
    // approx_count_distinct pre-gate) in every factorWrangler call; pin the
    // single-job shape so it can't silently come back
    val df = Tables(spark, dir).lineitem
      .select("l_returnflag", "l_linestatus", "l_quantity")
    df.count() // warm the scan so the job group sees only factorWrangler's jobs
    // AQE splits one action into one job per query stage; disable it so
    // job count == blocking-action count (the thing the regression doubled)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setJobGroup("fw-single-job", "factorWrangler job count")
    try graft.clean.CleanData.factorWrangler(GraftFrame(df), strToCat = true, dummyToBool = true)
    finally {
      spark.sparkContext.clearJobGroup()
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("fw-single-job")
    assert(
      jobs.length == 1,
      s"factorWrangler ran ${jobs.length} jobs; the gate+distinct-set pass must be one")
  }

  test("CleanData is ONE job, and clean → encode → fi still one, on the pipeline's lineitem columns") {
    import graft.clean.CleanData
    import graft.encode.EncodeData
    import graft.na.WrangleNa
    // the benchmark's prep_pipeline columns, with nulls in every regressor
    // so fi needs a mean, a median and the dummies' modes; no string column
    // has more than maxCategories values, so no fallback job is due
    val li = Tables(spark, dir).lineitem
    val df = li.select(
      when(col("l_orderkey") % 17 === 0, lit(null)).otherwise(col("l_extendedprice")).as("l_extendedprice"),
      when(col("l_orderkey") % 13 === 0, lit(null)).otherwise(col("l_quantity")).as("l_quantity"),
      when(col("l_orderkey") % 11 === 0, lit(null)).otherwise(col("l_discount")).as("l_discount"),
      when(col("l_orderkey") % 7 === 0, lit(null)).otherwise(col("l_tax")).as("l_tax"),
      when(col("l_orderkey") % 5 === 0, lit(null)).otherwise(col("l_returnflag")).as("l_returnflag"),
      col("l_linestatus"))
    df.count() // warm the scan so the job groups see only the stages' jobs
    def jobs(group: String)(f: => Unit): Int = {
      // AQE splits one action into one job per query stage; disable it so
      // job count == blocking-action count
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.sparkContext.setJobGroup(group, "stage job count")
      try f
      finally {
        spark.sparkContext.clearJobGroup()
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    val clean = jobs("clean-one-job")(CleanData(df))
    assert(clean == 1, s"CleanData ran $clean jobs; its one profile must answer every decision")
    val chain = jobs("clean-encode-fi")(WrangleNa.fi(EncodeData(CleanData(df))))
    assert(chain == 1, s"clean → encode → fi ran $chain jobs; fi must read the profile, not aggregate")
  }

  test("decontamination plans a broadcast semi-join for a small eval set, unhinted") {
    // Decontamination carries no broadcast() hint on purpose (a hint is
    // never demoted — an oversized eval set would OOM instead of falling
    // back); this pins that the PLANNER still picks the broadcast from
    // size estimates when eval is genuinely small
    val docs = Tables(spark, dir).documents
    val scored = graft.llm.Decontamination.score(
      docs.where(col("doc_id") % 50 =!= 0),
      docs.where(col("doc_id") % 50 === 0),
      "doc_id", "text", n = 3)
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"eval shingle set not broadcast:\n${plan.take(1200)}")
  }

  test("q02 pre-aggregates lineitem below the joins and plans no distinct-Expand") {
    // the r4 weak plan shuffled full lineitem through two joins and then ran
    // countDistinct (an Expand over the widest intermediate); pin the scale
    // shape: lineitem reduced per l_orderkey BEFORE any join, plain count after
    val df   = SparkEntry.queries("q02_mktsegment_revenue")(spark, dir)
    // use sparkPlan: executedPlan is an AdaptiveSparkPlanExec leaf under AQE,
    // which collect/exists cannot descend into
    val plan = df.queryExecution.sparkPlan.toString
    assert(!plan.contains("Expand"), s"distinct-Expand is back in q02:\n${plan.take(1200)}")
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val preJoinAgg = df.queryExecution.sparkPlan.collect {
      case j: BaseJoinExec => j.collectLeaves().nonEmpty && j.exists {
        case a: BaseAggregateExec => a.groupingExpressions.exists(_.toString.contains("l_orderkey"))
        case _ => false
      }
    }
    assert(preJoinAgg.exists(identity),
      "no per-l_orderkey aggregate below a join — lineitem is joined unreduced")
  }

  test("capped n-gram Jaccard builds its per-doc-size joins from the cnt side") {
    // the sf1 driver-OOM regression: Catalyst's estimate through the
    // Generate→agg chain undershoots the Σ df²-row pair-count side, so an
    // unhinted plan broadcast THAT; pin the explicit hint — both joins
    // must be broadcast-built from the doc-count-sized cnt subtree (whose
    // lineage contains the collect_list inverted index), never the
    // pair-count side (plain count over a_id/b_id)
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = graft.llm.Dedup.ngramJaccardPairs(
      Tables(spark, dir).documents, "doc_id", "text")
    val joins = df.queryExecution.sparkPlan.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.size == 2, s"expected 2 broadcast joins, got ${joins.size}")
    joins.foreach { j =>
      val build = j.buildSide.toString match {
        case "BuildRight" => j.right
        case _            => j.left
      }
      assert(
        build.toString.contains("collect_list"),
        s"broadcast build side is not the cnt subtree:\n${build.toString.take(600)}")
    }
  }

  test("unigramLogProb broadcasts the vocab side, never the token stream") {
    // unhinted, Catalyst costs the exploded token stream by its (tiny,
    // compressed) parquet scan and builds THAT (observed BuildLeft at
    // sf1) — broadcast of a corpus-sized side, the 100 TB failure mode.
    // The explicit hint pins the build to the vocab subtree, whose
    // lineage contains the log() projection.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = graft.llm.Vocab.unigramLogProb(
      Tables(spark, dir).documents, "doc_id", "text")
    val joins = df.queryExecution.sparkPlan.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.size == 1, s"expected 1 broadcast hash join, got ${joins.size}")
    val j = joins.head
    val build = j.buildSide.toString match {
      case "BuildRight" => j.right
      case _            => j.left
    }
    assert(
      build.toString.contains("ln("),
      s"broadcast build side is not the vocab/log-prob subtree:\n${build.toString.take(600)}")
  }

  test("join-heavy queries survive with broadcast disabled (sort-merge fallback)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val checks = Seq("q02_mktsegment_revenue", "q06_region_sales", "q14_events_asof_order")
    try {
      val baseline = checks.map(n =>
        n -> SparkEntry.queries(n)(spark, dir).collect().map(_.toString).sorted.toSeq)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      baseline.foreach { case (n, want) =>
        val got = SparkEntry.queries(n)(spark, dir).collect().map(_.toString).sorted.toSeq
        assert(got == want, s"$n diverges without broadcast")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q79 gopher projection prunes unused document columns at the scan") {
    val plan = SparkEntry
      .queries("q79_gopher_quality")(spark, dir)
      .queryExecution
      .executedPlan
      .toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text"), s"text not read:\n$readSchema")
    assert(
      !readSchema.contains("source") && !readSchema.contains("lang"),
      s"q79 reads columns it never uses:\n$readSchema")
  }

  test("q85 skip-gram pair generation plans NO join — pairs come from the array projection") {
    val plan = SparkEntry
      .queries("q85_skipgram_pairs")(spark, dir)
      .queryExecution
      .executedPlan
      .toString
    Seq("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
      .foreach(j => assert(!plan.contains(j), s"q85 unexpectedly plans a $j"))
  }

  test("q34 and q141 reuse exchanges in their final adaptive plans") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec        => s +: nodes(s.plan)
      case other                    => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    def reused(name: String): Int = {
      val df = SparkEntry.queries(name)(spark, dir)
      Bench.force(df) // AQE settles the final plan only once the query runs
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("isFinalPlan=true"), s"$name: plan not final:\n$plan")
      nodes(plan).count(_.isInstanceOf[ReusedExchangeExec])
    }
    // q34: a shingle-keyed shuffle and the (b_id, sb) broadcast; q141: the
    // distinct (q_id, term) exchange reused by the df-bounding semi-join
    // (the same reuse plans/r17/*_executed.txt records at sf0.1)
    val counts = Seq("q34_ngram_jaccard", "q141_bm25_multiquery").map(n => n -> reused(n)).toMap
    assert(counts == Map("q34_ngram_jaccard" -> 2, "q141_bm25_multiquery" -> 1),
      s"ReusedExchange nodes per final plan: $counts")
  }

  test("q91 BM25 plans no token explode and ranks via TakeOrdered, not a global sort") {
    val plan = SparkEntry
      .queries("q91_bm25_topk")(spark, dir)
      .queryExecution
      .executedPlan
      .toString
    assert(!plan.contains("Generate"), s"BM25 must not explode the token stream")
    Seq("SortMergeJoin", "ShuffledHashJoin")
      .foreach(j => assert(!plan.contains(j), s"q91 unexpectedly plans a $j"))
    assert(plan.contains("TakeOrderedAndProject"), "top-k must be a TakeOrdered, not sort+limit")
  }

  test("bigramLogProb broadcasts the model side, never the pair stream") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = graft.llm.Vocab.bigramLogProb(Tables(spark, dir).documents, "doc_id", "text")
    val joins = df.queryExecution.sparkPlan.collect { case j: BroadcastHashJoinExec => j }
    val modelBuilds = joins.filter { j =>
      val build = j.buildSide.toString match {
        case "BuildRight" => j.right
        case _            => j.left
      }
      build.toString.contains("ln(")
    }
    assert(
      modelBuilds.nonEmpty,
      s"no broadcast hash join builds the ln() model side; joins=${joins.size}")
  }

  test("pair extraction keeps the token array hoisted out of the lambda capture") {
    // a split() captured inside adjacentPairs' transform lambda
    // re-evaluates per element — O(tokens²)/doc (25 s → 5 s on the sf1
    // holdout plan). Pin: every Generate(explode(...)) over pair structs
    // references a bound attribute, never an embedded split()
    def generateLines(plan: String): Seq[String] =
      plan.linesIterator.filter(l => l.contains("Generate") && l.contains("element_at")).toSeq
    val q93 = SparkEntry
      .queries("q93_bpe_pairs")(spark, dir)
      .queryExecution
      .executedPlan
      .toString
    val holdout = {
      import spark.implicits._
      val train = Seq((1L, "a b c")).toDF("doc_id", "text")
      val test  = Seq((2L, "b c d")).toDF("doc_id", "text")
      graft.llm.Vocab
        .bigramLogProbHoldout(train, test, "doc_id", "text")
        .queryExecution
        .executedPlan
        .toString
    }
    Seq("q93" -> q93, "holdout" -> holdout).foreach { case (name, plan) =>
      val gens = generateLines(plan)
      assert(gens.nonEmpty, s"$name: no pair-explode Generate found — shape changed?")
      gens.foreach(g =>
        assert(
          !g.contains("split("),
          s"$name: tokenization captured inside the pair lambda:\n${g.take(400)}"))
    }
  }

  test("robustScale broadcasts the DIMS-row percentile stats, never the exploded matrix") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = graft.llm.EmbeddingStats
      .robustScale(Tables(spark, dir).embeddings, "vec_id", "embedding")
    val joins = df.queryExecution.sparkPlan.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.size == 1, s"expected 1 broadcast hash join, got ${joins.size}")
    val j = joins.head
    val build = j.buildSide.toString match {
      case "BuildRight" => j.right
      case _            => j.left
    }
    assert(
      build.toString.contains("percentile"),
      s"broadcast build side is not the percentile stats subtree:\n${build.toString.take(600)}")
  }

  test("q110 CMS joins the depth×width sketch as the broadcast build side") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = graft.llm.Sketches.cmsCalibration(Tables(spark, dir).documents, "text")
    val joins = df.queryExecution.sparkPlan.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.size == 1, s"expected 1 broadcast hash join, got ${joins.size}")
    val build = joins.head.buildSide.toString match {
      case "BuildRight" => joins.head.right
      case _            => joins.head.left
    }
    // the sketch subtree is the one keyed by (r, b) bucket counts
    assert(
      build.toString.contains("bc"),
      s"broadcast build side is not the sketch subtree:\n${build.toString.take(600)}")
  }

  test("q113 novelty plans NO corpus-sized rejoin — the only join is doc-sized per side") {
    val plan = SparkEntry
      .queries("q113_ngram_novelty")(spark, dir)
      .queryExecution
      .executedPlan
      .toString
    // the q34 sf1 incident shape: the (doc, shingle) stream on one side of
    // a join. Both join inputs here must be AGGREGATED (doc-keyed) frames,
    // so no join operator may sit below an aggregate-free Generate branch.
    val joinOps = Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    assert(joinOps.exists(plan.contains), "expected one doc-sized join in the plan")
    // pair expansion never appears: exactly the two shingle Generates
    val generates = "(?m)^.*\\bGenerate\\b".r.findAllIn(plan).size
    assert(generates <= 2, s"unexpected extra Generate (pair expansion?):\n$plan")
  }

  test("q112 hybrid rerank probes embeddings with the candidate list as build side") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val q = SparkEntry.queries("q112_hybrid_rerank")(spark, dir)
    val joins = q.queryExecution.sparkPlan.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, "expected the candidate probe to be a broadcast hash join")
    val builds = joins.map(j =>
      (j.buildSide.toString match {
        case "BuildRight" => j.right
        case _            => j.left
      }).toString)
    assert(
      builds.exists(_.contains("TakeOrdered")),
      s"no join builds from the top-m candidate TakeOrdered subtree")
  }

  /** Stage names ("<action> at <File>.scala:<line>") of every job `f`
    * runs, in job order, under a job group of its own.
    */
  private def jobStages(group: String, aqe: Boolean = true)(f: => Unit): Seq[Seq[String]] = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    spark.sparkContext.setJobGroup(group, "index job count")
    try f
    finally {
      spark.sparkContext.clearJobGroup()
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    val st = spark.sparkContext.statusTracker
    st.getJobIdsForGroup(group).toSeq.sorted.map { j =>
      st.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq.sorted.flatMap(s => st.getStageInfo(s).map(_.name)))
    }
  }

  private val postingsDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a lazy afternoon in the city with the dog"),
    (3L, "spark window functions rank the rows"))

  test("a warm postings search runs ONE job before its frame is drained: the bucket probe") {
    import graft.llm.Bm25
    import spark.implicits._
    val dir = Files.createTempDirectory("bm25_jobs_search").toString
    Bm25.writePostingsGen(postingsDocs.toDF("doc_id", "text"), "doc_id", "text", dir, nBuckets = 8)
    val queries = Seq((1L, "lazy dog"), (2L, "spark rows")).toDF("q_id", "q_text")
    Bm25.topKPerQueryIndexed(dir, queries, "q_id", "q_text", k = 3).collect() // warm the reader
    // AQE stays on: the probe is a collectFast (one AQE-off job) and the
    // meta row and the three table schemas come from the reader
    val jobs = jobStages("bm25-search-jobs") {
      Bm25.topKPerQueryIndexed(dir, queries, "q_id", "q_text", k = 3)
    }
    assert(jobs.size == 1, s"warm topKPerQueryIndexed ran ${jobs.size} jobs: $jobs")
  }

  test("a warm postings append runs no job before its postings pin") {
    import graft.llm.Bm25
    import spark.implicits._
    val dir = Files.createTempDirectory("bm25_jobs_append").toString
    val docs = postingsDocs.toDF("doc_id", "text")
    Bm25.writePostingsGen(docs, "doc_id", "text", dir, nBuckets = 8)
    Bm25.appendToPostings(dir, docs, "doc_id", "text", srcBatch = 1L) // warm the reader
    // AQE off: one job per action — the pin's count, then the three sink writes
    val jobs = jobStages("bm25-append-jobs", aqe = false) {
      Bm25.appendToPostings(dir, docs, "doc_id", "text", srcBatch = 2L)
    }
    assert(jobs.headOption.exists(_.exists(_.startsWith("count at Bm25.scala"))),
      s"the first job must be the postings pin: $jobs")
    assert(jobs.size == 4, s"pin + three sink writes, no meta or schema job: $jobs")
  }

  test("a warm banded ingest step runs no metadata job") {
    import graft.llm.Dedup
    import spark.implicits._
    val dir = Files.createTempDirectory("banded_jobs").toString
    Dedup.writeBandedNearDupIndex(postingsDocs.toDF("doc_id", "text"), "doc_id", "text", dir,
      bands = 4, rowsPerBand = 2, nBuckets = 4)
    def batch(id: Long) = Seq((10L + id, s"the quick brown fox jumps over the lazy dog $id"),
      (20L + id, s"entirely new words arrive in batch $id")).toDF("doc_id", "text")
    Dedup.ingestAppendBanded(batch(0L), "doc_id", "text", dir, batchId = 0L)() // warm the reader
    val jobs = jobStages("banded-ingest-jobs", aqe = false) {
      Dedup.ingestAppendBanded(batch(1L), "doc_id", "text", dir, batchId = 1L)()
    }
    // the band-bucket probe, the append's broadcasts and its write: a meta
    // row or a schema read would show as a `head at` or a non-write
    // `parquet at` job
    val meta = jobs.flatten.filter(n =>
      n.startsWith("head at") || (n.startsWith("parquet at") && !n.contains("Generations.scala")))
    assert(meta.isEmpty, s"metadata jobs in a warm ingest step: $jobs")
    assert(jobs.headOption.exists(_.forall(_.startsWith("collect at Jobs.scala"))),
      s"the first job must be the band-bucket probe: $jobs")
  }

  test("a warm ingest step compiles no code") {
    import graft.llm.{Bm25, Dedup}
    import org.apache.spark.metrics.source.CodegenMetrics
    import spark.implicits._
    val root = Files.createTempDirectory("ingest_compiles").toString
    val (ix, post) = (s"$root/neardup", s"$root/postings")
    val docs = postingsDocs.toDF("doc_id", "text")
    Dedup.writeBandedNearDupIndex(docs, "doc_id", "text", ix, bands = 4, rowsPerBand = 2, nBuckets = 4)
    Bm25.writePostingsGen(docs, "doc_id", "text", post, nBuckets = 8)
    // batches are parquet files, as an ingest source hands them over
    def batchDir(g: Long) = s"$root/batches/batch=$g"
    for (g <- 0L to 2L)
      Seq((10L + g, s"the quick brown fox jumps over the lazy dog $g"),
        (20L + g, s"entirely new words arrive in batch $g")).toDF("doc_id", "text")
        .write.parquet(batchDir(g))
    // one generation: the banded ingest with its survivors written inside
    // `use`, then the postings append of those survivors
    def step(g: Long): Unit = {
      val batch = spark.read.parquet(batchDir(g))
      val surv  = s"$root/survivors/batch_id=$g"
      Dedup.ingestAppendBanded(batch, "doc_id", "text", ix, batchId = g) { s =>
        s.select("doc_id").join(batch, Seq("doc_id"), "left").write.mode("overwrite").parquet(surv)
      }
      Bm25.appendToPostings(post, spark.read.parquet(surv), "doc_id", "text", srcBatch = g + 1L)
    }
    step(0L)
    step(1L)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    step(2L)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"a warm ingest step compiled $compiled classes")
  }

  test("a warm IVF index search runs THREE jobs before its frame is drained") {
    import graft.llm.IvfIndex
    val emb = Tables(spark, dir).embeddings
    val ixDir = Files.createTempDirectory("ivf_jobs_search").toString
    IvfIndex.writeIndexGen(emb, "vec_id", "embedding", ixDir, nCells = 4)
    val queries = emb.limit(8)
    IvfIndex.approxTopKIndexed(ixDir, queries, "vec_id", "embedding", k = 3).collect() // warm the reader
    // the centroid collect (its schema comes from the reader), then the
    // probed-cell collect: a map stage and its result stage under AQE
    val jobs = jobStages("ivf-search-jobs") {
      IvfIndex.approxTopKIndexed(ixDir, queries, "vec_id", "embedding", k = 3)
    }
    assert(jobs.size == 3, s"warm approxTopKIndexed ran ${jobs.size} jobs: $jobs")
  }

  test("a warm IVFADC stamp check runs no Spark job") {
    import graft.llm.IvfPq
    val emb = Tables(spark, dir).embeddings
    val ixDir = Files.createTempDirectory("ivfpq_stamp_jobs").toString
    val (idx, encoded) =
      IvfPq.build(emb, "vec_id", "embedding", dims = 64, nCells = 4, m = 4, k = 8)
    IvfPq.writeIndexGen(idx, encoded, ixDir)
    val loaded = IvfPq.loadIndex(ixDir, spark) // warms the sidecar
    // a handle whose quantizer is not the index's: each guard refuses it
    // right after its stamp check, before any job of its own
    val stale = IvfPq.IvfPqIndex(idx.centroids.map(_.map(_ + 1.0)), idx.cb)
    val batch = encoded.limit(4)
    val queries = emb.limit(2)
    val jobs = jobStages("ivfpq-stamp-jobs") {
      intercept[IllegalArgumentException] {
        IvfPq.appendEncodedLoaded(ixDir, stale, batch, srcBatch = 1L)
      }
      intercept[IllegalArgumentException] {
        IvfPq.scoreCandidatesServe(queries, loaded.copy(index = stale))
      }
    }
    assert(jobs.isEmpty, s"warm stamp checks ran ${jobs.size} jobs: $jobs")
  }
}
