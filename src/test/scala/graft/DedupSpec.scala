package graft

import graft.llm.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while rain falls on the old stone bridge near town"

  private def corpus = Seq(
    (1L, base),
    (2L, base.replace("rain", "snow")), // near-dup of 1
    (3L, base),                         // exact dup of 1
    (4L, "completely different tokens about spark catalyst optimizer plans and shuffles everywhere"),
    (5L, "yet another unrelated document mentioning embeddings buckets and minhash families today"))
    .toDF("doc_id", "text")

  test("exact dedup keeps the lowest-id copy of duplicated content") {
    val out = Dedup.exact(corpus, "doc_id", "text")
    val ids = out.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L, 5L)) // 3 dropped (dup of 1)
  }

  test("minhash band join finds the planted near-dup and nothing else") {
    val pairs = Dedup
      .nearDupPairs(corpus, "doc_id", "text", bands = 4, rowsPerBand = 2, tau = 0.5)
      .collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getDouble(2)))
    val keys = pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    assert(keys.contains((1L, 3L))) // exact dup: jaccard 1.0
    assert(keys.contains((1L, 2L)) || keys.contains((2L, 3L))) // near-dup caught
    assert(!keys.exists { case (a, b) => Set(a, b).intersect(Set(4L, 5L)).nonEmpty })
    pairs.foreach(p => assert(p._3 >= 0.5))
  }

  test("both signature hash families find the planted near-dups; family is schema-visible") {
    // xxhash64 (library default, long sigs) and md5 (oracle parity,
    // string sigs) are interchangeable minhash families — same planted
    // pairs recovered, exact Jaccard verification identical
    def keys(family: Dedup.SigHash): Set[(Long, Long)] = Dedup
      .nearDupPairs(corpus, "doc_id", "text", bands = 4, rowsPerBand = 2, tau = 0.5,
        family = family)
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    for (f <- Seq(Dedup.Md5, Dedup.XxHash64)) {
      val k = keys(f)
      assert(k.contains((1L, 3L)), s"$f missed the exact dup")
      assert(!k.exists { case (a, b) => Set(a, b).intersect(Set(4L, 5L)).nonEmpty },
        s"$f paired an unrelated doc")
    }
    // schema-detected family: md5 sigs are strings, xxhash64 sigs longs
    import org.apache.spark.sql.types.{LongType, StringType}
    val sMd5 = Dedup.signatureProjection(corpus, "doc_id", "text", 4, Dedup.Md5)
    val sXx  = Dedup.signatureProjection(corpus, "doc_id", "text", 4, Dedup.XxHash64)
    assert(sMd5.schema("sig0").dataType == StringType && Dedup.indexFamily(sMd5) == Dedup.Md5)
    assert(sXx.schema("sig0").dataType == LongType && Dedup.indexFamily(sXx) == Dedup.XxHash64)
    // the incremental verifier computes the batch's sigs in the INDEX's
    // family — an md5-bootstrapped index keeps dropping mutated clones
    // (append-a-token mutation: a superset doc flips a sig only when the
    // new token wins a min — ~1/|tokens| per family, far under the 4/16
    // disagreement budget; a REPLACE mutation can flip enough sig
    // families by salt luck to clear simTau, in either family)
    val clone = Seq((9L, base + " zq7")).toDF("doc_id", "text")
    for (f <- Seq(Dedup.Md5, Dedup.XxHash64)) {
      val idx = Dedup.signatureProjection(corpus, "doc_id", "text", 16, f).drop("__id").distinct()
      val surv = Dedup.incrementalNearDupNew(clone, "doc_id", "text", idx)
        .select("doc_id").as[Long].collect().toSet
      assert(surv.isEmpty, s"$f index failed to drop the mutated clone: $surv")
    }
  }

  test("signatures are stable and one row per doc") {
    val s1 = Dedup.minhashSignatures(corpus, "doc_id", "text").collect().map(_.toString).sorted.toSeq
    val s2 = Dedup.minhashSignatures(corpus, "doc_id", "text").collect().map(_.toString).sorted.toSeq
    assert(s1 == s2)
    assert(s1.size == 5)
  }

  test("projection-based band values equal the groupBy signature bands") {
    // the identity the STREAMING path rests on: array_min over the token
    // array = min over the exploded token group, band by band
    val viaGroupBy = Dedup.minhashSignatures(corpus, "doc_id", "text", nSigs = 8)
      .select(
        col("__id"),
        concat_ws("|", col("sig0"), col("sig1")).as("b0"),
        concat_ws("|", col("sig6"), col("sig7")).as("b3"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val viaProjection = Dedup.bandedProjection(corpus, "doc_id", "text", bands = 4, rowsPerBand = 2)
      .groupBy("__id")
      .pivot("band_idx", Seq(0, 3))
      .agg(first("band_val"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(viaGroupBy == viaProjection)
  }

  // docs sharing one universal 3-gram ("aa bb cc") plus a unique tail —
  // without a df-cut the inverted index pairs all of them quadratically
  private def stopShingleCorpus = (1L to 12L)
    .map(i => (i, s"aa bb cc unique$i tail$i end$i"))
    .toDF("doc_id", "text")

  test("shingle df-cut bounds candidate pairs against a universal shingle") {
    val noCut = Dedup
      .ngramJaccardPairs(stopShingleCorpus, "doc_id", "text", n = 3, maxShingleDf = None)
      .count()
    assert(noCut == 12L * 11 / 2) // every pair shares 'aa bb cc'
    val cut = Dedup.ngramJaccardPairs(
      stopShingleCorpus, "doc_id", "text", n = 3, maxShingleDf = Some(4L)).count()
    assert(cut == 0) // the only shared shingle has df=12 > 4 → no pairs
  }

  test("library default caps the df — a shingle hotter than DefaultMaxShingleDf pairs nothing") {
    val n = Dedup.DefaultMaxShingleDf.toInt + 1
    val hot = (1L to n.toLong).map(i => (i, s"aa bb cc unique$i tail$i end$i")).toDF("doc_id", "text")
    // default call (no maxShingleDf argument) must apply the cap
    assert(Dedup.ngramJaccardPairs(hot, "doc_id", "text", n = 3).count() == 0)
  }

  test("uncapped stop-shingle expansion streams: 300-doc universal shingle completes exactly") {
    // 300 docs sharing 'aa bb cc' → 44 850 pairs through ONE group; the
    // posexplode+slice expansion keeps every single value O(df), so this
    // completes where a flat O(df²) in-row array would be the hazard
    val hot = (1L to 300L).map(i => (i, s"aa bb cc unique$i tail$i end$i")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(hot, "doc_id", "text", n = 3, maxShingleDf = None)
    assert(got.count() == 300L * 299 / 2)
    // each doc has 4 shingles, pairs share exactly 1 → jaccard = 1/7
    val j = got.select("jaccard").distinct().collect().map(_.getDouble(0)).toSeq
    assert(j.size == 1 && math.abs(j.head - 1.0 / 7) < 1e-12)
  }

  test("prefix-filtered pairs equal the all-pairs plan filtered at tau (exactness)") {
    // fuzzed corpus with planted near-dups, exact dups, chains of partial
    // overlap, and tiny docs — the shapes prefix/positional filtering
    // could get wrong (false negatives) if the prefix-length or
    // overlap-bound math were off by one
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"w$i")
    def doc() = (0 until (8 + rnd.nextInt(30))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = (0 until 25).map(_ => doc())
    val docs = bases.zipWithIndex.flatMap { case (b, i) =>
      val mutated = {
        val toks = b.split(" ")
        toks.updated(rnd.nextInt(toks.length), "mut" + i).mkString(" ")
      }
      Seq((i * 3L, b), (i * 3L + 1, b), (i * 3L + 2, mutated))
    }.toDF("doc_id", "text")
    for (tau <- Seq(0.3, 0.8, 1.0)) {
      val want = Dedup
        .ngramJaccardPairs(docs, "doc_id", "text", n = 3, maxShingleDf = None)
        .where(col("jaccard") >= tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_.toString).toSeq
      val got = Dedup
        .ngramJaccardPairs(docs, "doc_id", "text", n = 3, maxShingleDf = None,
          minJaccard = Some(tau))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_.toString).toSeq
      assert(got == want, s"prefix-filtered != all-pairs at tau=$tau")
    }
  }

  test("prefix-filtered pairs respect the df cap (capped universe, same as all-pairs)") {
    val want = Dedup
      .ngramJaccardPairs(stopShingleCorpus, "doc_id", "text", n = 3, maxShingleDf = Some(4L))
      .where(col("jaccard") >= 0.1)
      .count()
    val got = Dedup
      .ngramJaccardPairs(stopShingleCorpus, "doc_id", "text", n = 3, maxShingleDf = Some(4L),
        minJaccard = Some(0.1))
      .count()
    assert(got == want)
  }

  test("rank-all top-5 by Jaccard (retired q34 contract) holds at tiny scale") {
    // rank-all materializes every pair (Sigma df^2 rows — disk-exhausted at
    // 500 k docs), so it lives here as a tiny-sf spec while the declared
    // q34 runs the capped threshold contract; the threshold plan at the
    // 5th-best Jaccard must contain the rank-all winners
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001").documents
    val all = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", n = 3, maxShingleDf = None)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val top5 = all.sortBy(t => (-t._3, t._1, t._2)).take(5)
    assert(top5.length == 5 && top5.last._3 > 0.0)
    val tau = top5.last._3
    val thresholded = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", n = 3, maxShingleDf = None,
        minJaccard = Some(tau))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    top5.foreach(p => assert(thresholded.contains(p), s"threshold plan missing top-5 pair $p"))
  }

  test("df-cut jaccard equals the uncut value when no shingle exceeds the cap") {
    val uncut = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, maxShingleDf = None)
      .collect().map(r => (r.get(0), r.get(1), r.getDouble(2))).sortBy(_.toString).toSeq
    val cut = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, maxShingleDf = Some(100L))
      .collect().map(r => (r.get(0), r.get(1), r.getDouble(2))).sortBy(_.toString).toSeq
    assert(uncut == cut)
  }

  test("band df-cut drops hot buckets from the minhash candidate join") {
    // 3 is an exact dup of 1 → all 4 bands collide; cap of 1 removes them
    val cut = Dedup.nearDupPairs(
      corpus, "doc_id", "text", bands = 4, rowsPerBand = 2, tau = 0.0, maxBandDf = Some(1L))
    assert(cut.count() == 0)
    val open = Dedup.nearDupPairs(
      corpus, "doc_id", "text", bands = 4, rowsPerBand = 2, tau = 0.0, maxBandDf = Some(100L))
    assert(open.count() >= 2) // same pairs as the uncapped run
  }

  test("connected components label chains, cliques and isolated vertices by min id") {
    import graft.llm.DupClusters
    // chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    // clique {10,11,12}, isolated 20
    val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("a_id", "b_id")
    val got = DupClusters
      .connectedComponents(verts, edges)
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L))
  }

  test("connected components fails loudly when the iteration cap is too low") {
    import graft.llm.DupClusters
    // a 6-vertex path labelled from the far end needs ~5 rounds
    val verts = (1L to 6L).toDF("id")
    val edges = (1L to 5L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    intercept[IllegalArgumentException] {
      DupClusters.connectedComponents(verts, edges, maxIters = 1)
    }
    // and converges with a sane cap
    val ok = DupClusters.connectedComponents(verts, edges).as[(Long, Long)].collect().toMap
    assert(ok.values.toSet == Set(1L))
  }

  test("connected components match driver-side union-find on random graphs") {
    import graft.llm.DupClusters
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val nV = 30 + trial * 10
      val vs = (1L to nV.toLong).toSeq
      val es = Seq.fill(nV / 2)((rnd.nextInt(nV) + 1L, rnd.nextInt(nV) + 1L))
        .filter { case (a, b) => a != b }
      // driver-side union-find oracle
      val parent = scala.collection.mutable.Map(vs.map(v => v -> v): _*)
      def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = vs.map(v => v -> find(v)).toMap
      val got = DupClusters
        .connectedComponents(vs.toDF("id"), es.toDF("a_id", "b_id"))
        .as[(Long, Long)]
        .collect()
        .toMap
      assert(got == want, s"trial $trial: CC diverges from union-find")
    }
  }

  test("clusterDocuments capped path equals uncapped components when the cap is slack") {
    import graft.llm.DupClusters
    val un = DupClusters
      .clusterDocuments(corpus, "doc_id", "text", maxShingleDf = None)
      .as[(Long, Long)].collect().toMap
    val cap = DupClusters
      .clusterDocuments(corpus, "doc_id", "text", maxShingleDf = Some(100L))
      .as[(Long, Long)].collect().toMap
    assert(un == cap)
    assert(un(3L) == 1L) // exact dup landed in doc 1's cluster
  }

  test("clusterDocuments df cap dissolves the stop-shingle mega-cluster") {
    import graft.llm.DupClusters
    // every doc shares 'aa bb cc'; at tau=0.1 the uncapped graph is one
    // component, while the cap drops the universal shingle and leaves
    // every doc isolated — the production semantics the oracle (q103) pins
    val unc = DupClusters
      .clusterDocuments(stopShingleCorpus, "doc_id", "text", tau = 0.1, maxShingleDf = None)
      .as[(Long, Long)].collect().toMap
    assert(unc.values.toSet == Set(1L))
    val got = DupClusters
      .clusterDocuments(stopShingleCorpus, "doc_id", "text", tau = 0.1, maxShingleDf = Some(4L))
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 12L).map(i => i -> i).toMap)
  }

  test("unk rewrite replaces exactly the out-of-vocab tokens") {
    import graft.llm.Vocab
    // "a" (4x) and "b" (3x) are the top-2; "x" and "y" fall out
    val docs = Seq(
      (1L, "a b a x"),
      (2L, "b a y b a"),
      (3L, "x y")).toDF("doc_id", "text")
    val got = Vocab
      .unkRewrite(docs, "doc_id", "text", k = 2)
      .select("doc_id", "text_unk", "n_unk")
      .as[(Long, String, Long)]
      .collect()
      .sortBy(_._1)
      .toSeq
    assert(got == Seq(
      (1L, "a b a <unk>", 1L),
      (2L, "b a <unk> b a", 1L),
      (3L, "<unk> <unk>", 2L)))
  }

  test("removeDuplicatedSpans drops corpus-frequent spans, keeps tails and rare spans") {
    // span "x y" (windows 1 of docs 1..3) is in 3 distinct docs → dropped
    // at minDocs=3; everything else is kept; odd-length tails survive
    val docs = Seq(
      (1L, "x y a b c"),   // windows: "x y","a b"; tail "c"
      (2L, "x y d e"),     // windows: "x y","d e"
      (3L, "q r x y"),     // windows: "q r","x y"
      (4L, "x y"),         // the span is doc 4's ENTIRE text → rebuilt empty
      (5L, "z"))           // no window at all, tail only
      .toDF("doc_id", "text")
    // doc 4 text "x y" is its only window; with docs 1-4 all containing
    // "x y", df("x y") = 4
    val got = Dedup
      .removeDuplicatedSpans(docs, "doc_id", "text", window = 2, minDocs = 3L)
      .orderBy("doc_id")
      .as[(Long, String, Long)]
      .collect()
      .toSeq
    assert(got == Seq(
      (1L, "a b c", 1L),
      (2L, "d e", 1L),
      (3L, "q r", 1L),
      (4L, "", 1L),
      (5L, "z", 0L)))
  }

  test("groupOverlapMatrix computes dataset-level shingle Jaccard with per-group dedup") {
    // group A docs: "a b c d" → {abc, bcd}; "a b c" → {abc} (dup within A)
    //   A's set = {abc, bcd} (2)
    // group B: "b c d e" → {bcd, cde} (2); group C: "x y z" → {xyz} (1)
    val docs = Seq(
      ("A", "a b c d"),
      ("A", "a b c"),
      ("B", "b c d e"),
      ("C", "x y z"))
      .toDF("src", "text")
    val got = graft.llm.Dedup
      .groupOverlapMatrix(docs, "src", "text", n = 3)
      .orderBy("a_group", "b_group")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // A∩B = {bcd} (1), |A∪B| = 3 → 1/3; C overlaps nothing → absent
    assert(got.size == 1)
    val (a, b, shared, j) = got.head
    assert((a, b, shared) == (("A", "B", 1L)))
    assert(math.abs(j - 1.0 / 3.0) < 1e-12)
  }

  test("removeDuplicatedSpans is the identity when nothing is frequent") {
    val docs = Seq((1L, "a b c d e"), (2L, "f g h")).toDF("doc_id", "text")
    val got = Dedup
      .removeDuplicatedSpans(docs, "doc_id", "text", window = 2, minDocs = 2L)
      .orderBy("doc_id")
      .as[(Long, String, Long)]
      .collect()
      .toSeq
    assert(got == Seq((1L, "a b c d e", 0L), (2L, "f g h", 0L)))
  }

  test("leakSafeSplit keeps every near-dup cluster on one side of the split") {
    import graft.llm.{DupClusters, Sampling}
    val comp = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 21L), (22L, 22L), (23L, 23L), (24L, 24L))
      .toDF("doc_id", "cluster_id")
    val got = DupClusters.leakSafeSplit(comp)
    // no cluster straddles the split
    val straddling = got
      .groupBy("cluster_id")
      .agg(countDistinct("split").as("k"))
      .where(col("k") > 1)
      .count()
    assert(straddling == 0)
    // the draw is the cluster-label draw, not a per-member draw
    val want = comp.select(
      col("doc_id"),
      Sampling.trainTestSplit(col("cluster_id")).as("want"))
    assert(got.join(want, "doc_id").where(col("split") =!= col("want")).count() == 0)
    val vals = got.select("split").distinct().as[String].collect().toSet
    assert(vals.subsetOf(Set("train", "test")) && vals.nonEmpty)
  }

  test("electSurvivors keeps the best-quality member per cluster, id on ties") {
    import graft.llm.DupClusters
    val members = Seq(
      // cluster 1: quality favors doc 3 over the min-id doc 1
      (1L, 1L, 0.5), (3L, 1L, 0.9),
      // cluster 2: exact quality tie → smaller id 4 wins
      (4L, 2L, 0.7), (9L, 2L, 0.7),
      // singleton keeps itself
      (7L, 7L, 0.1)).toDF("doc_id", "cluster_id", "quality")
    val got = DupClusters
      .electSurvivors(members, "doc_id", "cluster_id", "quality")
      .select("doc_id", "survivor_id", "keep")
      .orderBy("doc_id")
      .as[(Long, Long, Boolean)]
      .collect()
      .toSeq
    assert(got == Seq(
      (1L, 3L, false), (3L, 3L, true),
      (4L, 4L, true), (7L, 7L, true),
      (9L, 4L, false)))
  }

  test("ingestAppendBanded equals the ingest-then-append-from-docs sequence (r17 sig sharing)") {
    // two identical bootstraps; one stepped with the r16 two-pass sequence
    // (ingest, then append re-deriving signatures from survivor docs), one
    // with the r17 shared-signature step — index content and a follow-up
    // ingest must agree row for row
    val old = corpus.where(col("doc_id") <= 2)
    val b0 = Seq(
      (3L, base),                                        // exact dup of indexed 1
      (6L, base.replace("bridge", "arch")),              // near-dup of indexed 1
      (7L, "fresh tokens never indexed before today ok"),
      (8L, "fresh tokens never indexed before today ok") // within-batch exact dup of 7
    ).toDF("doc_id", "text")
    val b1 = Seq(
      (9L, base.replace("bridge", "arch").replace("town", "city")), // near-dup of a b0 survivor?
      (10L, "fresh tokens never indexed before today ok"),          // exact dup of appended 7
      (11L, "and one more entirely novel document snowflake")).toDF("doc_id", "text")
    def bootstrap(): String = {
      val d = java.nio.file.Files.createTempDirectory("banded_parity").toString
      Dedup.writeBandedNearDupIndex(old, "doc_id", "text", d,
        bands = 4, rowsPerBand = 2, family = Dedup.Md5, nBuckets = 4)
      d
    }
    val dirA = bootstrap()
    val sA = Dedup.incrementalNearDupNewBanded(b0, "doc_id", "text", dirA,
      simTau = 0.5, beforeBatch = Some(0L))
    Dedup.appendBandedNearDupIndex(
      sA.select("doc_id").join(b0, Seq("doc_id")), "doc_id", "text", dirA, batchId = 0L)
    val dirB = bootstrap()
    var seen: Seq[(Long, String)] = Seq.empty
    Dedup.ingestAppendBanded(b0, "doc_id", "text", dirB, batchId = 0L, simTau = 0.5) { surv =>
      seen = surv.select("doc_id", "digest").as[(Long, String)].collect().toSeq.sorted
    }
    assert(seen == sA.select("doc_id", "digest").as[(Long, String)].collect().toSeq.sorted,
      "survivors inside the shared-signature step must equal the two-pass sequence's")
    def bands(d: String) = spark.read.parquet(s"$d/bands")
      .collect().map(_.toString).toSeq.sorted
    assert(bands(dirA) == bands(dirB), "appended index content must be row-identical")
    // the generation's on-disk form: one directory per generation, read
    // back as an integer partition column
    val genDirs = new java.io.File(s"$dirB/bands").listFiles().filter(_.isDirectory).map(_.getName)
    assert(genDirs.sorted.toSeq == Seq("src_batch=-1", "src_batch=0"), genDirs.mkString(", "))
    assert(spark.read.parquet(s"$dirB/bands").schema("src_batch").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(graft.core.Generations.maxGen(spark, s"$dirB/bands") == 0L)
    def ingest1(d: String) = Dedup
      .incrementalNearDupNewBanded(b1, "doc_id", "text", d, simTau = 0.5, beforeBatch = Some(1L))
      .select("doc_id", "digest").as[(Long, String)].collect().toSeq.sorted
    val r1 = ingest1(dirA)
    assert(r1 == ingest1(dirB), "a follow-up ingest must decide identically over both indexes")
    assert(r1.map(_._1).contains(11L) && !r1.map(_._1).contains(10L),
      "sanity: the novel doc survives, the dup of an appended survivor is dropped")
  }

  test("re-bootstrap replaces every generation even under a dynamic session overwrite mode") {
    // a bootstrap that inherited the session's dynamic mode replaced only
    // generation -1 and kept the old corpus's appended survivors, whose
    // signatures kept dropping new documents
    val conf  = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(conf)
    spark.conf.set(conf, "dynamic")
    try {
      val old   = corpus.where(col("doc_id") <= 2)
      val fresh = Seq((7L, "fresh tokens never indexed before today ok")).toDF("doc_id", "text")
      def gens(table: String) = spark.read.parquet(table)
        .select(col(graft.core.Generations.Col).cast("long")).distinct().as[Long].collect().toSet
      val banded = java.nio.file.Files.createTempDirectory("banded_reboot").toString
      def bootBanded() = Dedup.writeBandedNearDupIndex(old, "doc_id", "text", banded,
        bands = 4, rowsPerBand = 2, nBuckets = 4)
      bootBanded()
      Dedup.ingestAppendBanded(fresh, "doc_id", "text", banded, batchId = 0L, simTau = 0.5)()
      assert(gens(s"$banded/bands") == Set(-1L, 0L), "sanity: the append added generation 0")
      bootBanded()
      assert(gens(s"$banded/bands") == Set(-1L), "banded re-bootstrap must drop generation 0")
    } finally saved.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }
}
