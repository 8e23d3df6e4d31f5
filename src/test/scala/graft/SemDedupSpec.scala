package graft

import graft.llm.SemDedup
import org.scalatest.funsuite.AnyFunSuite

class SemDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // two well-separated directions; ids 1-3 are mutual near-dups (scaled
  // copies, cos = 1), ids 10/11 are orthogonal-ish singletons
  private def corpus = Seq(
    (1L, Seq(1.0, 0.0, 0.0, 0.0)),
    (2L, Seq(2.0, 0.0, 0.0, 0.0)),
    (3L, Seq(0.5, 0.0, 0.0, 0.0)),
    (10L, Seq(0.0, 1.0, 0.0, 0.0)),
    (11L, Seq(0.0, 0.0, 1.0, 0.0))).toDF("vec_id", "embedding")

  test("planted scaled copies drop behind the smallest id; singletons keep") {
    val got = SemDedup
      .keepFlags(corpus, "vec_id", "embedding", k = 2, tau = 0.9)
      .orderBy("vec_id")
      .as[(Long, Long, Option[Double], Boolean)]
      .collect()
      .toSeq
    val byId = got.map(r => r._1 -> r).toMap
    // ids 2 and 3 see id 1 (or each other) at cos 1.0 → dropped
    assert(byId(2L)._3.contains(1.0) && !byId(2L)._4)
    assert(byId(3L)._3.contains(1.0) && !byId(3L)._4)
    // id 1 is the first of its near-dup set → kept (keep-first greedy)
    assert(byId(1L)._4, "smallest id of the duplicate set survives")
    // all three duplicates share a cell
    assert(Set(byId(1L)._2, byId(2L)._2, byId(3L)._2).size == 1)
    // exactly the two duplicates drop
    assert(got.count(!_._4) == 2)
  }

  test("approx keepFlags drops the planted copies and keeps singletons") {
    // dims = 4 to match the fixture; 4 tables recover every bucket
    // collision at this scale, so the LSH path reproduces the exact
    // keep-first election on the planted geometry
    val got = SemDedup
      .keepFlagsApprox(corpus, "vec_id", "embedding", tau = 0.9,
        nBits = 2, dims = 4, nTables = 4, nProbes = 0)
      .orderBy("vec_id")
      .as[(Long, Option[Double], Boolean)]
      .collect()
      .toSeq
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(1L)._3, "smallest id of the duplicate set survives")
    assert(byId(2L)._2.contains(1.0) && !byId(2L)._3)
    assert(byId(3L)._2.contains(1.0) && !byId(3L)._3)
    assert(got.count(!_._3) == 2, s"exactly the two copies drop: $got")
  }

  test("approx keepFlags agrees with the exact path on corpus embeddings") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001").embeddings
    def kept(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.where(org.apache.spark.sql.functions.col("keep"))
        .select("vec_id").as[Long].collect().toSet
    val exact  = kept(SemDedup.keepFlags(emb, "vec_id", "embedding", tau = 0.4))
    val approx = kept(SemDedup.keepFlagsApprox(emb, "vec_id", "embedding", tau = 0.4,
      nBits = 4, nTables = 8, nProbes = 0))
    val n = emb.count().toDouble
    val agree = (n - ((exact diff approx) ++ (approx diff exact)).size) / n
    info(f"keep-decision agreement exact-vs-approx = $agree%.3f " +
      s"(exact keeps ${exact.size}, approx ${approx.size})")
    // cells and buckets partition the space differently, so individual
    // borderline pairs flip; the gate is measured-minus-margin (0.920 at
    // 8 tables, seed 42) on the per-vector keep DECISION
    assert(agree >= 0.8, s"exact/approx keep decisions diverged: $agree")
  }

  test("result is invariant to input partitioning") {
    val base = SemDedup
      .keepFlags(corpus, "vec_id", "embedding", k = 2, tau = 0.9)
      .orderBy("vec_id").collect().toSeq
    val repart = SemDedup
      .keepFlags(corpus.repartition(7), "vec_id", "embedding", k = 2, tau = 0.9)
      .orderBy("vec_id").collect().toSeq
    assert(base == repart)
  }

  test("maxPrevRefs caps the reference prefix: late dups of unreferenced vectors survive") {
    // one cell (k=1), cap=2: references are the two smallest ids {1, 2}.
    // id 3 duplicates id 2 (in the prefix) → drops; id 5 duplicates id 4
    // (NOT in the prefix) and is orthogonal to both references → keeps,
    // where the uncapped scan would drop it
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.0, 2.0, 0.0, 0.0)),
      (4L, Seq(0.0, 0.0, 1.0, 0.0)),
      (5L, Seq(0.0, 0.0, 2.0, 0.0))).toDF("vec_id", "embedding")
    def run(cap: Int) = SemDedup
      .keepFlags(vecs, "vec_id", "embedding", k = 1, tau = 0.9, maxPrevRefs = cap)
      .orderBy("vec_id")
      .as[(Long, Long, Option[Double], Boolean)]
      .collect()
      .map(r => r._1 -> r._4)
      .toMap
    val capped = run(2)
    assert(!capped(3L), "dup of an in-prefix reference drops")
    assert(capped(5L), "dup of an out-of-prefix vector survives under the cap")
    val exact = run(SemDedup.NoCap)
    assert(!exact(3L) && !exact(5L), "uncapped greedy drops both dups")
  }

  test("capped and uncapped paths are bit-identical when no cell outgrows the cap") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001").embeddings
    val capped = SemDedup
      .keepFlags(emb, "vec_id", "embedding", tau = 0.4)
      .orderBy("vec_id").collect().toSeq
    val exact = SemDedup
      .keepFlags(emb, "vec_id", "embedding", tau = 0.4, maxPrevRefs = SemDedup.NoCap)
      .orderBy("vec_id").collect().toSeq
    assert(capped == exact)
  }

  test("oversized cell fails fast naming the fix") {
    val e = intercept[Exception] {
      SemDedup
        .keepFlags(corpus, "vec_id", "embedding", k = 1, tau = 0.9, maxCellRows = 3)
        .collect()
    }
    // the cause chain carries the guard's message through Spark's task wrapper
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause).filter(_ != null))
    assert(messages(e).exists(m => m != null && m.contains("raise k")))
  }

  test("kernel assignment path is bit-identical to the expression fold") {
    // 120 random-ish deterministic vectors, 20 seeds: same seeds through
    // both physical strategies must give identical cells
    val vecs = (1L to 120L).map { i =>
      (i, (0 until 8).map(j => math.sin(i * 31 + j * 7).toDouble))
    }.toDF("vec_id", "embedding")
    // (the expression fold is replayed in the spec, at 8 and 20 seeds)
    Seq(8, 20).foreach { k =>
      val seeds = SemDedup.pickSeeds(vecs, "vec_id", "embedding", k)
      val expr = ExprArgmin
        .semDedup(vecs, "vec_id", "embedding", seeds)
        .orderBy("vec_id").collect().toSeq
      val kern = SemDedup
        .assignCells(vecs, "vec_id", "embedding", seeds)
        .select("vec_id", "cell").orderBy("vec_id").collect().toSeq
      assert(expr == kern, s"kernel and expression cells diverge at k=$k")
      assert(expr.map(_.getLong(1)).distinct.size > 1, "multiple cells in use")
    }
  }

  test("pickSeeds is a pure function of (salt, id): stable ids, sorted-by-hash") {
    val s1 = SemDedup.pickSeeds(corpus, "vec_id", "embedding", k = 3)
    val s2 = SemDedup.pickSeeds(corpus.repartition(5), "vec_id", "embedding", k = 3)
    assert(s1.map(_.id).toSeq == s2.map(_.id).toSeq)
    val other = SemDedup.pickSeeds(corpus, "vec_id", "embedding", k = 3, salt = "other")
    // a different salt reorders the pick (overwhelmingly likely on 5 ids)
    assert(s1.map(_.id).toSeq != other.map(_.id).toSeq || s1.length == corpus.count())
  }
}
