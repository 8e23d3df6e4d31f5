package graft

import graft.llm.KMeans
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KMeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fit recovers planted clusters and centroids converge to group means") {
    // two tight 2-D clusters around (10,0) and (0,10); any init inside the
    // data separates them after one update round
    val pts = (0L until 20L).map { i =>
      if (i < 10) (i, Array(10.0f + (i % 5) * 0.01f, (i % 3) * 0.01f))
      else (i, Array((i % 3) * 0.01f, 10.0f + (i % 5) * 0.01f))
    }
    val emb = pts.toDF("vec_id", "embedding")
    val (assigned, cents) = KMeans.fit(emb, "vec_id", "embedding", k = 2, iters = 3)
    val byCluster = assigned
      .select("vec_id", "cluster")
      .as[(Long, Long)]
      .collect()
      .groupBy(_._2)
      .map { case (c, rows) => c -> rows.map(_._1).toSet }
    assert(byCluster.values.toSet == Set((0L until 10L).toSet, (10L until 20L).toSet),
      s"planted clusters not recovered: $byCluster")
    // each centroid sits at its group's mean (within the 6-dp rounding)
    cents.foreach { c =>
      val isLow = c.vec(0) > c.vec(1) // (10,~0) group
      val members = pts.filter(p => (p._1 < 10) == isLow).map(_._2)
      val mean0 = members.map(_(0).toDouble).sum / members.length
      val mean1 = members.map(_(1).toDouble).sum / members.length
      assert(math.abs(c.vec(0) - mean0) < 1e-5 && math.abs(c.vec(1) - mean1) < 1e-5,
        s"centroid ${c.vec.toSeq} far from group mean ($mean0, $mean1)")
    }
  }

  test("kernel assignment is bit-identical to the expression path") {
    // the reference is the expression fold replayed in the spec; k = 5 and
    // 20 sit on either side of the size at which assignment once switched
    // between the two
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001").embeddings
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cluster", "dist").as[(Long, Long, Double)].collect().sortBy(_._1)
    Seq(5, 20).foreach { k =>
      val cents = KMeans.initCentroids(emb, "vec_id", "embedding", k)
      val expr  = rows(ExprArgmin.kmeans(emb, "vec_id", "embedding", cents))
      val kern  = rows(KMeans.assign(emb, "vec_id", "embedding", cents))
      assert(expr.sameElements(kern), s"kernel and expression assignments diverge at k=$k")
    }
  }

  test("fit is deterministic and mixture weights reweight to uniform mass") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001").embeddings
    val a1 = KMeans.fit(emb, "vec_id", "embedding", k = 4, iters = 2)._1
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val a2 = KMeans.fit(emb, "vec_id", "embedding", k = 4, iters = 2)._1
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(a1.sameElements(a2), "fit is not deterministic")

    val w = KMeans
      .mixtureWeights(KMeans.fit(emb, "vec_id", "embedding", k = 4, iters = 2)._1, k = 4)
      .select("n", "weight")
      .as[(Long, Double)]
      .collect()
    val total = w.map(_._1).sum
    assert(total == emb.count(), "cluster sizes do not partition the corpus")
    // weight * n == total / k for every cluster (uniform reweighting)
    w.foreach { case (n, wt) =>
      assert(math.abs(wt * n - total / 4.0) < total * 1e-5, s"weight $wt off for n=$n")
    }
  }
}
