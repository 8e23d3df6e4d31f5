package graft

import graft.llm.Pq
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = graft.core.Tables(spark, "/root/testdata/sf0.001").embeddings

  test("Lloyd-trained codebooks reconstruct no worse than the seed codebooks") {
    val seed    = Pq.train(emb, "vec_id", "embedding", dims = 64, m = 4, k = 8, iters = 0)
    val trained = Pq.train(emb, "vec_id", "embedding", dims = 64, m = 4, k = 8, iters = 2)
    def meanErr(cb: Pq.Codebooks): Double =
      Pq.reconstructionError(emb, "vec_id", "embedding", cb)
        .agg(avg("err")).collect()(0).getDouble(0)
    val (e0, e2) = (meanErr(seed), meanErr(trained))
    info(f"mean reconstruction err: seeds=$e0%.4f trained=$e2%.4f")
    assert(e2 <= e0 + 1e-9, s"training worsened reconstruction: $e0 -> $e2")
    assert(e2 < e0 * 0.9, s"two Lloyd rounds should improve meaningfully: $e0 -> $e2")
  }

  test("fused trainer is bit-identical to independent per-subspace Lloyd fits") {
    // one aggregate per round (fused) vs m KMeans.fit runs (reference):
    // same seeds, same rounded-distance argmin, same 6-dp-rounded means
    // -> labels and centroid vectors must match exactly
    val fused = Pq.train(emb, "vec_id", "embedding", dims = 64, m = 4, k = 8, iters = 2)
    val ref   = Pq.trainPerSubspace(emb, "vec_id", "embedding", dims = 64, m = 4, k = 8, iters = 2)
    assert(fused.m == ref.m && fused.subDim == ref.subDim)
    for (s <- 0 until fused.m) {
      assert(fused.labels(s).toSeq == ref.labels(s).toSeq, s"subspace $s labels diverge")
      for (c <- fused.books(s).indices)
        assert(fused.books(s)(c).toSeq == ref.books(s)(c).toSeq,
          s"subspace $s centroid $c diverges")
    }
  }

  test("ADC distance error is bounded by the candidate's reconstruction error") {
    // ADC scores ||q - decode(x)||, so |adc - true| <= ||x - decode(x)||
    // exactly (triangle inequality; the query itself is not quantized)
    val cb  = Pq.train(emb, "vec_id", "embedding", dims = 64, m = 4, k = 8, iters = 2)
    val enc = Pq.encode(emb, "vec_id", "embedding", cb)
    val q = emb.where(col("vec_id") === 42)
      .select(col("embedding").cast("array<double>")).collect()(0).getSeq[Double](0).toArray
    val adc = Pq.adcTopK(enc, q, cb, k = emb.count().toInt)
      .select("vec_id", "adc_dist").as[(Long, Double)].collect().toMap
    val errs = Pq.reconstructionError(emb, "vec_id", "embedding", cb)
      .select("vec_id", "err").as[(Long, Double)].collect().toMap
    val qLit = typedlit(q.toSeq)
    val sub  = col("embedding").cast("array<double>")
    val truth = emb.select(
      col("vec_id"),
      sqrt(greatest(
        graft.functions.GraftFunctions.dot(sub, sub) -
          lit(2.0) * graft.functions.GraftFunctions.dot(sub, qLit) +
          lit(q.map(x => x * x).sum),
        lit(0.0))).as("d"))
      .as[(Long, Double)].collect().toMap
    truth.foreach { case (id, trueD) =>
      val bound = errs(id) + 1e-4
      assert(math.abs(adc(id) - trueD) <= bound,
        s"vec $id: |adc ${adc(id)} - true $trueD| exceeds reconstruction bound ${errs(id)}")
    }
  }

  test("kernel encode is bit-identical to the expression path") {
    // the expression fold is replayed in the spec; m·k = 32 and 64 sit on
    // either side of the size at which encode once switched between the two
    Seq(8, 16).foreach { k =>
      val cb = Pq.train(emb, "vec_id", "embedding", dims = 64, m = 4, k = k, iters = 1)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Int, Int, Int, Int)].collect().sortBy(_._1)
      assert(
        rows(Pq.encode(emb, "vec_id", "embedding", cb))
          .sameElements(rows(ExprArgmin.pq(emb, "vec_id", "embedding", cb))),
        s"kernel and expression encodes diverge at k=$k")
    }
  }

  test("codes are within the codebook range and encode is deterministic") {
    val cb = Pq.train(emb, "vec_id", "embedding", dims = 64, m = 4, k = 8, iters = 2)
    val a = Pq.encode(emb, "vec_id", "embedding", cb)
      .as[(Long, Int, Int, Int, Int)].collect().sortBy(_._1)
    assert(a.forall { case (_, c0, c1, c2, c3) =>
      Seq(c0, c1, c2, c3).forall(c => c >= 0 && c < 8)
    })
    val b = Pq.encode(emb, "vec_id", "embedding", cb)
      .as[(Long, Int, Int, Int, Int)].collect().sortBy(_._1)
    assert(a.sameElements(b), "encode is not deterministic")
  }
}
