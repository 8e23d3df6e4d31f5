package graft.llm

import graft.TestSpark
import graft.core.Tables
import graft.functions.GraftFunctions.dot
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the multi-probe LSH candidate kernel
  * ([[AnnBuckets.candidatePairsMultiProbe]]) to the production per-table
  * union ([[AnnBuckets.candidatePairs]]): with no probes the candidate-pair
  * SET and every pair's cos_sim are identical, and with probes it is a
  * symmetric superset. The per-table union itself is production by
  * measurement (see the candidatePairs scaladoc and BENCH_SF1.md
  * "Round-13: LSH candidate-mining fusion").
  */
class CandidatePairsParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def base = {
    val emb = Tables(spark, dir).embeddings
    emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
  }

  test("multi-probe with nProbes=0 degenerates to the per-table production kernel") {
    for ((bits, tables, seed) <- Seq((4, 3, 42L), (3, 7, 1234L))) {
      val mp = AnnBuckets
        .candidatePairsMultiProbe(base, bits, 64, tables, nProbes = 0, seed)
        .as[(Long, Long, Double)]
        .collect()
        .toSet
      val production = AnnBuckets
        .candidatePairs(base, bits, 64, tables, seed)
        .as[(Long, Long, Double)]
        .collect()
        .toSet
      assert(production.nonEmpty, s"no candidates at bits=$bits tables=$tables")
      assert(mp == production,
        s"nProbes=0 divergence at bits=$bits tables=$tables seed=$seed: " +
          s"mpOnly=${(mp -- production).take(3)} prodOnly=${(production -- mp).take(3)}")
    }
  }

  test("multi-probe candidate set is a symmetric superset of the plain set") {
    val (bits, tables, seed) = (4, 2, 42L)
    val plain = AnnBuckets.candidatePairs(base, bits, 64, tables, seed)
      .as[(Long, Long, Double)].collect().toSet
    val mp = AnnBuckets.candidatePairsMultiProbe(base, bits, 64, tables, nProbes = 2, seed)
      .as[(Long, Long, Double)].collect().toSet
    assert(plain.subsetOf(mp),
      s"plain pairs missing from the multi-probe set: ${(plain -- mp).take(3)}")
    assert(mp.size > plain.size, "2 probes must add candidates on this fixture")
    val ids = mp.map(t => (t._1, t._2))
    assert(ids.forall { case (a, b) => ids.contains((b, a)) },
      "multi-probe pair set must contain both directions of every pair")
  }
}
