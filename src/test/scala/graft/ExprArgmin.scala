package graft

import graft.core.Cols
import graft.functions.GraftFunctions.dot
import graft.llm.{KMeans, Pq, SemDedup}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Catalyst-expression replays of the quantizer argmins: the independent
  * references the kernel parity specs compare against. Each inlines the
  * centroids as literals and folds over projected distance columns (a
  * fold over the distance expressions themselves would re-embed the
  * accumulated tree at every level), so none shares code with the kernel
  * it checks. Null ids and embeddings are dropped, as the kernels do.
  */
object ExprArgmin {

  private def base(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb
      .select(
        Cols.q(idCol).cast("long").as("vec_id"),
        Cols.q(vecCol).cast("array<double>").as("__emb"))
      .where(col("vec_id").isNotNull && col("__emb").isNotNull)

  private def sq(c: Array[Double]): Double = c.map(x => x * x).sum

  /** Rounded euclidean distance to a literal centroid, expansion form. */
  private def roundedDist(s2: Column, vec: Column, c: Array[Double]): Column =
    round(sqrt(greatest(s2 - lit(2.0) * dot(vec, typedlit(c.toSeq)) + lit(sq(c)), lit(0.0))), 6)

  /** [[KMeans.assign]]'s contract: (vec_id, cluster, dist, __emb), argmin
    * of the rounded distance, strict-< over labels in ascending order.
    */
  def kmeans(emb: DataFrame, idCol: String, vecCol: String, cents: Array[KMeans.Centroid]): DataFrame = {
    val sorted = cents.sortBy(_.label)
    val withDs = base(emb, idCol, vecCol)
      .withColumn("__s2", dot(col("__emb"), col("__emb")))
      .select(col("vec_id") +: col("__emb") +: sorted.zipWithIndex.map { case (c, i) =>
        roundedDist(col("__s2"), col("__emb"), c.vec).as(s"__d_$i")
      }: _*)
    val (bestL, bestD) = sorted.zipWithIndex.tail.foldLeft((lit(sorted.head.label), col("__d_0"))) {
      case ((l, d0), (c, i)) =>
        val d = col(s"__d_$i")
        (when(d < d0, lit(c.label)).otherwise(l), least(d, d0))
    }
    withDs.select(col("vec_id"), bestL.as("cluster"), bestD.as("dist"), col("__emb"))
  }

  /** [[SemDedup.assignCells]]'s contract: (vec_id, cell), argmax of the
    * rounded cosine, strict-> over seeds in ascending id order.
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String, seeds: Array[SemDedup.Seed]): DataFrame = {
    val sorted = seeds.sortBy(_.id)
    val withCs = base(emb, idCol, vecCol)
      .withColumn("__nrm", sqrt(dot(col("__emb"), col("__emb"))))
      .select(col("vec_id") +: sorted.zipWithIndex.map { case (s, i) =>
        round(dot(col("__emb"), typedlit(s.vec.toSeq)) / (col("__nrm") * lit(s.nrm)), 6).as(s"__cs_$i")
      }: _*)
    val (bestId, _) = sorted.zipWithIndex.tail.foldLeft((lit(sorted.head.id), col("__cs_0"))) {
      case ((id, c0), (s, i)) =>
        val cs = col(s"__cs_$i")
        (when(cs > c0, lit(s.id)).otherwise(id), greatest(cs, c0))
    }
    withCs.select(col("vec_id"), bestId.as("cell"))
  }

  /** [[Pq.encode]]'s contract: (vec_id, code0..code{m-1}), per subspace
    * the rounded-distance argmin, smaller index on ties.
    */
  def pq(emb: DataFrame, idCol: String, vecCol: String, cb: Pq.Codebooks): DataFrame = {
    val withDs = base(emb, idCol, vecCol).select(col("vec_id") +: (0 until cb.m).flatMap { s =>
      val sub = slice(col("__emb"), s * cb.subDim + 1, cb.subDim)
      cb.books(s).zipWithIndex.map { case (c, i) =>
        roundedDist(dot(sub, sub), sub, c).as(s"__pd_${s}_$i")
      }
    }: _*)
    val codes = (0 until cb.m).map { s =>
      val (code, _) = (1 until cb.books(s).length).foldLeft((lit(0), col(s"__pd_${s}_0"))) {
        case ((bestI, bestD), i) =>
          val d = col(s"__pd_${s}_$i")
          (when(d < bestD, lit(i)).otherwise(bestI), least(d, bestD))
      }
      code.as(s"code$s")
    }
    withDs.select(col("vec_id") +: codes: _*)
  }
}
