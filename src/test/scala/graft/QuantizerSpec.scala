package graft

import graft.llm.{IvfIndex, IvfPq, KMeans, Pq, SemDedup}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts every centroid-assignment kernel shares: KMeans, SemDedup,
  * IVF, PQ and IVFADC each assign through one broadcast kernel, whatever
  * the centroid count.
  */
class QuantizerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val emb = graft.core.Tables(spark, "/root/testdata/sf0.001").embeddings

  private def kmeansCents(k: Int, salt: String = "kmeans") =
    KMeans.initCentroids(emb, "vec_id", "embedding", k, salt)

  private def ivfCents(nCells: Int, iters: Int = 3) =
    IvfIndex.trainCentroids(emb, "vec_id", "embedding", nCells, iters)

  private def pqBooks(k: Int, iters: Int = 0) =
    Pq.train(emb, "vec_id", "embedding", dims = 64, m = 4, k = k, iters = iters)

  private def ivfPqIndex(nCells: Int) = {
    val cents = ivfCents(nCells)
    val res   = IvfPq.residualKernelFrame(emb, "vec_id", "embedding", cents)
    IvfPq.IvfPqIndex(cents, Pq.train(res, "vec_id", "res", dims = 64, m = 4, k = 8, iters = 0))
  }

  test("every quantizer kernel drops null-id and null-embedding rows, at any centroid count") {
    val embType = emb.schema("embedding").dataType
    // one row with a null embedding, one with a null id, both new ids
    val nulls = emb.where(col("vec_id") === 1L).select(emb.columns.map {
      case "vec_id"    => lit(1000000L).as("vec_id")
      case "embedding" => lit(null).cast(embType).as("embedding")
      case c           => col(c)
    }: _*).union(emb.where(col("vec_id") === 2L).withColumn("vec_id", lit(null).cast("long")))
    val dirty = emb.union(nulls)
    // centroid counts on both sides of the sizes at which assignment once
    // forked between an expression fold and a kernel (k 16, m·k 32, 128 cells)
    val cases: Seq[(String, DataFrame => DataFrame)] =
      Seq(5, 20).map { k =>
        val cents = kmeansCents(k)
        s"KMeans.assign k=$k" -> ((df: DataFrame) =>
          KMeans.assign(df, "vec_id", "embedding", cents).select("vec_id", "cluster", "dist"))
      } ++ Seq(8, 20).map { k =>
        val seeds = SemDedup.pickSeeds(emb, "vec_id", "embedding", k)
        s"SemDedup.assignCells k=$k" -> ((df: DataFrame) =>
          SemDedup.assignCells(df, "vec_id", "embedding", seeds).select("vec_id", "cell"))
      } ++ Seq(8, 130).map { n =>
        s"IvfIndex.approxTopK nCells=$n" -> ((df: DataFrame) =>
          IvfIndex.approxTopK(df, "vec_id", "embedding", k = 3, nCells = n, nProbe = 2))
      } ++ Seq(8, 16).flatMap { k =>
        val cb = pqBooks(k)
        Seq(
          s"Pq.encode m·k=${4 * k}" -> ((df: DataFrame) => Pq.encode(df, "vec_id", "embedding", cb)),
          s"Pq.reconstructionError m·k=${4 * k}" -> ((df: DataFrame) =>
            Pq.reconstructionError(df, "vec_id", "embedding", cb)))
      } ++ Seq(8, 130).flatMap { n =>
        val idx = ivfPqIndex(n)
        Seq(
          s"IvfPq.residualKernelFrame nCells=$n" -> ((df: DataFrame) =>
            IvfPq.residualKernelFrame(df, "vec_id", "embedding", idx.centroids)),
          s"IvfPq.encodeForIndex nCells=$n" -> ((df: DataFrame) =>
            IvfPq.encodeForIndex(df, "vec_id", "embedding", idx)))
      }
    cases.foreach { case (name, f) =>
      withClue(s"$name: ") { TestSpark.assertFrameEqual(f(dirty), f(emb)) }
    }
  }

  test("a second centroid set of the same shape compiles no new code") {
    // centroid values never reach generated code, so the second call's
    // plans are the first call's; counts at or below the old fork sizes
    // (k 16, m·k 32, 128 cells), where the expression folds inlined them
    def compiles(f: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      f
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    def drain(df: DataFrame): Unit = df.collect()
    val (km1, km2) = (kmeansCents(5, "a"), kmeansCents(5, "b"))
    val (sd1, sd2) = (
      SemDedup.pickSeeds(emb, "vec_id", "embedding", 8, "a"),
      SemDedup.pickSeeds(emb, "vec_id", "embedding", 8, "b"))
    val (cb1, cb2) = (pqBooks(8, iters = 0), pqBooks(8, iters = 1))
    assert(km1.map(_.label).toSeq != km2.map(_.label).toSeq)
    assert(sd1.map(_.id).toSeq != sd2.map(_.id).toSeq)
    def flat(a: Array[Array[Double]]): Seq[Double] = a.toSeq.flatMap(_.toSeq)
    assert(cb1.books.toSeq.map(flat) != cb2.books.toSeq.map(flat))
    // approxTopK trains its own centroids: the iteration count moves them
    assert(flat(ivfCents(8, iters = 1)) != flat(ivfCents(8, iters = 3)))
    val cases: Seq[(String, () => Unit, () => Unit)] = Seq(
      ("KMeans.assign",
        () => drain(KMeans.assign(emb, "vec_id", "embedding", km1)),
        () => drain(KMeans.assign(emb, "vec_id", "embedding", km2))),
      ("SemDedup.assignCells",
        () => drain(SemDedup.assignCells(emb, "vec_id", "embedding", sd1)),
        () => drain(SemDedup.assignCells(emb, "vec_id", "embedding", sd2))),
      ("IvfIndex.approxTopK",
        () => drain(IvfIndex.approxTopK(emb, "vec_id", "embedding", k = 3, nCells = 8, iters = 1)),
        () => drain(IvfIndex.approxTopK(emb, "vec_id", "embedding", k = 3, nCells = 8, iters = 3))),
      ("Pq.encode",
        () => drain(Pq.encode(emb, "vec_id", "embedding", cb1)),
        () => drain(Pq.encode(emb, "vec_id", "embedding", cb2))))
    val grown = cases.map { case (name, first, second) =>
      compiles(first())
      name -> compiles(second())
    }
    info(grown.map { case (n, c) => s"$n: $c" }.mkString(", "))
    assert(grown.forall(_._2 == 0L), s"compilations on the second centroid set: $grown")
  }
}
