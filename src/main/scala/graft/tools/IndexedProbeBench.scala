package graft.tools

import graft.functions.GraftFunctions.dot
import graft.llm.AnnBuckets
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Measures the PERSISTED LSH index at the r14 operating points — the
  * BENCH_SF1.md evidence row for VERDICT r13 item 2 (multi-probe through
  * the persisted index): a plain autoTables index vs a probed
  * autoTablesProbed index on the clustered fixture, comparing table
  * count, on-disk bucket bytes, build wall, serve-batch query wall, and
  * recall@5 against exact ground truth for the same query batch. The
  * claim under test: the probed index reaches the plain index's recall
  * at ~1/(nProbes+1) the stored tables.
  *
  * Usage: IndexedProbeBench <fixtureDir> [sampleEvery=199]
  */
object IndexedProbeBench {
  def main(args: Array[String]): Unit = {
    val dir   = args(0)
    val every = args.lift(1).map(_.toLong).getOrElse(199L)
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n   = emb.count()
    val queries = emb.where(col("vec_id") % every === 0).localCheckpoint(true)
    val nQ      = queries.count()
    println(s"[idxprobe] corpus $dir n=$n queries=$nQ")

    // exact ground truth: per-query top-5 over the corpus (self excluded),
    // one broadcast join — queries are a bounded sample
    def base(df: DataFrame, p: String) = df.select(
      col("vec_id").as(s"${p}_id"),
      col("embedding").cast("array<double>").as(s"${p}_emb"))
      .withColumn(s"${p}_nrm", sqrt(dot(col(s"${p}_emb"), col(s"${p}_emb"))))
    val w = Window.partitionBy("a_id").orderBy(col("cos_sim").desc, col("b_id").asc)
    val gt = base(emb, "b")
      .join(broadcast(base(queries, "a")), col("a_id") =!= col("b_id"))
      .select(
        col("a_id"),
        col("b_id"),
        round(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select(col("a_id").cast("long"), col("b_id").cast("long"))
      .as[(Long, Long)]
      .collect()
      .toSet

    def du(path: String): Long = {
      def sz(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(sz).sum).getOrElse(0L)
        else f.length()
      sz(new java.io.File(path))
    }

    for ((label, nProbes) <- Seq(("plain_auto", 0), ("probed_auto_p2", 2))) {
      val idxDir = java.nio.file.Files.createTempDirectory(s"idxprobe_$label").toString
      val t0     = System.nanoTime()
      AnnBuckets.writeBuckets(emb, "vec_id", "embedding", idxDir,
        nTables = AnnBuckets.Auto, nProbes = nProbes)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val tables = AnnBuckets.readBucketsMeta(idxDir, spark).nTables
      val bytes  = du(s"$idxDir/buckets")
      def queryOnce(): Set[(Long, Long)] = AnnBuckets
        .approxTopKIndexed(idxDir, queries, "vec_id", "embedding", k = 5)
        .select(col("a_id").cast("long"), col("b_id").cast("long"))
        .as[(Long, Long)]
        .collect()
        .toSet
      val warmRes = queryOnce()
      val t1      = System.nanoTime()
      queryOnce()
      val tQuery = (System.nanoTime() - t1) / 1e9
      val recall = (gt intersect warmRes).size.toDouble / gt.size
      println(f"[idxprobe] $label%-15s tables=$tables%2d bytes=${bytes / 1e6}%.1fMB " +
        f"build=$tBuild%.1fs query($nQ)=$tQuery%.2fs recall@5=$recall%.3f")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))
    }
    spark.stop()
  }
}
