package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scales the driver testdata up by an integer factor for bench-only runs
  * at larger scale points (BASELINE.md anticipates an sf1 section; the
  * driver ships sf0.001/0.01/0.1). Each table is replicated `factor`
  * times with disjoint key ranges — every key column is offset by
  * `copy * (max_key + 1)` consistently across fact and dimension tables,
  * so per-copy join cardinalities and group sizes match the source and
  * aggregate row counts scale linearly. Shared dims (region, nation) are
  * copied as-is, mirroring how TPC-H holds them constant across SFs.
  *
  * Documents get a per-copy text prefix (and n_chars adjusted to match)
  * so replication does not plant cross-copy duplicate texts that would
  * quadratically inflate dedup-style pair counts; embeddings keep their
  * vectors (cosine work per pair is value-independent).
  *
  * `--skew` additionally redirects ~20% of scaled orders (o_orderkey ≡ 0
  * mod 5, deterministic) onto ONE hot customer key, so the orders⋈customer
  * side of q02/q03-style plans carries a single giant key — the shape AQE
  * skew-join / salting exists for. Only o_custkey is rewritten; orderkeys
  * (and thus lineitem joins and row counts) are unchanged, and the hot key
  * is printed so bench notes can name it.
  *
  * Bench-only: the generated dir serves `graft.Bench` (as
  * `SPARK_GRAFT_SF_DIR`) at the new scale; correctness stays gated on the
  * shipped testdata.
  *
  * Usage: GenScale <srcDir> <outDir> <factor> [--skew]
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val skew = args.contains("--skew")
    val Array(srcDir, outDir, factorS) = args.filterNot(_ == "--skew")
    val factor = factorS.toInt
    val spark = SparkSession
      .builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val copies = spark.range(factor).select(col("id").cast("int").as("__copy"))

    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    /** Replicate with each (column -> stride) offset by __copy * stride. */
    def scale(df: DataFrame, offsets: (String, Long)*): DataFrame = {
      val out = df.crossJoin(broadcast(copies))
      val shifted = offsets.foldLeft(out) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + col("__copy").cast("long") * s)
      }
      shifted.drop("__copy")
    }

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    val src  = graft.core.Tables(spark, srcDir)
    val custS = stride(src.customer, "c_custkey")
    val ordS  = stride(src.orders, "o_orderkey")
    val partS = stride(src.part, "p_partkey")
    val suppS = stride(src.supplier, "s_suppkey")

    write(src.region, "region", 1)
    write(src.nation, "nation", 1)
    write(scale(src.customer, "c_custkey" -> custS), "customer", 4)
    write(scale(src.supplier, "s_suppkey" -> suppS), "supplier", 1)
    write(scale(src.part, "p_partkey" -> partS), "part", 4)
    val ordersScaled = scale(src.orders, "o_orderkey" -> ordS, "o_custkey" -> custS)
    val orders =
      if (!skew) ordersScaled
      else {
        // hot key must exist in the scaled customer table: copy-0 custkey 1
        val hot = 1L
        println(s"[genscale] --skew: ~20% of orders redirected to o_custkey=$hot")
        ordersScaled.withColumn(
          "o_custkey",
          when(pmod(col("o_orderkey"), lit(5)) === 0, lit(hot)).otherwise(col("o_custkey")))
      }
    write(orders, "orders", 8)
    write(
      scale(src.lineitem, "l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS),
      "lineitem",
      32)

    val evS   = stride(src.events, "event_id")
    val userS = stride(src.events, "user_id")
    // ts comes out of Tables.events as a micros timestamp; written back as
    // TIMESTAMP(MICROS), which Tables.events passes through unchanged and
    // DuckDB reads natively
    write(scale(src.events, "event_id" -> evS, "user_id" -> userS), "events", 16)

    val docS = stride(src.documents, "doc_id")
    val docs = scale(src.documents, "doc_id" -> docS)
      .withColumn("__pfx", concat(lit("c"), expr(s"doc_id div $docS").cast("string"), lit(" ")))
      .withColumn("text", concat(col("__pfx"), col("text")))
      .withColumn("n_chars", col("n_chars") + length(col("__pfx")))
      .drop("__pfx")
    write(docs, "documents", 8)

    val vecS = stride(src.embeddings, "vec_id")
    write(scale(src.embeddings, "vec_id" -> vecS), "embeddings", 4)

    println(s"[genscale] wrote $outDir at factor $factor from $srcDir")
    spark.stop()
  }
}
