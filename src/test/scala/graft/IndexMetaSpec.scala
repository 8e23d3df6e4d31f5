package graft

import graft.core.{IndexMeta, Tables}
import graft.llm.{AnnBuckets, Bm25, Dedup, IvfIndex, IvfPq}
import graft.multimodal.Multimodal
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The index-metadata reader (`graft.core.IndexMeta`) serves each index's
  * meta row and table schemas from one read per bootstrap; a re-bootstrap
  * by any writer must be seen by the next call, and a directory whose
  * sidecar is missing or of another format is refused by every family.
  */
class IndexMetaSpec extends AnyFunSuite {
  import IndexMetaSpec.Family
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while rain falls on the old stone bridge near town"

  private def old = Seq(
    (1L, base),
    (2L, "completely different tokens about spark catalyst optimizer plans and shuffles everywhere"))
    .toDF("doc_id", "text")

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  /** Survivor ids of one banded ingest step over `batch`. */
  private def ingest(dir: String, batch: DataFrame, gen: Long): Seq[Long] = {
    var ids = Seq.empty[Long]
    Dedup.ingestAppendBanded(batch, "doc_id", "text", dir, batchId = gen, simTau = 0.5) { s =>
      ids = s.select("doc_id").as[Long].collect().toSeq.sorted
    }
    ids
  }

  private val batch = Seq(
    (3L, base), // exact copy of indexed 1
    (4L, "fresh tokens never indexed before today ok")).toDF("doc_id", "text")

  private def sig0Type(dir: String) = spark.read.parquet(s"$dir/bands").schema("sig0").dataType

  test("a re-bootstrap that changes the hash family is seen by the next ingestAppendBanded") {
    val dir = tmp("meta_family")
    def boot(family: Dedup.SigHash, session: org.apache.spark.sql.SparkSession) =
      Dedup.writeBandedNearDupIndex(
        session.createDataFrame(old.collect().toSeq.map(r => (r.getLong(0), r.getString(1))))
          .toDF("doc_id", "text"),
        "doc_id", "text", dir, bands = 4, rowsPerBand = 2, family = family, nBuckets = 4)
    boot(Dedup.Md5, spark)
    assert(ingest(dir, batch, 0L) == Seq(4L), "sanity: the exact copy is dropped")
    assert(sig0Type(dir) == StringType)
    // in-process re-bootstrap under the other family: the reader's warm
    // entry (md5, string signatures) must not survive it
    boot(Dedup.XxHash64, spark)
    assert(Dedup.readBandedMeta(spark, dir).family == Dedup.XxHash64)
    assert(ingest(dir, batch, 0L) == Seq(4L),
      "a batch signed in the stale family matches nothing and keeps the exact copy")
    assert(sig0Type(dir) == LongType)
    assert(spark.read.parquet(s"$dir/bands").where(col("src_batch") === 0L).count() > 0)
    // and back, from a second session of the same application
    boot(Dedup.Md5, spark.newSession())
    assert(ingest(dir, batch, 0L) == Seq(4L))
    assert(sig0Type(dir) == StringType)
  }

  test("a re-bootstrap with another nBuckets is seen by topKPerQueryIndexed") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "beta gamma epsilon zeta eta"),
      (3L, "theta iota kappa alpha lambda"),
      (4L, "mu nu xi omicron pi rho sigma"),
      (5L, "tau upsilon phi chi psi omega alpha")).toDF("doc_id", "text")
    val queries = Seq((1L, "alpha gamma"), (2L, "zeta kappa omega"), (3L, "nu rho tau"))
      .toDF("q_id", "q_text")
    val terms = queries.select(explode(split(col("q_text"), " ")).as("t"))
    // the fixture means something only if some query term changes bucket
    assert(terms.where(Bm25.termBucket(col("t"), 8) =!= Bm25.termBucket(col("t"), 3)).count() > 0)
    def rows(df: DataFrame) =
      df.select("q_id", "doc_id", "score", "rn").as[(Long, Long, Double, Int)].collect().toSeq.sorted
    val want = rows(Bm25.topKPerQuery(docs, "doc_id", "text", queries, "q_id", "q_text", k = 3))
    val dir = tmp("meta_nbuckets")
    Bm25.writePostingsGen(docs, "doc_id", "text", dir, nBuckets = 8)
    assert(rows(Bm25.topKPerQueryIndexed(dir, queries, "q_id", "q_text", k = 3)) == want)
    Bm25.writePostingsGen(docs, "doc_id", "text", dir, nBuckets = 3)
    assert(rows(Bm25.topKPerQueryIndexed(dir, queries, "q_id", "q_text", k = 3)) == want,
      "query terms bucketed by the stale nBuckets probe the wrong buckets")

    // a re-bootstrap no writer in this JVM announced (another process's):
    // build elsewhere, move the directories into place — only the meta
    // sidecar's stamp can tell the reader
    val docs2 = docs.where(col("doc_id") =!= 3L)
    val want2 = rows(Bm25.topKPerQuery(docs2, "doc_id", "text", queries, "q_id", "q_text", k = 3))
    assert(want2 != want, "sanity: the second corpus ranks differently")
    val other = tmp("meta_nbuckets_other")
    Bm25.writePostingsGen(docs2, "doc_id", "text", other, nBuckets = 8)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("meta", "postings", "dfparts", "stats").foreach { t =>
      fs.delete(new Path(dir, t), true)
      require(fs.rename(new Path(other, t), new Path(dir, t)))
    }
    assert(rows(Bm25.topKPerQueryIndexed(dir, queries, "q_id", "q_text", k = 3)) == want2)
  }

  private lazy val families: Seq[Family] = {
    val tables  = Tables(spark, "/root/testdata/sf0.001")
    val emb     = tables.embeddings
    val media   = Multimodal.mediaFromDocuments(tables.documents).where(col("media_id") < 20)
    val queries = Seq((1L, "lazy dog")).toDF("q_id", "q_text")
    Seq(
      Family("Bm25.writePostingsGen",
        d => Bm25.writePostingsGen(old, "doc_id", "text", d, nBuckets = 4),
        d => Bm25.topKPerQueryIndexed(d, queries, "q_id", "q_text"),
        d => Bm25.appendToPostings(d, batch, "doc_id", "text", srcBatch = 1L)),
      Family("Dedup.writeBandedNearDupIndex",
        d => Dedup.writeBandedNearDupIndex(old, "doc_id", "text", d, bands = 4, rowsPerBand = 2,
          nBuckets = 4),
        d => Dedup.incrementalNearDupNewBanded(batch, "doc_id", "text", d),
        d => Dedup.appendBandedNearDupIndex(batch, "doc_id", "text", d, batchId = 0L)),
      Family("AnnBuckets.writeBucketsGen",
        d => AnnBuckets.writeBucketsGen(emb, "vec_id", "embedding", d, nBits = 4, nTables = 2,
          nProbes = 0),
        d => AnnBuckets.approxTopKIndexed(d, emb.limit(2), "vec_id", "embedding", k = 3),
        d => AnnBuckets.appendToBuckets(d, emb.limit(3), "vec_id", "embedding", srcBatch = 1L)),
      Family("Multimodal.writeFeaturesGen",
        d => Multimodal.writeFeaturesGen(media, d),
        d => Multimodal.readFeatures(d, spark),
        d => Multimodal.appendFeatures(d, media, srcBatch = 1L)),
      Family("IvfIndex.writeIndexGen",
        d => IvfIndex.writeIndexGen(emb, "vec_id", "embedding", d, nCells = 4),
        d => IvfIndex.approxTopKIndexed(d, emb.limit(2), "vec_id", "embedding", k = 3),
        d => IvfIndex.appendToIndex(d, emb.limit(3), "vec_id", "embedding", srcBatch = 1L)),
      Family("IvfPq.writeIndexGen",
        d => {
          val (idx, encoded) =
            IvfPq.build(emb, "vec_id", "embedding", dims = 64, nCells = 4, m = 4, k = 8)
          IvfPq.writeIndexGen(idx, encoded, d)
        },
        d => IvfPq.loadIndex(d, spark),
        d => IvfPq.appendToIndex(d, emb.limit(3), "vec_id", "embedding", srcBatch = 1L)))
  }

  test("every family refuses a directory without a sidecar or with another format") {
    families.foreach { f =>
      val dir  = tmp("meta_refusal")
      f.boot(dir)
      val meta = spark.read.parquet(s"$dir/meta")
      val rows = meta.collect()
      def refusals(why: String): Unit =
        Seq("read" -> f.read, "append" -> f.append).foreach { case (op, run) =>
          val e = intercept[IllegalArgumentException](run(dir))
          assert(e.getMessage.contains(why) && e.getMessage.contains(f.writer),
            s"${f.writer} $op: ${e.getMessage}")
        }
      // (a) no sidecar
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.delete(new Path(dir, "meta"), true))
      refusals("no meta sidecar")
      // (b) the family's own fields under another format
      IndexMeta.write(
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), meta.schema)
          .withColumn("format", lit("other")),
        dir)
      refusals("format other")
    }
  }
}

object IndexMetaSpec {

  /** One persisted index family: its bootstrap's name, the bootstrap
    * itself, and one read and one append against the built directory.
    */
  final case class Family(
      writer: String,
      boot: String => Unit,
      read: String => Any,
      append: String => Any)
}
