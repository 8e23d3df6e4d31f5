package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.clean.CleanData
import graft.core.Tables
import graft.encode.EncodeData
import graft.llm.{Bm25, Dedup}
import graft.model.RunModel
import graft.na.WrangleNa
import graft.transform.{GelmanStandardize, TransformData}
import graft.viz.ConfIntChart

/** What an op hands back: its input item count, its result row count,
  * and the output check, which runs after the op's timer has stopped.
  */
final case class Done(items: Long, resultRows: Long, check: () => Checked)

/** An output check's verdict plus any per-op numbers it measured. */
final case class Checked(error: Option[String], layers: Map[String, Double] = Map.empty)

trait Workload {

  /** Read generated inputs and the expected values computed for them. */
  def load(): Unit

  /** One full set-up of the program's state; the last one is used. */
  def setup(rep: Int): Unit

  /** Per-run numbers from set-up (e.g. index size per input byte). */
  def setupLayers: Map[String, Double] = Map.empty

  /** How many ops the generated inputs can feed. */
  def capacity: Int = Int.MaxValue

  def op(i: Int, tr: Tracer): Done
}

object Workload {
  def apply(name: String, spark: SparkSession, inputs: String, work: String): Workload = name match {
    case "prep_pipeline"  => new PrepPipeline(spark, inputs)
    case "lexical_search" => new LexicalSearch(spark, inputs, work)
    case "index_ingest"   => new IndexIngest(spark, inputs, work)
    case other            => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def props(inputs: String): java.util.Properties = {
    val p  = new java.util.Properties()
    val in = new java.io.FileInputStream(s"$inputs/info.properties")
    try p.load(in)
    finally in.close()
    p
  }

  /** Rows of a tab-separated expectations file, read without Spark. */
  def tsv(path: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector
    finally src.close()
  }

  /** (files, bytes) of the regular files under `dir`. */
  def du(dir: String): (Long, Long) = {
    def walk(f: File): (Long, Long) =
      if (f.isFile) (1L, f.length())
      else
        Option(f.listFiles()).toSeq.flatten.map(walk).foldLeft((0L, 0L)) { case ((a, b), (c, d)) =>
          (a + c, b + d)
        }
    walk(new File(dir))
  }

  /** Postings bucket count, as the declared q145/q146 searches use. */
  val PostingsBuckets = 16

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-7 + 1e-6 * math.abs(b)
}

/** The reference chain as `E2EPipeline.run` composes it after retrieve. */
final class PrepPipeline(spark: SparkSession, inputs: String) extends Workload {
  private val Cols   = Seq("l_extendedprice", "l_quantity", "l_discount", "l_tax", "l_returnflag", "l_linestatus")
  private val Transf = Seq("l_extendedprice", "l_quantity")
  private val Endog  = "l_extendedprice"
  private val Exog   = Seq("l_quantity", "l_discount", "l_tax", "l_returnflag_R", "l_linestatus_O")

  private var expected: Map[String, Double] = Map.empty
  private var rows                          = 0L

  def load(): Unit =
    expected = Workload.tsv(s"$inputs/expected_coef.tsv").map(r => r(0) -> r(1).toDouble).toMap

  def setup(rep: Int): Unit = {
    Tables.invalidate(inputs)
    rows = Tables(spark, inputs).lineitem.count()
  }

  def op(i: Int, tr: Tracer): Done = {
    val raw          = Tables(spark, inputs).lineitem.select(Cols.map(col): _*)
    val cleaned      = tr.span("clean.call")(CleanData(raw))
    val encoded      = tr.span("encode.call")(EncodeData(cleaned))
    val imputed      = tr.span("na.call")(WrangleNa(encoded, "fi"))
    val transformed  = tr.span("transform.arcsinh")(TransformData(imputed, Transf, "arcsinh"))
    val standardized = tr.span("transform.gelman")(GelmanStandardize(transformed))
    val model        = tr.span("model.call")(RunModel(standardized.df, Endog, Exog))
    val spec         = tr.span("viz.call")(ConfIntChart.vegaLiteSpec(model))
    Done(rows, 0L, () => {
      val got = model.regressors.zip(model.coef).toMap
      val err =
        if (got.keySet != expected.keySet)
          Some(s"regressors ${model.regressors.mkString(",")} != ${expected.keys.toSeq.sorted.mkString(",")}")
        else if (model.n != rows) Some(s"model n=${model.n}, expected $rows")
        else
          expected.collectFirst {
            case (k, v) if !Workload.close(got(k), v) => s"coef $k=${got(k)}, expected $v"
          }.orElse(model.regressors.find(r => !spec.contains(r)).map(r => s"chart spec lacks $r"))
      Checked(err)
    })
  }
}

/** Query batches against a generational postings index built in set-up. */
final class LexicalSearch(spark: SparkSession, inputs: String, work: String) extends Workload {
  private var batches: IndexedSeq[DataFrame]                        = IndexedSeq.empty
  private var batchSizes: IndexedSeq[Long]                          = IndexedSeq.empty
  private var expected: Map[Int, Seq[(Long, Long, Double, Int)]]    = Map.empty
  private var indexDir                                              = ""
  private var layers: Map[String, Double]                           = Map.empty

  def load(): Unit = {
    val schema  = StructType(Seq(StructField("q_id", LongType), StructField("q_text", StringType)))
    val byBatch = Workload.tsv(s"$inputs/queries.tsv").groupBy(_(0).toInt)
    batches = (0 until byBatch.size).map { b =>
      val rows = byBatch(b).map(r => Row(r(1).toLong, r(2)))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
    batchSizes = (0 until byBatch.size).map(b => byBatch(b).size.toLong)
    expected = Workload
      .tsv(s"$inputs/expected_topk.tsv")
      .groupBy(_(0).toInt)
      .map { case (b, rs) =>
        b -> rs.map(r => (r(1).toLong, r(2).toLong, r(3).toDouble, r(4).toInt)).sortBy(t => (t._1, t._4))
      }
  }

  def setup(rep: Int): Unit = {
    indexDir = s"$work/postings_$rep"
    Bm25.writePostingsGen(
      spark.read.parquet(s"$inputs/docs_boot.parquet"), "doc_id", "text", indexDir, nBuckets = Workload.PostingsBuckets)
    Bm25.appendToPostings(
      indexDir, spark.read.parquet(s"$inputs/docs_append.parquet"), "doc_id", "text", srcBatch = 1L)
    val textBytes = Workload.props(inputs).getProperty("corpus_text_bytes").toDouble
    layers = Map("index_bytes_per_input_byte" -> Workload.du(indexDir)._2 / textBytes)
  }

  override def setupLayers: Map[String, Double] = layers

  // a fresh batch per op: no batch repeats within a run
  override def capacity: Int = batches.size

  def op(i: Int, tr: Tracer): Done = {
    val b    = i
    val res  = tr.span("bm25.resolve")(Bm25.topKPerQueryIndexed(indexDir, batches(b), "q_id", "q_text", k = 10))
    val rows = tr.span("bm25.execute")(res.collect())
    Done(batchSizes(b), rows.length.toLong, () => {
      val got = rows.toSeq
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"), r.getAs[Double]("score"), r.getAs[Int]("rn")))
        .sortBy(t => (t._1, t._4))
      val want = expected.getOrElse(b, Nil)
      val err =
        if (got.size != want.size) Some(s"batch $b: ${got.size} result rows, expected ${want.size}")
        else
          got.zip(want).collectFirst {
            case (g, w) if g._1 != w._1 || g._2 != w._2 || g._4 != w._4 || !Workload.close(g._3, w._3) =>
              s"batch $b: got $g, expected $w"
          }
      Checked(err)
    })
  }
}

/** Generational ingest: banded near-dup dedup, survivors written inside
  * the dedup step's callback, then the survivors appended to postings.
  */
final class IndexIngest(spark: SparkSession, inputs: String, work: String) extends Workload {
  // per batch: (doc_id, kind, src_id, text bytes)
  private var plan: Map[Int, Seq[(Long, String, Long, Long)]] = Map.empty
  private var oldIds: Set[Long]                             = Set.empty
  private var ixDir, postDir                                = ""
  private var indexed: Set[Long]                            = Set.empty
  private var postingsN                                     = 0.0
  private var ixSize, postSize                              = (0L, 0L)

  override def capacity: Int = plan.size

  def load(): Unit = {
    plan = Workload
      .tsv(s"$inputs/batch_plan.tsv")
      .groupBy(_(0).toInt)
      .map { case (b, rs) => b -> rs.map(r => (r(1).toLong, r(2), r(3).toLong, r(4).toLong)) }
    oldIds = (0L until Workload.props(inputs).getProperty("old_docs").toLong).toSet
  }

  def setup(rep: Int): Unit = {
    ixDir = s"$work/neardup_$rep"
    postDir = s"$work/postings_$rep"
    val old = spark.read.parquet(s"$inputs/docs_old.parquet")
    Dedup.writeBandedNearDupIndex(old, "doc_id", "text", ixDir, bands = 4, rowsPerBand = 4, nBuckets = 8)
    Bm25.writePostingsGen(old, "doc_id", "text", postDir, nBuckets = Workload.PostingsBuckets)
    indexed = oldIds
    postingsN = oldIds.size.toDouble
    ixSize = Workload.du(ixDir)
    postSize = Workload.du(postDir)
  }

  private def survivorDir(g: Int) = s"$work/survivors/batch_id=$g"

  def op(i: Int, tr: Tracer): Done = {
    val g     = i
    val batch = spark.read.parquet(f"$inputs/batches/batch=$g%05d")
    tr.span("dedup.append") {
      Dedup.ingestAppendBanded(batch, "doc_id", "text", ixDir, batchId = g.toLong) { survivors =>
        tr.span("dedup.survivors") {
          // one row per row Dedup returned, text looked up in the batch:
          // a duplicated or foreign survivor id stays visible to the check
          survivors
            .select("doc_id")
            .join(batch, Seq("doc_id"), "left")
            .write
            .mode("overwrite")
            .parquet(survivorDir(g))
        }
      }
    }
    tr.span("bm25.append") {
      Bm25.appendToPostings(postDir, spark.read.parquet(survivorDir(g)), "doc_id", "text", srcBatch = g + 1L)
    }
    val rows = plan(g)
    Done(rows.size.toLong, 0L, () => check(g, rows))
  }

  private def check(g: Int, rows: Seq[(Long, String, Long, Long)]): Checked = {
    val written  = spark.read.parquet(survivorDir(g)).select("doc_id", "text").collect()
    val survIds  = written.map(_.getLong(0)).toSeq
    val surv     = survIds.toSet
    val batchIds = rows.map(_._1).toSet
    val n = spark.read.parquet(s"$postDir/stats").agg(sum(col("__n"))).head().getDouble(0)
    val keptCopy = rows.collectFirst {
      case (id, "exact", src, _) if indexed.contains(src) && surv.contains(id) => (id, src)
    }
    val err =
      if (survIds.size != surv.size) Some(s"batch $g: ${survIds.size - surv.size} duplicated survivor ids")
      else if (!surv.subsetOf(batchIds) || written.exists(_.isNullAt(1)))
        Some(s"batch $g: survivors outside the batch: ${(surv -- batchIds).take(5)}")
      else if (keptCopy.nonEmpty) Some(s"batch $g: exact copy ${keptCopy.get._1} of indexed ${keptCopy.get._2} kept")
      else if (n != postingsN + surv.size) Some(s"batch $g: postings N=$n, expected ${postingsN + surv.size}")
      else None
    indexed ++= surv
    postingsN = n
    val ix   = Workload.du(ixDir)
    val post = Workload.du(postDir)
    val textBytes = rows.map(_._4).sum.toDouble
    val layers = Map(
      "dedup.survivor_ratio"       -> surv.size.toDouble / rows.size,
      "dedup.files_written"        -> (ix._1 - ixSize._1).toDouble,
      "bm25.files_written"         -> (post._1 - postSize._1).toDouble,
      "dedup.index_bytes"          -> (ix._2 - ixSize._2).toDouble,
      "bm25.index_bytes"           -> (post._2 - postSize._2).toDouble,
      "index_bytes_per_input_byte" -> ((ix._2 - ixSize._2) + (post._2 - postSize._2)) / textBytes)
    ixSize = ix
    postSize = post
    Checked(err, layers)
  }
}
