package graft.flow

import graft.clean.CleanData
import graft.core.{GraftFrame, Sanitize}
import graft.encode.EncodeData
import graft.model.{RegressionResult, RunModel}
import graft.na.WrangleNa
import graft.transform.{GelmanStandardize, TransformData}
import graft.viz.ConfIntChart
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end pipeline — reference `e2e_pipeline` flow
  * (`/root/reference/src/flow.py:19–52`): retrieve → clean → encode →
  * wrangle_na → transform → standardize → OLS → CI chart spec. Parameter
  * names and defaults mirror flow.py:22–30; user-supplied column lists are
  * sanitized exactly like headers so `' cOLUmn  4 '` matches `column_4`
  * (flow.py:33–36).
  *
  * Where the reference materializes the full frame between every Prefect
  * task, every stage here is a lazy DataFrame transform: the whole
  * preprocessing chain collapses into one Catalyst plan. Its data-dependent
  * statistics come from one profile job in `CleanData` (read again by
  * `EncodeData` and `WrangleNa.fi`), plus one job each in
  * `GelmanStandardize` and `RunModel` (SURVEY.md §3).
  */
final case class PipelineConfig(
    url: String,
    sep: String = ",",
    nrows: Option[Int] = None,
    catCols: Seq[String] = Nil,
    orderedCols: Seq[String] = Nil,
    categories: Map[String, Seq[String]] = Map.empty,
    naValues: Seq[Any] = Nil,
    naStrategy: String = "cc",
    transfCols: Seq[String] = Nil,
    transfFunc: String = "arcsinh",
    endog: String,
    exog: Seq[String])

final case class PipelineResult(
    data: DataFrame,
    model: RegressionResult,
    chartSpec: String)

object E2EPipeline {

  /** Reference retry policy (tasks.py:61: max_retries=3, delay 10 s — i.e.
    * up to 4 attempts total) for remote sources; only non-fatal errors
    * retry, and local file errors are not retried at all.
    */
  private[flow] def withRetries[T](retries: Int, delayMs: Long)(f: => T): T = {
    var attemptsLeft = retries + 1
    while (true) {
      try return f
      catch {
        case scala.util.control.NonFatal(_) if attemptsLeft > 1 =>
          attemptsLeft -= 1
          Thread.sleep(delayMs)
      }
    }
    sys.error("unreachable")
  }

  /** `retrieve_data` (tasks.py:61–97): CSV with header + schema inference,
    * optional row limit, drop pandas-style `Unnamed` index columns.
    *
    * The reference's documented entry point is a CSV **URL**
    * (`pd.read_csv(url)`, tasks.py:94). Hadoop ships no http(s)
    * FileSystem, so remote URLs are downloaded to a driver-local temp
    * file (java.net.http, follows redirects) inside the retry loop, then
    * read like any local file. The download is driver-side by design:
    * retrieve_data is the small-config-CSV entry of the reference
    * pipeline, not a bulk-data path — 100 TB inputs arrive as parquet
    * directories via [[graft.core.Tables]].
    */
  def retrieveData(spark: SparkSession, url: String, sep: String = ",", nrows: Option[Int] = None): DataFrame = {
    val remote = url.matches("^https?://.*")
    if (remote)
      withRetries(3, 10000L) {
        // explicit file:// scheme: a scheme-less temp path would resolve
        // against the default filesystem (HDFS/S3 on a real cluster) and
        // never be found. LIMITATION: the temp file is driver-local, so on
        // a multi-node cluster executors can't scan it — acceptable for
        // this entry point (the reference's small-config-CSV URL,
        // tasks.py:94); bulk remote data belongs in shared storage read
        // via Tables. A shared-FS staging copy is the upgrade path.
        readCsv(spark, download(url).toUri.toString, sep, nrows)
      }
    else readCsv(spark, url, sep, nrows)
  }

  private def download(url: String): java.nio.file.Path = {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val client = HttpClient.newBuilder()
      .followRedirects(HttpClient.Redirect.NORMAL)
      .connectTimeout(java.time.Duration.ofSeconds(30))
      .build()
    val req = HttpRequest.newBuilder(java.net.URI.create(url)).GET().build()
    val tmp = java.nio.file.Files.createTempFile("retrieve_data", ".csv")
    tmp.toFile.deleteOnExit()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofFile(tmp))
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(s"retrieve_data: HTTP ${resp.statusCode()} from $url")
    tmp
  }

  private def readCsv(spark: SparkSession, url: String, sep: String, nrows: Option[Int]): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("sep", sep)
      .option("inferSchema", "true")
      .csv(url)
    val limited = nrows.fold(df)(df.limit)
    // only pandas-style "Unnamed: N" headers and Spark's generated _c<digit>
    // placeholders — a real user column like "_cost" must survive
    val unnamed = limited.columns.filter(c => c.contains("Unnamed") || c.matches("_c\\d+"))
    limited.drop(unnamed.toIndexedSeq: _*)
  }

  def run(spark: SparkSession, cfg: PipelineConfig): PipelineResult = {
    val san = (s: Seq[String]) => Sanitize.sanitizeColNames(s).getOrElse(Nil)

    val raw = retrieveData(spark, cfg.url, cfg.sep, cfg.nrows)
    val cleaned = CleanData(
      raw,
      naValues = cfg.naValues,
      catCols = cfg.catCols,
      orderedCols = cfg.orderedCols,
      categories = cfg.categories)
    // order per flow.py:38–52: encode BEFORE wrangle_na — imputation runs on
    // the dummy-encoded frame
    val encoded  = EncodeData(cleaned)
    val wrangled = WrangleNa(encoded, cfg.naStrategy)
    val transformed =
      if (cfg.transfCols.isEmpty) wrangled
      else TransformData(wrangled, san(cfg.transfCols), cfg.transfFunc)
    val standardized = GelmanStandardize(transformed)

    val model = RunModel(standardized.df, Sanitize.cleanText(cfg.endog), san(cfg.exog))
    PipelineResult(standardized.df, model, ConfIntChart.vegaLiteSpec(model))
  }
}
