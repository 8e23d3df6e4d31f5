package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The metadata of one persisted index directory, read once per
  * bootstrap: the one-row `meta` sidecar (read by name — a positional
  * read would silently swap fields on a schema change) and the schema of
  * each of the index's tables.
  *
  * All six families keep one. Bm25, banded Dedup, Multimodal and IvfIndex
  * write it LAST, as the bootstrap's completion marker; AnnBuckets and
  * IvfPq write it FIRST, since it carries their geometry stamp and a stamp
  * that lands before the tables makes a load racing a rebuild fail fast.
  * Its `format` field names the layout, and [[IndexMeta.apply]] is the one
  * check of whether this code can read a directory.
  *
  * Everything here changes only when the index is (re)bootstrapped, yet a
  * fresh `spark.read.parquet` pays a schema-inference job for every table
  * it opens and a `head()` job for the sidecar row — fixed per-call costs
  * a repeatedly searched and grown index would pay on every call. An
  * entry is keyed by the sidecar's STAMP: the names, lengths and
  * modification times of the files under `<dir>/meta`, taken from one
  * driver-side `listStatus` (no Spark job). Every bootstrap rewrites the
  * sidecar under a new write-job UUID, so a re-bootstrap by ANY writer,
  * in this JVM or another, changes the stamp and the next call re-reads.
  * In-process writers also drop their entry when the bootstrap finishes
  * ([[write]] for the families that write the sidecar last, [[invalidate]]
  * for those that write it first), so a reader never keeps a table schema
  * taken between the sidecar write and the table write.
  *
  * Only schemas are cached: [[read]] passes the cached schema and lets
  * the parquet source list the files afresh, so appended generations
  * stay visible.
  */
final class IndexMeta private (spark: SparkSession, dir: String, entry: IndexMeta.Entry) {

  /** The sidecar row; fields by name. */
  def row: Row = entry.row

  /** Schema of `<dir>/<table>`, inferred on first use under this stamp. */
  def schema(table: String): StructType =
    entry.schemas.computeIfAbsent(table, t => spark.read.parquet(s"$dir/$t").schema)

  /** `<dir>/<table>` read with its cached schema. */
  def read(table: String): DataFrame = spark.read.schema(schema(table)).parquet(s"$dir/$table")
}

object IndexMeta {

  private[core] final class Entry(val stamp: Seq[(String, Long, Long)], val row: Row) {
    val schemas = new ConcurrentHashMap[String, StructType]()
  }

  private val Entries = new ConcurrentHashMap[String, Entry]()

  /** Entries are a row and a few schemas each; past this many index
    * directories the cache starts over rather than grow without bound.
    */
  private val MaxEntries = 1024

  private def metaPath(spark: SparkSession, dir: String): (Path, FileSystem) = {
    val p = new Path(dir, "meta")
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** The index at `dir`, its sidecar stamp checked against the cache. A
    * missing sidecar or another `format` is refused, naming the bootstrap
    * `writer`.
    */
  def apply(spark: SparkSession, dir: String, format: String, writer: String): IndexMeta = {
    val (p, fs) = metaPath(spark, dir)
    val listing =
      try fs.listStatus(p)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"index at $dir has no meta sidecar — bootstrap it with $writer")
      }
    val stamp  = listing.toSeq.map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).sorted
    val key    = fs.makeQualified(p).toString
    val cached = Entries.get(key)
    val entry =
      if (cached != null && cached.stamp == stamp) cached
      else {
        // a sidecar rewritten between the listing and this read is cached
        // under the older stamp, so the next call re-reads it
        val e = new Entry(stamp, spark.read.parquet(p.toString).head())
        if (Entries.size >= MaxEntries) Entries.clear()
        Entries.put(key, e)
        e
      }
    val found =
      if (entry.row.schema.fieldNames.contains("format")) entry.row.getAs[String]("format") else "absent"
    require(found == format,
      s"index at $dir has sidecar format $found, not $format — rebuild it with $writer")
    new IndexMeta(spark, dir, entry)
  }

  /** Write the one-row sidecar `meta` of the index at `dir` and drop its
    * cached entry. `meta` carries the family's `format` field.
    */
  def write(meta: DataFrame, dir: String): Unit = {
    meta.coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    invalidate(meta.sparkSession, dir)
  }

  /** Drop the cached entry of the index at `dir`. */
  def invalidate(spark: SparkSession, dir: String): Unit = {
    val (p, fs) = metaPath(spark, dir)
    Entries.remove(fs.makeQualified(p).toString)
  }
}
