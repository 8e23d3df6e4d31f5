package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The generational-table lifecycle every persisted index family shares
  * (LSH buckets, IVF cells, IVFADC cells and drift rows, banded near-dup
  * signatures, BM25 postings/dfparts/stats, media features): a table is
  * a parquet directory with a `src_batch=<g>` partition level, and each
  * ingest batch owns exactly one generation `g`. This is the only layout
  * the families write and read.
  *
  *  - A bootstrap writes with an explicit STATIC overwrite, whatever the
  *    session's `partitionOverwriteMode`: it replaces every generation,
  *    so a re-bootstrap or a rebuild cannot leave stale generations
  *    (encoded in an old geometry, or signatures of an old corpus)
  *    behind.
  *  - An append writes with an explicit DYNAMIC overwrite: it replaces
  *    generation `g` only, so replaying a batch rewrites its own
  *    directories instead of duplicating rows, and history is never
  *    re-read.
  *  - An ingest loop maps checkpoint-stable micro-batch ids to
  *    generations as `baseGen + id`, so a crash replay lands on its
  *    original generation; a FRESH checkpoint restarts ids at 0, so its
  *    `baseGen` must clear every generation already present.
  *
  * What stays with each family: its partition columns under or around
  * `src_batch`, its pre-write clustering (`repartition`/`coalesce`, which
  * fixes the files per directory), its meta sidecar's fields and format
  * and their commit order relative to the table write ([[IndexMeta]]
  * writes, checks and reads the sidecar).
  */
object Generations {

  /** The generation partition column. */
  val Col = "src_batch"

  /** Write `rows` as generation `gen` of `table`, partitioned by
    * `partitionBy` (which must name [[Col]]; its position is the caller's
    * choice — the near-dup index puts it first so `src_batch < N` prunes
    * at the top level). `append = false` is a bootstrap (static
    * overwrite: every generation replaced), `append = true` an ingest
    * append (dynamic overwrite: generation `gen` only).
    *
    * The partition value is a string literal: codegen passes a string
    * literal to generated code by reference but inlines a long one into
    * the source, which would compile the writers again for every new
    * generation. The directory name (`src_batch=7`) and the type a read
    * infers from it are the same either way.
    */
  def write(
      rows: DataFrame,
      table: String,
      gen: Long,
      partitionBy: Seq[String],
      append: Boolean): Unit =
    rows
      .withColumn(Col, lit(gen.toString))
      .write
      .partitionBy(partitionBy: _*)
      .option("partitionOverwriteMode", if (append) "dynamic" else "static")
      .mode("overwrite")
      .parquet(table)

  /** Fail fast when `table`, of `schema`, lacks the [[Col]] partition
    * level (a table written by hand or by an older single-generation
    * writer), naming the family's writer `rebuildWith`. Every family
    * passes the schema its [[IndexMeta]] holds, so the check costs no job.
    */
  def require(schema: StructType, table: String, rebuildWith: String): Unit =
    Predef.require(
      schema.fieldNames.contains(Col),
      s"$table uses a single-generation layout (no $Col partition level); the index needs " +
        s"the generational layout — rebuild it with $rebuildWith")

  /** Highest generation across `tables`, or −1 when they hold no rows —
    * the max aggregate is null over zero rows (a bootstrap from an empty
    * frame, or an all-empty-batch history), and "no generations yet" must
    * clear any `baseGen` rather than NPE.
    */
  def maxGen(spark: SparkSession, tables: String*): Long =
    tables.map { t =>
      val row = spark.read.parquet(t).agg(max(col(Col).cast("long"))).collect()(0)
      if (row.isNullAt(0)) -1L else row.getLong(0)
    }.foldLeft(-1L)(_ max _)

  /** Run `step(batch, baseGen + id)` for every micro-batch of `stream`
    * under `Trigger.AvailableNow`, checkpointed at `checkpoint`.
    *
    * `baseGen` must be FIXED per checkpoint: checkpoint-stable ids plus a
    * fixed base make a crash replay land on its original generation. A
    * fresh checkpoint — no `offsets/` yet; Structured Streaming writes it
    * on the first micro-batch, and callers routinely pre-create the
    * directory itself — restarts ids at 0, so when `guarded` names
    * tables, `baseGen` must clear their [[maxGen]] or the new ids would
    * overwrite history. Only a fresh checkpoint is checked: an existing
    * one's replayed ids are SUPPOSED to land on generations they already
    * wrote. Loops that replay on purpose (the near-dup loop, whose
    * `src_batch < id` read makes a replay reproduce its survivors) pass
    * no tables. The freshness check goes through the path's own Hadoop
    * FileSystem, as Structured Streaming does — a local-file check would
    * call every remote checkpoint fresh.
    */
  def ingestLoop(
      stream: DataFrame,
      checkpoint: String,
      baseGen: Long,
      guarded: Seq[String])(step: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = stream.sparkSession
    if (guarded.nonEmpty) {
      val offsets = new org.apache.hadoop.fs.Path(checkpoint, "offsets")
      if (!offsets.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(offsets)) {
        val existing = maxGen(spark, guarded: _*)
        Predef.require(
          baseGen > existing,
          s"baseGen=$baseGen collides with existing generations (max $Col=$existing) in " +
            s"${guarded.mkString(", ")}: a new checkpoint's batch ids restart at 0, so baseGen " +
            "must clear every generation already present or replays would overwrite history")
      }
    }
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: Dataset[Row], id: Long) => step(batch.toDF(), baseGen + id))
      .start()
  }
}
