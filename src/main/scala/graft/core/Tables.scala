package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lazy accessors for the driver testdata star schema (TESTDATA.md).
  * Parquet is self-describing; scans pick up pushed filters/pruned columns
  * from whatever plan is built on top — never `.cache()` data here.
  *
  * The base DataFrame per (session, path) IS memoized: `read.parquet`
  * re-lists the directory and re-reads footers for schema inference on
  * every call, which is pure overhead across a suite that touches the
  * same immutable table hundreds of times (~0.4 s scheduling floor per
  * bench case was partly this). Reusing the relation changes NO query
  * plan — Catalyst re-optimizes (pushdown, pruning) per plan built on
  * top. The dirs this reads are immutable test/bench fixtures; anything
  * mutable (indexes, sinks) is read directly, never through Tables.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    Tables.memo(spark, s"$dir/$name.parquet")(spark.read.parquet(s"$dir/$name.parquet"))

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")

  /** `events.ts` is INT64 TIMESTAMP(NANOS) parquet, which Spark 4 has no
    * native type for — read nanos as long and truncate to a microsecond
    * timestamp (integer division; double math would lose precision above
    * 2^53 ns). DuckDB applies the same ns→us truncation when casting
    * TIMESTAMP_NS to TIMESTAMP, keeping the oracle aligned.
    */
  def events: DataFrame = Tables.memo(spark, s"$dir/events.parquet") {
    // the legacy conf is applied on an ISOLATED child session (shared
    // SparkContext, own SQLConf) so reading events never changes how the
    // caller's session types other nanos-timestamp parquet reads
    val raw = Tables.nanosSession(spark).read.parquet(s"$dir/events.parquet")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else raw
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  // memoized base relations keyed by (session, path). NOT a weak map:
  // a DataFrame strongly references its SparkSession, so weak session keys
  // would never be collectible anyway — instead the map is a size-bounded
  // LRU (tables × sessions is tiny in practice; a session-churn loop
  // evicts only the least-recently-used relation instead of clearing
  // everything wholesale). Holds the ANALYZED read plan only — no data,
  // no caching beyond the relation's own file index. The file-listing
  // snapshot is pinned for the entry's lifetime, so a fixture dir
  // regenerated IN-SESSION must be [[invalidate]]d or reads serve the
  // stale listing.
  private val FramesBound = 512
  private val frames =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame]): Boolean =
        size() > FramesBound
    }

  // Double-checked: the build (file listing + footer schema inference,
  // potentially seconds on a wide dir) runs OUTSIDE the monitor so a slow
  // first read never serializes other sessions' table access. Concurrent
  // first readers of the SAME path may build twice; the loser's relation
  // is discarded (plan-only, no data) and the winner's is served — wasted
  // listing work on one race beats a global stall on every race.
  private[graft] def memo(spark: SparkSession, path: String)(build: => DataFrame): DataFrame = {
    val k   = (spark, path)
    val got = frames.synchronized(frames.get(k))
    if (got != null) got
    else {
      val b = build
      frames.synchronized {
        val raced = frames.get(k)
        if (raced != null) raced
        else {
          frames.put(k, b)
          b
        }
      }
    }
  }

  /** Drop every memoized relation under `pathPrefix` (all sessions) —
    * the hook to call after regenerating a fixture directory inside a
    * live JVM, so the next read re-lists files instead of serving the
    * pinned snapshot (or failing on deleted files). Passing a dir
    * invalidates all its tables.
    */
  def invalidate(pathPrefix: String): Unit = frames.synchronized {
    val it = frames.keySet().iterator()
    while (it.hasNext) if (it.next()._2.startsWith(pathPrefix)) it.remove()
  }

  /** Test hook: current memo size. */
  private[graft] def memoSize: Int = frames.synchronized(frames.size())

  // one nanosAsLong child session per parent session, created lazily;
  // weak keys so stopped sessions can be collected
  private val nanosSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())

  private[graft] def nanosSession(parent: SparkSession): SparkSession =
    nanosSessions.synchronized {
      Option(nanosSessions.get(parent)).getOrElse {
        val child = parent.newSession()
        // mirror the parent's full runtime SQL-conf delta (ANSI mode, AQE
        // toggles, rebase modes, ...) so only nanosAsLong diverges; static
        // confs are skipped (isModifiable) — newSession already shares them
        parent.conf.getAll.foreach { case (k, v) =>
          if (k.startsWith("spark.sql.") && child.conf.isModifiable(k) &&
              child.conf.getOption(k).forall(_ != v))
            child.conf.set(k, v)
        }
        child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        nanosSessions.put(parent, child)
        child
      }
    }
}

/** The one session builder of every entry point: the CLIs, the bench,
  * the correctness dump and the test suite.
  */
object GraftSession {

  /** Entries of Spark's generated-class cache (Spark's default is 100).
    * A warm `index_ingest` op of the perfbench workload (banded near-dup
    * ingest, survivor write, postings append) cycles through about 144
    * distinct generated classes and its set-up through about 72 more, so
    * at 100 the LRU evicted every class before its next use: 135 of a warm
    * op's 144 compiles were byte-identical to the previous op's sources
    * (4 cores, CodeGenerator log). At 1000 a warm op compiles none. The
    * conf is static and read once per JVM, when the code generator first
    * initialises, so it has to be set on the first session a process
    * builds.
    */
  private val CodegenCacheEntries = 1000

  // spark.sql.adaptive.coalescePartitions.parallelismFirst stays at its
  // default (true): "false" coalesces small-scale-factor sorts and
  // aggregates onto too few cores (+5 s over the bench, q28 and q34
  // +1.3 s each on 32 cores)
  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
