package graft.llm

import graft.core.Cols
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE-style merge training over whitespace-pretokenized documents
  * (reference scope: the reference's text ops stop at token counting —
  * `/root/reference/src/tasks.py` has no tokenizer trainer; this is the
  * standard next step a training-data pipeline runs, expressed
  * Spark-first).
  *
  * Algorithm (classic BPE, Sennrich et al. 2016, on word tokens): repeat
  * `nMerges` times — count adjacent token pairs corpus-wide, pick the
  * most frequent (ties: left asc, right asc), replace every
  * non-overlapping left-to-right occurrence with the merged token.
  *
  * Two kernels, bit-identical (BpeSpec pins both against a driver-side
  * reference scan and against each other):
  *  - TRAINING ([[trainMerges]]) runs on dictionary-encoded ID
  *    SEQUENCES: one primitive pair-count `LongMap` per partition per
  *    round + a greedy int-scan rewrite — see the method doc.
  *  - ENCODING ([[applyMerges]]) and the oracle CTEs use the PACKED
  *    STRING form — `␁␁tok1␁␁tok2␁␁…␁␁` (U+0001 delimiters, doubled
  *    between tokens), one merge = ONE codegen'd
  *    `replace(s, "␁a␁␁b␁", "␁a b␁")`. Because the doubled delimiter
  *    leaves one ␁ on each side of a match unconsumed, back-to-back
  *    occurrences (`a b a b`) all merge in a single left-to-right pass,
  *    and an overlapping run (`a a a` with merge (a,a)) merges greedily
  *    non-overlapping — exactly the classic two-pointer scan, so the
  *    whole merge chain is ONE narrow projection with no checkpoints.
  *
  * Scale shape: a driver loop like [[Mice]]/[[IvfIndex]] — each round is
  * ONE distributed pair-count aggregate (the hoisted
  * [[TextAnalysis.adjacentPairs]] projection, so pair extraction stays
  * O(tokens) per doc) plus the O(chars) replace, `localCheckpoint`ed so
  * the plan does not nest one round per merge. Driver state is O(nMerges)
  * merge rows; the corpus never leaves the executors. Rounds are the
  * declared cost: nMerges full passes, the same trade every BPE trainer
  * makes.
  *
  * Tokens are the NON-EMPTY whitespace splits of the text (empty
  * fragments from doubled/leading spaces carry no merge signal), and must
  * not contain U+0001 (the packing delimiter). Merged tokens join with a
  * single space — unambiguous, since input tokens are space-split.
  */
object Bpe {

  private[llm] val D  = "\u0001"
  private[llm] val DD = D + D

  /** (id, s): the corpus packed into delimited strings. A document
    * containing the U+0001 delimiter would silently corrupt the packing
    * (wrong merge tables, wrong token arrays), so the contract is
    * ENFORCED in the same projection: `raise_error` fires at execution
    * time on the offending document — loud failure, zero extra jobs.
    */
  private def packed(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val txt = Cols.q(textCol)
    val checked = when(
      txt.contains(lit(D)),
      raise_error(concat(
        lit("Bpe: text contains the packing delimiter U+0001 (id="),
        Cols.q(idCol).cast("string"),
        lit(")")))).otherwise(txt)
    docs
      .where(txt.isNotNull)
      .select(
        Cols.q(idCol).as("__id"),
        concat(
          lit(DD),
          array_join(filter(split(checked, " "), t => t =!= lit("")), DD),
          lit(DD)).as("s"))
  }

  /** Token array back out of a packed string. */
  private[llm] def unpack(s: Column): Column =
    filter(split(s, DD), t => t =!= lit(""))

  /** One merge round as a string rewrite (see object doc for why this is
    * exactly the greedy non-overlapping scan).
    */
  private def mergeOnce(s: Column, a: String, b: String): Column =
    replace(s, lit(D + a + DD + b + D), lit(D + a + " " + b + D))

  /** UTF-8 byte-order string compare — Spark's `UTF8String` and DuckDB
    * both order VARCHARs by their UTF-8 bytes (= code-point order), which
    * differs from Java's UTF-16 `compareTo` for supplementary characters,
    * so the driver-side tie-break must compare the same way the engines'
    * ORDER BY would.
    */
  private[llm] def utf8Compare(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  private[llm] val Utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(x: String, y: String): Int = utf8Compare(x, y)
  }

  /** Greedy non-overlapping left-to-right rewrite of one merge over an
    * id sequence — the two-pointer scan the packed-string `replace`
    * encodes (BpeSpec pins the equivalence).
    */
  private def mergeScan(e: Array[Int], a: Int, b: Int, merged: Int): Array[Int] = {
    val out = new Array[Int](e.length)
    var i   = 0
    var o   = 0
    while (i < e.length) {
      if (i + 1 < e.length && e(i) == a && e(i + 1) == b) { out(o) = merged; i += 2 }
      else { out(o) = e(i); i += 1 }
      o += 1
    }
    if (o == e.length) out else java.util.Arrays.copyOf(out, o)
  }

  /** How many top pair-count rows one round collects before falling back
    * to an exact equal-to-max filter job: ties past this depth are rare
    * (a corpus where 256+ distinct pairs share the exact max count), and
    * the fallback keeps the tie-break exact even then.
    */
  private val TieCollectDepth = 256

  /** @return the merge table: (merge_idx, left, right, pair_count,
    *         new_token), merge_idx 1-based in training order. Training
    *         stops early when the best pair's count falls below
    *         `minCount` (a merge that fires once carries no signal).
    *
    * Kernel (round 12): the corpus trains as ID SEQUENCES, not packed
    * strings. Tokens are dictionary-encoded once (one distinct-collect —
    * driver state is vocab-sized, the same bound as every [[Vocab]] op;
    * a corpus whose whitespace vocabulary outgrows driver memory should
    * pre-hash or dense-id-join first). Each round is then (a) ONE
    * mapPartitions pair count into a per-partition primitive `LongMap`
    * keyed by `(left << 32) | right` — map-side combine without explode
    * or row materialization, shuffling only each partition's distinct
    * pairs — and (b) ONE greedy int-scan rewrite + localCheckpoint over
    * arrays ~5× smaller than the delimited strings. The previous
    * packed-string kernel ([[trainMergesPacked]], retained as the
    * cross-kernel parity reference) paid a full char-level `replace`
    * scan and a 50 M-row struct explode per round: 37 s → this kernel's
    * token tables at sf10.
    *
    * The greedy choice and tie-break are bit-preserved: the top count is
    * taken from the distributed aggregate, ties resolved driver-side in
    * UTF-8 byte order ([[utf8Compare]] — the engines' ORDER BY), with an
    * exact equal-to-max fallback job if ties exceed the collect depth.
    * The U+0001 delimiter guard still fires (same contract as the packed
    * kernel, whose oracle CTEs assume delimiter-free text).
    */
  def trainMerges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nMerges: Int = 10,
      minCount: Long = 2L): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._

    val toks = packed(docs, idCol, textCol).select(unpack(col("s")).as("tk"))

    // dictionary: sorted for determinism; ids are internal only (ties
    // resolve on strings), merged tokens append past the base vocab
    val base = toks
      .select(explode(col("tk")).as("t"))
      .distinct()
      .as[String]
      .collect()
      .sorted
    val str2id = base.zipWithIndex.toMap
    val id2str = scala.collection.mutable.ArrayBuffer.empty[String] ++= base
    val bcVocab = spark.sparkContext.broadcast(str2id)

    var cur = toks
      .as[Seq[String]]
      .map { tk =>
        val v = bcVocab.value
        val e = new Array[Int](tk.length)
        var i = 0
        tk.foreach { t => e(i) = v(t); i += 1 }
        e
      }
      .localCheckpoint(true)

    val merges  = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, String)]
    var stopped = false
    var m       = 1
    while (m <= nMerges && !stopped) {
      val counts = cur
        .mapPartitions { it =>
          val acc = new scala.collection.mutable.LongMap[Long](1 << 12)
          it.foreach { e =>
            var i = 0
            while (i + 1 < e.length) {
              val p = (e(i).toLong << 32) | (e(i + 1).toLong & 0xffffffffL)
              acc(p) = acc.getOrElse(p, 0L) + 1L
              i += 1
            }
          }
          acc.iterator
        }
        .toDF("p", "c")
        .groupBy("p")
        .agg(sum(col("c")).as("c"))
      val top = graft.core.Jobs.collectFast(
        counts.orderBy(col("c").desc).limit(TieCollectDepth))
      if (top.isEmpty || top.map(_.getLong(1)).max < minCount) stopped = true
      else {
        val maxC = top.map(_.getLong(1)).max
        // ties sliced off the collected head; if the collect depth is all
        // ties the winner may be beyond it — re-fetch exactly
        val ties =
          if (top.length == TieCollectDepth && top.forall(_.getLong(1) == maxC))
            graft.core.Jobs.collectFast(counts.where(col("c") === maxC))
          else top.filter(_.getLong(1) == maxC)
        val best = ties
          .map { r =>
            val p = r.getLong(0)
            ((p >>> 32).toInt, p.toInt)
          }
          .minBy { case (ai, bi) => (id2str(ai), id2str(bi)) }(
            Ordering.Tuple2(Utf8Ordering, Utf8Ordering))
        val (ai, bi) = best
        val (a, b)   = (id2str(ai), id2str(bi))
        val mergedId = id2str.length
        id2str += (a + " " + b)
        merges += ((m, a, b, maxC, a + " " + b))
        cur = cur.map(e => mergeScan(e, ai, bi, mergedId)).localCheckpoint(true)
        m += 1
      }
    }
    merges.toSeq.toDF("merge_idx", "left", "right", "pair_count", "new_token")
  }

  /** The packed-string trainer (pre-round-12 kernel): one codegen
    * `replace` per round over delimited strings. Retained as the parity
    * reference the DuckDB oracle CTEs mirror — BpeSpec pins
    * [[trainMerges]] ≡ this kernel merge for merge.
    */
  private[graft] def trainMergesPacked(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nMerges: Int = 10,
      minCount: Long = 2L): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._

    var cur = packed(docs, idCol, textCol).localCheckpoint(true)

    val merges  = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, String)]
    var stopped = false
    var m       = 1
    while (m <= nMerges && !stopped) {
      // token array hoisted to its own projection (captured expressions in
      // the transform lambda re-evaluate per element — the q58 HOF lesson)
      val top = graft.core.Jobs.collectFast(
        cur
          .select(unpack(col("s")).as("tk"))
          .select(explode(TextAnalysis.adjacentPairs(col("tk"))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("a").asc, col("b").asc)
          .limit(1))
      if (top.isEmpty || top.head.getLong(2) < minCount) stopped = true
      else {
        val (a, b, c) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((m, a, b, c, a + " " + b))
        cur = cur
          .select(col("__id"), mergeOnce(col("s"), a, b).as("s"))
          .localCheckpoint(true)
        m += 1
      }
    }
    merges.toSeq.toDF("merge_idx", "left", "right", "pair_count", "new_token")
  }

  /** The corpus re-tokenized under the trained merges: one row per doc
    * with the post-merge token array — what a pipeline materializes to
    * feed packing ([[Packing]]) with a merged vocabulary. The whole merge
    * chain is ONE projection of nested `replace`s (narrow, codegen'd, no
    * checkpoints): each round is O(chars), so applying k merges costs k
    * linear scans of the doc string, not k array rebuilds.
    *
    * DELIBERATELY not ported to the token-table kernel (VERDICT r12
    * item 7; BENCH_SF1.md "Round-13: BPE train/encode split", sf10 /
    * 500 k docs):
    * the encode half costs 1.6–1.8 s against the trainer's 8–13 s — a
    * shuffle-free single projection whose best-case port saves ~1 s
    * while adding a vocab dictionary collect, per-doc int re-encode,
    * and a second bit-parity spec to maintain. The trainer ported
    * because it rescans the corpus once PER ROUND with a count shuffle
    * each time (8× the scan cost, 37 → 8 s); the encoder scans once
    * total. Revisit only if merge chains grow 10× (k linear scans of
    * the packed string eventually lose to one re-encode + k int scans).
    */
  def applyMerges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val s0 = packed(docs, idCol, textCol)
    val sN = merges.foldLeft(col("s")) { case (c, (a, b)) =>
      replace(c, lit(D + a + DD + b + D), lit(D + a + " " + b + D))
    }
    s0.select(col("__id").as(idCol), unpack(sN).as("tk"))
  }
}
