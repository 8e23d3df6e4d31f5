package graft.llm

import graft.core.Tables
import graft.queries.Declared
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data text operators over the `documents` table (SURVEY.md
  * §2B north star): token counting, per-language quality stats, exact
  * dedup by content hash, deterministic MinHash signatures, n-gram
  * fingerprinting. All built from codegen'd expressions (`split`,
  * `explode`, `md5`, `concat`) — no UDFs — so they scale as ordinary
  * shuffled aggregations.
  */
object TextQueries {

  private def t(spark: SparkSession, dir: String) = Tables(spark, dir)

  private def nTokens(c: Column): Column = TextAnalysis.nTokens(c)

  /** Per-language document stats: counts, token totals, char means. */
  val q15TextLangStats: Declared = Declared.sql(
    "q15_text_lang_stats",
    """SELECT lang, count(*) AS n_docs,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |  round(avg(n_chars), 4) AS avg_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    t(spark, dir).documents
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct("source").as("n_sources"),
        sum(nTokens(col("text")).cast("long")).as("n_tokens"),
        round(avg("n_chars"), 4).as("avg_chars"))
      .orderBy("lang")
  }

  /** Exact dedup accounting: unique content hashes per source. At 100 TB
    * this is the standard first dedup pass — hash the content column once,
    * shuffle only the 16-byte digest.
    */
  val q16DedupExact: Declared = Declared.sql(
    "q16_dedup_exact",
    """SELECT source, count(*) AS n_rows,
      |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
      |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dupes
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    val h = md5(col("text").cast("binary"))
    t(spark, dir).documents
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(h).as("n_unique"),
        (count(lit(1)) - countDistinct(h)).as("n_dupes"))
      .orderBy("source")
  }

  /** Deterministic MinHash signatures (4 salted md5 hash families over the
    * token set). Near-dup candidates are docs sharing a signature band —
    * the bucket-join runs on the tiny signature table, never on text. The
    * salted-min-md5 family is engine-portable (string min), which makes the
    * signature itself oracle-checkable.
    */
  val q17MinhashSignatures: Declared = Declared.sql(
    "q17_minhash_signatures",
    """SELECT doc_id,
      |  min(md5('s0|' || tok)) AS sig0, min(md5('s1|' || tok)) AS sig1,
      |  min(md5('s2|' || tok)) AS sig2, min(md5('s3|' || tok)) AS sig3
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    // family pinned to Md5: DuckDB replays md5 (XxHash64 is the library
    // production default)
    Dedup
      .minhashSignatures(t(spark, dir).documents, "doc_id", "text", nSigs = 4,
        family = Dedup.Md5)
      .withColumnRenamed("__id", "doc_id")
      .orderBy("doc_id")
  }

  /** Language-distribution token frequency: top-3 tokens per language by
    * (count desc, token asc) — explode → count → windowed top-k, the
    * canonical text-frequency plan shape.
    */
  val q18TopTokensPerLang: Declared = Declared.sql(
    "q18_top_tokens_per_lang",
    """SELECT lang, tok, n, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT lang, tok, count(*) AS n,
      |         row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok ASC) AS rn
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY lang, tok) x
      |WHERE rn <= 3
      |ORDER BY lang, rn""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val toks = t(spark, dir).documents
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("tok").asc)
    toks
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .orderBy("lang", "rn")
  }

  /** Per-document quality metrics: token counts, type-token ratio, and the
    * declared composite quality score (length band + diversity + alpha
    * ratio) — all one codegen'd projection, no shuffle.
    */
  val q32TextQuality: Declared = Declared.sql(
    "q32_text_quality",
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |        / len(string_split(text, ' ')), 4) AS ttr,
      |  round(least(n_chars / 500.0, 1.0) * 0.4
      |        + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |           / len(string_split(text, ' '))) * 0.3
      |        + (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |           / greatest(length(text), 1)) * 0.3, 6) AS quality
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    t(spark, dir).documents
      .select(
        col("doc_id"),
        TextAnalysis.nTokens(col("text")).as("n_tokens"),
        round(TextAnalysis.typeTokenRatio(col("text")), 4).as("ttr"),
        TextAnalysis.qualityScore(col("text"), col("n_chars")).as("quality"))
      .orderBy("doc_id")
  }

  /** 16-bit SimHash per document (md5-nibble vote family — string-only
    * math, portable to the oracle engine). Near-dup candidates = equal
    * simhash or small Hamming distance on the 16-char signature.
    */
  val q33Simhash: Declared = {
    val hexHigh   = "('8','9','a','b','c','d','e','f')"
    val voteCols  = (0 until 16)
      .map(b => s"sum(CASE WHEN substr(h, ${b + 1}, 1) IN $hexHigh THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n      |            ")
    val bitConcat = (0 until 16)
      .map(b => s"CASE WHEN v$b > 0 THEN '1' ELSE '0' END")
      .mkString(", ")
    Declared.sql(
      "q33_simhash",
      s"""WITH t AS (SELECT doc_id, md5(tok) AS h
         |           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |                 FROM documents)),
         |v AS (SELECT doc_id,
         |            $voteCols
         |      FROM t GROUP BY doc_id)
         |SELECT doc_id, concat($bitConcat) AS simhash
         |FROM v ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val toks = t(spark, dir).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), md5(col("tok").cast("binary")).as("h"))
      val votes = toks
        .groupBy("doc_id")
        .agg(
          sum(TextAnalysis.simhashVotes(col("h"), 0)).as("v0"),
          (1 until 16).map(b => sum(TextAnalysis.simhashVotes(col("h"), b)).as(s"v$b")): _*)
      votes
        .select(
          col("doc_id"),
          concat((0 until 16).map(b =>
            when(col(s"v$b") > 0, lit("1")).otherwise(lit("0"))): _*).as("simhash"))
        .orderBy("doc_id")
    }
  }

  /** N-gram (3-shingle) Jaccard near-dup pairs at threshold ≥ 0.8 (the
    * q69-family near-dup threshold; at 0.5 the PPJoin prefix is half of
    * every doc's shingles and candidate volume was measured 4× worse) —
    * the CAPPED PRODUCTION plan: `maxShingleDf = 64` drops stop-shingles
    * before pair expansion (a cap that BINDS at every test scale — the
    * q103 clause; at 500 k docs even the 1024 default funds an OOM-sized
    * verification join, so the cap is the corpus-scale knob, not a
    * formality) and the PPJoin prefix filter prunes candidates, both
    * exact under the threshold contract. The DuckDB oracle replays the
    * df cap verbatim (`kept` CTE) and the threshold; prefix/positional
    * filtering is pure candidate pruning so the oracle needn't replay
    * it. (The previous rank-all-by-Jaccard contract materialized every
    * pair — Σ df² rows — and disk-exhausted at 500 k docs; rank-all
    * remains spec-pinned at tiny scale in DedupSpec.)
    */
  val q34NgramJaccard: Declared = Declared.sql(
    "q34_ngram_jaccard",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |              WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |              generate_series(1, len(tk) - 2),
      |              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      |       FROM toks),
      |df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
      |kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s) WHERE df <= 64),
      |cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
      |common AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
      |           FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      |           GROUP BY a.doc_id, b.doc_id)
      |SELECT a_id, b_id,
      |       round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) AS jaccard
      |FROM common
      |JOIN cnt ca ON ca.doc_id = a_id
      |JOIN cnt cb ON cb.doc_id = b_id
      |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.8
      |ORDER BY a_id, b_id""".stripMargin) { (spark, dir) =>
    Dedup
      .ngramJaccardPairs(t(spark, dir).documents, "doc_id", "text", n = 3,
        maxShingleDf = Some(64L), minJaccard = Some(0.8))
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Whitespace vs BPE-ish tokenizer counts per language. */
  val q35TokenCounts: Declared = Declared.sql(
    "q35_token_counts",
    """SELECT lang,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_ws_tokens,
      |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT)
      |    AS n_bpe_tokens
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    t(spark, dir).documents
      .groupBy("lang")
      .agg(
        sum(TextAnalysis.nTokens(col("text")).cast("long")).as("n_ws_tokens"),
        sum(TextAnalysis.nBpeTokens(col("text")).cast("long")).as("n_bpe_tokens"))
      .orderBy("lang")
  }

  /** Language-ID distribution (predicted × actual). Fully oracled: the
    * stopword-hit scoring + argmax (ties to the alphabetically-first
    * language, all-zero → "und") is plain relational algebra, so DuckDB
    * reproduces the ladder exactly; accuracy itself is asserted in
    * TextAnalysisSpec on real-language samples.
    */
  val q37LangidDist: Declared = Declared.sql(
    "q37_langid_dist",
    """WITH sw(cand, words) AS (VALUES
      |  ('de', ['der','die','und','das','ist','von','mit','den','ein','zu']),
      |  ('en', ['the','and','of','to','a','in','is','it','that','for']),
      |  ('es', ['el','la','de','que','y','en','un','los','se','por']),
      |  ('fr', ['le','la','et','les','des','un','une','du','est','que']),
      |  ('zh', ['的','了','是','我','不','在','有','他','这','中'])),
      |t AS (SELECT doc_id, lang,
      |        string_split(lower(coalesce(text, '')), ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, lang, cand,
      |        CAST(len(list_intersect(toks, words)) AS DOUBLE)
      |          / greatest(len(toks), 1) AS score
      |      FROM t CROSS JOIN sw),
      |m AS (SELECT doc_id, max(score) AS best FROM s GROUP BY doc_id),
      |p AS (SELECT s.doc_id, any_value(s.lang) AS lang,
      |        CASE WHEN any_value(m.best) > 0 THEN min(s.cand) ELSE 'und' END AS predicted
      |      FROM s JOIN m ON s.doc_id = m.doc_id AND s.score = m.best
      |      GROUP BY s.doc_id)
      |SELECT lang, predicted, count(*) AS n FROM p
      |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin) { (spark, dir) =>
    t(spark, dir).documents
      .select(col("lang"), TextAnalysis.langId(col("text")).as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** Order-sensitive rolling-hash fingerprints. Fully oracled: the token
    * value is md5-derived ([[TextAnalysis.rollingFingerprint]]) so DuckDB
    * replays the identical fold via `list_reduce` — hash-exact across
    * engines, not just deterministic within Spark.
    */
  val q38Fingerprints: Declared = Declared.sql(
    "q38_fingerprints",
    """SELECT doc_id,
      |  CAST(list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ' '), t ->
      |        list_sum(list_transform(range(8), i ->
      |          CAST(strpos('0123456789abcdef', substr(md5(t), CAST(i+1 AS INTEGER), 1)) - 1 AS BIGINT)
      |            << CAST(4*(7-i) AS INTEGER))))),
      |    (a, b) -> (a*31 + b) % 2147483647) AS BIGINT) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    t(spark, dir).documents
      .select(col("doc_id"), TextAnalysis.rollingFingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling + train/test split: selection is an
    * md5-prefix threshold on the salted id (reproducible across engines and
    * cluster sizes — the library form is [[Sampling]]). English is
    * downsampled to ~10%, other languages kept at ~50%, then split ~80/20.
    */
  val q51DeterministicSample: Declared = Declared.sql(
    "q51_deterministic_sample",
    """WITH s AS (
      |  SELECT doc_id, lang,
      |         CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
      |              THEN 'train' ELSE 'test' END AS split
      |  FROM documents
      |  WHERE substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 2)
      |        < CASE WHEN lang = 'en' THEN '1a' ELSE '80' END)
      |SELECT lang, split, count(*) AS n, CAST(min(doc_id) AS BIGINT) AS min_doc,
      |       CAST(max(doc_id) AS BIGINT) AS max_doc
      |FROM s GROUP BY lang, split
      |ORDER BY lang, split""".stripMargin) { (spark, dir) =>
    val sampled = Sampling.stratifiedSample(
      t(spark, dir).documents,
      "doc_id",
      "lang",
      thresholds = Map("en" -> "1a"),
      defaultThreshold = "80")
    sampled
      .withColumn("split", Sampling.trainTestSplit(col("doc_id")))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"), min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("lang", "split")
  }

  /** Vocabulary construction: global token frequencies with dense ids
    * assigned by (count desc, token asc) — the deterministic vocab-table
    * build that precedes any tokenizer training.
    */
  val q53Vocab: Declared = Declared.sql(
    "q53_vocab",
    """SELECT tok, n, CAST(rn AS INTEGER) AS token_id FROM (
      |  SELECT tok, count(*) AS n,
      |         row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rn
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY tok) x
      |WHERE rn <= 20
      |ORDER BY rn""".stripMargin) { (spark, dir) =>
    val counts = t(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
    // top-k + local id assignment (TakeOrderedAndProject), NOT a global
    // row_number window — that would funnel the whole distinct-token table
    // through a single partition; full-vocab builds use Vocab.denseIds
    Vocab
      .topK(counts, 20, Seq(col("n").desc, col("tok").asc), "token_id")
      .orderBy("token_id")
  }

  /** Document-frequency / IDF table: df = documents containing the token,
    * idf = ln(N/df) — distinct (doc, token) explode then one aggregate.
    */
  val q54Idf: Declared = Declared.sql(
    "q54_idf",
    """WITH dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |            FROM documents),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM documents)
      |SELECT tok, count(*) AS df,
      |       round(ln((SELECT total FROM n) / count(*)), 6) AS idf
      |FROM dt GROUP BY tok
      |ORDER BY tok""".stripMargin) { (spark, dir) =>
    val docs  = t(spark, dir).documents
    val total = docs.count().toDouble
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
      .groupBy("tok")
      .agg(count(lit(1)).as("df"))
      .withColumn("idf", round(log(lit(total) / col("df")), 6))
      .orderBy("tok")
  }

  /** FULL-vocab build: every distinct token keeps a dense id assigned by
    * (count desc, token asc) — the [[Vocab.denseIds]] two-job zipWithIndex
    * shape (range-partition + per-partition offsets), with no global
    * window anywhere in the plan. q53 is the top-k variant; this is the
    * path a tokenizer-training pipeline takes when the whole vocabulary
    * ships, so it must scale with the token table, not a single task.
    */
  val q55FullVocab: Declared = Declared.sql(
    "q55_full_vocab",
    """SELECT tok, n, rn AS token_id FROM (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS n,
      |         row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rn
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY tok) x
      |ORDER BY token_id""".stripMargin) { (spark, dir) =>
    val counts = t(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
    Vocab
      .denseIds(counts, Seq(col("n").desc, col("tok").asc), "token_id")
      .orderBy("token_id")
  }

  /** Sequence packing: fixed-capacity context-window assignment by running
    * token count, rolled up per pack. The Spark side computes the cumsum
    * with [[Packing]]'s two-phase scan (range partition + per-partition
    * offsets) — NOT a global window — while the oracle replays the same
    * row-to-pack mapping with `sum() OVER (ORDER BY doc_id)`.
    */
  val q56PackSummary: Declared = Declared.sql(
    "q56_pack_summary",
    """WITH d AS (SELECT doc_id,
      |             CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT) AS n FROM documents),
      |c AS (SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
      |SELECT CAST((cum - n) // 2048 AS BIGINT) AS pack_id, count(*) AS n_docs,
      |       CAST(sum(n) AS BIGINT) AS n_tokens,
      |       round(CAST(sum(n) AS DOUBLE) / 2048 * 100.0, 4) AS util_pct
      |FROM c GROUP BY pack_id ORDER BY pack_id""".stripMargin) { (spark, dir) =>
    Packing.packSummary(t(spark, dir).documents, "doc_id", "text", capacity = 2048L)
  }

  /** Benchmark decontamination: per-train-doc fraction of distinct
    * 3-grams that appear anywhere in the "benchmark" slice (every 50th
    * doc plays the eval set on the fixture). Inverted-index semi-join —
    * the eval shingle set is dimension-sized and broadcast.
    */
  val q57Decontamination: Declared = Declared.sql(
    "q57_decontamination",
    """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents WHERE doc_id % 50 <> 0),
      |ev AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents WHERE doc_id % 50 = 0),
      |tsh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(tk) - 2),
      |          i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS s
      |        FROM tr WHERE len(tk) >= 3),
      |esh AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(len(tk) - 2),
      |          i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS s
      |        FROM ev WHERE len(tk) >= 3),
      |m AS (SELECT doc_id, count(*) AS n_matched FROM tsh
      |      WHERE s IN (SELECT s FROM esh) GROUP BY doc_id),
      |t AS (SELECT doc_id, count(*) AS n_shingles FROM tsh GROUP BY doc_id)
      |SELECT t.doc_id, t.n_shingles, CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
      |       round(CAST(coalesce(m.n_matched, 0) AS DOUBLE) / t.n_shingles, 6) AS ratio
      |FROM t LEFT JOIN m USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir).documents
    Decontamination
      .score(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0),
        "doc_id",
        "text",
        n = 3)
      .orderBy("doc_id")
  }

  /** Repetition-based quality filter (the Gopher/Dolma rule family):
    * per-doc max-unigram-frequency ratio (explode + two-level aggregate —
    * the scale shape; an array-side count would be O(d²) per row) and
    * duplicate-trigram fraction (pure projection over a hoisted token
    * array), rolled up per language with a flag count at the standard 0.2
    * threshold.
    */
  val q59Repetition: Declared = Declared.sql(
    "q59_repetition",
    """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
      |u AS (SELECT doc_id, unnest(tk) AS tok FROM d),
      |c AS (SELECT doc_id, max(cnt) AS maxc FROM
      |        (SELECT doc_id, tok, count(*) AS cnt FROM u GROUP BY doc_id, tok)
      |      GROUP BY doc_id),
      |t AS (SELECT doc_id, lang, len(tk) AS n,
      |        CASE WHEN len(tk) >= 3 THEN
      |          1.0 - CAST(len(list_distinct(list_transform(range(len(tk) - 2),
      |                 i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS DOUBLE)
      |               / (len(tk) - 2)
      |        ELSE 0.0 END AS tridup
      |      FROM d),
      |j AS (SELECT t.lang, CAST(c.maxc AS DOUBLE) / t.n AS rep, t.tridup
      |      FROM t JOIN c USING (doc_id))
      |SELECT lang, count(*) AS n_docs, round(avg(rep), 6) AS avg_rep,
      |       CAST(count(*) FILTER (WHERE rep > 0.2) AS BIGINT) AS n_flagged,
      |       round(avg(tridup), 6) AS avg_tri_dup
      |FROM j GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val d = t(spark, dir).documents
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
    val maxc = d
      .select(col("doc_id"), explode(col("tk")).as("tok"))
      .groupBy("doc_id", "tok").count()
      .groupBy("doc_id").agg(max("count").as("maxc"))
    d.select(
        col("doc_id"), col("lang"),
        size(col("tk")).as("n"),
        TextAnalysis.trigramDupFracFromTokens(col("tk")).as("tridup"))
      .join(maxc, Seq("doc_id"))
      .select(
        col("lang"),
        (col("maxc").cast("double") / col("n")).as("rep"),
        col("tridup"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("rep"), 6).as("avg_rep"),
        count(when(col("rep") > 0.2, lit(1))).as("n_flagged"),
        round(avg("tridup"), 6).as("avg_tri_dup"))
      .orderBy("lang")
  }

  /** Source-mixture reweighting: the weight each source needs so sampling
    * matches a uniform target mix — the domain-balancing step before
    * training-corpus assembly. Counts are one aggregate; shares/weights
    * are a broadcast of the 1-row totals back over the per-source rows.
    */
  val q60MixtureWeights: Declared = Declared.sql(
    "q60_mixture_weights",
    """WITH s AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t, CAST(count(*) AS DOUBLE) AS k FROM s)
      |SELECT source, CAST(n AS BIGINT) AS n_docs,
      |       round(CAST(n AS DOUBLE) / t, 6) AS actual_share,
      |       round((1.0 / k) / (CAST(n AS DOUBLE) / t), 6) AS weight
      |FROM s, tot ORDER BY source""".stripMargin) { (spark, dir) =>
    val s   = t(spark, dir).documents.groupBy("source").agg(count(lit(1)).as("n"))
    val tot = s.agg(
      sum("n").cast("double").as("t"),
      count(lit(1)).cast("double").as("k"))
    s.crossJoin(broadcast(tot))
      .select(
        col("source"),
        col("n").as("n_docs"),
        round(col("n") / col("t"), 6).as("actual_share"),
        round((lit(1.0) / col("k")) / (col("n") / col("t")), 6).as("weight"))
      .orderBy("source")
  }

  /** Per-document top-3 TF-IDF terms — the keyword-extraction composition
    * of the q53/q54 building blocks: term frequencies and document
    * frequencies are each one exploded aggregate, the score join ships the
    * (small) IDF table into a broadcast, and ranking runs on the ROUNDED
    * score with a term tie-break so the window is hash-deterministic
    * across engines (the q19 rule).
    */
  val q61TfidfTop: Declared = Declared.sql(
    "q61_tfidf_top",
    """WITH dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM dt GROUP BY doc_id, tok),
      |idf AS (SELECT tok, ln((SELECT CAST(count(*) AS DOUBLE) FROM documents)
      |                       / count(DISTINCT doc_id)) AS idf
      |        FROM dt GROUP BY tok),
      |sc AS (SELECT tf.doc_id, tf.tok, round(tf.tf * idf.idf, 6) AS tfidf
      |       FROM tf JOIN idf USING (tok)),
      |r AS (SELECT doc_id, tok, tfidf,
      |        row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rn
      |      FROM sc)
      |SELECT doc_id, tok, tfidf, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 3
      |ORDER BY doc_id, rn""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs  = t(spark, dir).documents
    val total = docs.count().toDouble
    val dt = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = dt.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val idf = dt.distinct()
      .groupBy("tok")
      .agg(log(lit(total) / count(lit(1))).as("idf"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok").asc)
    tf.join(broadcast(idf), Seq("tok"))
      .select(col("doc_id"), col("tok"), round(col("tf") * col("idf"), 6).as("tfidf"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select("doc_id", "tok", "tfidf", "rn")
      .orderBy("doc_id", "rn")
  }

  /** Fuzzy entity matching: nearest customer name by edit distance for a
    * small probe list — the entity-resolution primitive (both engines
    * ship `levenshtein`, so it is exactly oracle-able). Scale shape: the
    * probe list is the broadcast side of one nested-loop pass over the
    * big table; ranking is a per-probe window with (dist, name)
    * tie-break, deterministic across engines.
    */
  val q63FuzzyMatch: Declared = Declared.sql(
    "q63_fuzzy_match",
    """WITH p(probe) AS (VALUES
      |  ('Custmer#000000042'), ('Customer#0000000X7'), ('customer#000000007')),
      |s AS (SELECT probe, c_name, CAST(levenshtein(probe, c_name) AS INTEGER) AS dist
      |      FROM p CROSS JOIN customer),
      |r AS (SELECT probe, c_name AS best_name, dist,
      |        row_number() OVER (PARTITION BY probe ORDER BY dist ASC, c_name ASC) AS rn
      |      FROM s)
      |SELECT probe, best_name, dist FROM r WHERE rn = 1
      |ORDER BY probe""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val probes = Seq("Custmer#000000042", "Customer#0000000X7", "customer#000000007")
      .toDF("probe")
    val w = Window.partitionBy("probe").orderBy(col("dist").asc, col("c_name").asc)
    t(spark, dir).customer
      .select("c_name")
      .crossJoin(broadcast(probes))
      .withColumn("dist", levenshtein(col("probe"), col("c_name")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("probe"), col("c_name").as("best_name"), col("dist"))
      .orderBy("probe")
  }

  /** OOV `<unk>` rewrite against the top-20 vocabulary: per-doc replaced
    * count and the md5 of the rewritten text — the rewrite itself is
    * hash-checked cross-engine, not just counted. Vocabulary rule is the
    * q53 order (count desc, token asc).
    */
  val q68UnkRewrite: Declared = Declared.sql(
    "q68_unk_rewrite",
    """WITH vocab AS (
      |  SELECT tok FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY tok ORDER BY count(*) DESC, tok ASC LIMIT 20),
      |vl AS (SELECT list(tok) AS vs FROM vocab)
      |SELECT doc_id,
      |  CAST(len(list_filter(string_split(d.text, ' '),
      |           t -> NOT list_contains(vl.vs, t))) AS BIGINT) AS n_unk,
      |  md5(array_to_string(list_transform(string_split(d.text, ' '),
      |        t -> CASE WHEN list_contains(vl.vs, t) THEN t ELSE '<unk>' END),
      |      ' ')) AS text_unk_md5
      |FROM documents d CROSS JOIN vl
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Vocab
      .unkRewrite(t(spark, dir).documents, "doc_id", "text", k = 20)
      .select(
        col("doc_id"),
        col("n_unk"),
        md5(col("text_unk").cast("binary")).as("text_unk_md5"))
      .orderBy("doc_id")
  }

  /** Near-dup clusters: connected components (hash-min label propagation,
    * [[DupClusters]]) over the n-gram-Jaccard ≥ 0.8 pair graph; every
    * document gets the min doc_id of its component (isolated docs label
    * themselves). Runs the CAPPED production plan with `maxShingleDf =
    * 64` — a cap that BINDS at every test scale (the q103/q34 clause;
    * r11 measured the 1024 library default taking ≥ 20 min/pass at
    * 500 k docs — at corpus scale the cap IS the knob that bounds the
    * Σ df² pair expansion AND the array-carrying verification join, and
    * the declared family pins a value sized for the largest bench SF).
    * The cap is a deterministic df filter, so the DuckDB oracle replays
    * it verbatim (the `kept` CTE) along with the component fixpoint —
    * the capped labelling itself is hash-checked. Uncapped all-shingle
    * exactness is spec-pinned at tiny scale in DedupSpec. q84/q90/q100
    * inherit this cap (their oracles replay the same `kept` CTE).
    */
  val q69DupClusters: Declared = Declared.sql(
    "q69_dup_clusters",
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |              generate_series(1, len(tk) - 2),
      |              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      |       FROM toks),
      |df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
      |kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s) WHERE df <= 64),
      |cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
      |pairs AS (
      |  SELECT a_id, b_id FROM (
      |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
      |    FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      |    GROUP BY a.doc_id, b.doc_id) x
      |  JOIN cnt ca ON ca.doc_id = a_id
      |  JOIN cnt cb ON cb.doc_id = b_id
      |  WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.8),
      |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
      |          UNION ALL SELECT b_id, a_id FROM pairs),
      |reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.s, r.lbl FROM edges e JOIN reach r ON e.d = r.id)
      |SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    DupClusters
      .clusterDocuments(t(spark, dir).documents, "doc_id", "text", maxShingleDf = Some(64L))
      .select(col("doc_id").cast("long").as("doc_id"), col("cluster_id").cast("long"))
      .orderBy("doc_id")
  }

  /** Unicode NFC normalization ([[graft.functions.NfcNormalize]], a
    * codegen'd Catalyst expression — Spark has no built-in). The corpus
    * text is ASCII, so decomposed sequences are SYNTHESIZED
    * deterministically on both engines (`e`→`e`+U+0301, `n`→`n`+U+0303)
    * and the full recomposed output is md5-checked against DuckDB's
    * `nfc_normalize` (JDK Normalizer vs utf8proc — both Unicode NFC).
    */
  val q89NfcNormalize: Declared = Declared.sql(
    "q89_nfc_normalize",
    """WITH d AS (
      |  SELECT doc_id,
      |    replace(replace(text, 'e', 'e' || chr(769)), 'n', 'n' || chr(771)) AS deco
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(length(deco) AS BIGINT) AS n_decomposed,
      |  CAST(length(nfc_normalize(deco)) AS BIGINT) AS n_nfc,
      |  deco <> nfc_normalize(deco) AS changed,
      |  md5(nfc_normalize(deco)) AS nfc_md5
      |FROM d ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.functions.NfcNormalize
    t(spark, dir).documents
      .select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"), "e", "e\u0301"),
          "n",
          "n\u0303").as("deco"))
      .select(
        col("doc_id"),
        length(col("deco")).cast("long").as("n_decomposed"),
        length(NfcNormalize(col("deco"))).cast("long").as("n_nfc"),
        (col("deco") =!= NfcNormalize(col("deco"))).as("changed"),
        md5(NfcNormalize(col("deco")).cast("binary")).as("nfc_md5"))
      .orderBy("doc_id")
  }

  /** Leakage-safe train/test split ([[DupClusters.leakSafeSplit]]): the
    * split is drawn from the near-dup CLUSTER label (q69's components),
    * so paraphrase duplicates can never straddle train and test. Runs
    * the CAPPED production edge plan (library-default `maxShingleDf`,
    * see q69) with the df cap replayed in the oracle's `kept` CTE. The
    * oracle replays the component fixpoint (recursive CTE) and the same
    * salted-md5 threshold, hash-checking every document's assignment.
    */
  val q90LeakSafeSplit: Declared = Declared.sql(
    "q90_leak_safe_split",
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |              generate_series(1, len(tk) - 2),
      |              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      |       FROM toks),
      |df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
      |kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s) WHERE df <= 64),
      |cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
      |pairs AS (
      |  SELECT a_id, b_id FROM (
      |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
      |    FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      |    GROUP BY a.doc_id, b.doc_id) x
      |  JOIN cnt ca ON ca.doc_id = a_id
      |  JOIN cnt cb ON cb.doc_id = b_id
      |  WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.8),
      |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
      |          UNION ALL SELECT b_id, a_id FROM pairs),
      |reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.s, r.lbl FROM edges e JOIN reach r ON e.d = r.id),
      |comp AS (SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
      |         FROM reach GROUP BY id)
      |SELECT doc_id, cluster_id,
      |  CASE WHEN substr(md5('split|' || CAST(cluster_id AS VARCHAR)), 1, 2) < 'cc'
      |       THEN 'train' ELSE 'test' END AS split
      |FROM comp ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val comp = DupClusters
      .clusterDocuments(t(spark, dir).documents, "doc_id", "text", maxShingleDf = Some(64L))
      .select(col("doc_id").cast("long").as("doc_id"), col("cluster_id").cast("long"))
    DupClusters
      .leakSafeSplit(comp)
      .orderBy("doc_id")
  }

  /** BM25 lexical retrieval ([[Bm25.topK]]): top-20 documents for a fixed
    * query-term set. The whole scorer is one projection + one reduced
    * stats row + a TakeOrdered — no token explode, no vocabulary shuffle.
    * The oracle replays the identical formula with the SAME operation
    * order (constants written as the unfolded expressions, e.g.
    * `(1.2 + 1.0)`, so both engines fold the same doubles); scores are
    * rounded to 6 dp before ranking, id tie-break.
    */
  val q91Bm25Topk: Declared = Declared.sql(
    "q91_bm25_topk",
    """WITH p AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS DOUBLE) AS tf1,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'window')) AS DOUBLE) AS tf2,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'merge')) AS DOUBLE) AS tf3
      |  FROM documents),
      |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
      |        CAST(sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS df1,
      |        CAST(sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS df2,
      |        CAST(sum(CASE WHEN tf3 > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS df3
      |      FROM p),
      |sc AS (SELECT doc_id, round(
      |    ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      |  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      |  + ln(1.0 + (n - df3 + 0.5) / (df3 + 0.5)) * (tf3 * (1.2 + 1.0)) / (tf3 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
      |    6) AS score FROM p CROSS JOIN s),
      |r AS (SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn FROM sc)
      |SELECT doc_id, score, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 20 ORDER BY rn""".stripMargin) {
    (spark, dir) =>
      Bm25
        .topK(t(spark, dir).documents, "doc_id", "text", Seq("spark", "window", "merge"), k = 20)
        .orderBy("rn")
  }

  /** Weighted sampling without replacement ([[Sampling.weightedTake]],
    * Efraimidis–Spirakis): 50 documents drawn proportional to `n_chars`,
    * deterministic via the salted-md5 uniform. The oracle refolds the md5
    * hex prefix to the same u32 (the q38 trick) and replays the
    * exponential-jitter key exactly.
    */
  val q92WeightedSample: Declared = Declared.sql(
    "q92_weighted_sample",
    """WITH u AS (
      |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
      |    list_sum(list_transform(range(8), i ->
      |      CAST(strpos('0123456789abcdef',
      |             substr(md5('wtake|' || CAST(doc_id AS VARCHAR)), CAST(i+1 AS INTEGER), 1)) - 1 AS BIGINT)
      |        << CAST(4*(7-i) AS INTEGER))) AS u32
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      |k AS (SELECT doc_id,
      |        round(-ln((CAST(u32 AS DOUBLE) + 0.5) / 4294967296.0) / w, 6) AS es_key FROM u),
      |r AS (SELECT doc_id, es_key,
      |        row_number() OVER (ORDER BY es_key ASC, doc_id ASC) AS sample_rank FROM k)
      |SELECT doc_id, es_key, CAST(sample_rank AS INTEGER) AS sample_rank
      |FROM r WHERE sample_rank <= 50 ORDER BY sample_rank""".stripMargin) { (spark, dir) =>
    Sampling
      .weightedTake(t(spark, dir).documents.select("doc_id", "n_chars"), "doc_id", "n_chars", k = 50)
      .select(col("doc_id"), col("es_key"), col("sample_rank"))
      .orderBy("sample_rank")
  }

  /** Tokenizer-merge statistics ([[TextAnalysis.adjacentPairs]]): the 50
    * most frequent adjacent token pairs — the count table a BPE trainer's
    * first merge step reads. Pair extraction is one projection (no
    * self-join); the count agg is pair-vocabulary-sized; top-k is a
    * TakeOrdered, never a global window over the pair vocabulary.
    */
  val q93BpePairs: Declared = Declared.sql(
    "q93_bpe_pairs",
    """WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
      |ix AS (SELECT t, unnest(range(1, len(t))) AS i FROM tk),
      |p AS (SELECT t[CAST(i AS INTEGER)] AS a, t[CAST(i + 1 AS INTEGER)] AS b FROM ix),
      |c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY a, b),
      |r AS (SELECT a, b, cnt, row_number() OVER (ORDER BY cnt DESC, a ASC, b ASC) AS rn FROM c)
      |SELECT a, b, cnt, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 50 ORDER BY rn""".stripMargin) {
    (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      // token array hoisted to its own projection (captured split() in the
      // transform lambda re-evaluates per element — the q58 HOF lesson)
      val pairs = t(spark, dir).documents
        .select(split(col("text"), " ").as("tk"))
        .select(explode(TextAnalysis.adjacentPairs(col("tk"))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
      val top = pairs
        .groupBy("a", "b")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(50)
      // the partition-less window runs over <= 50 rows by construction
      val w = Window.orderBy(col("cnt").desc, col("a").asc, col("b").asc)
      top.withColumn("rn", row_number().over(w)).orderBy("rn")
  }

  /** Bigram-LM quality score ([[Vocab.bigramLogProb]], add-0.5
    * smoothing): mean ln P(b|a) per document — catches word-salad that
    * unigram scoring (q75) cannot. Model counts and the V scalar are
    * replayed relationally by the oracle.
    */
  val q94BigramLogprob: Declared = Declared.sql(
    "q94_bigram_logprob",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ix AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tk),
      |p AS (SELECT doc_id, t[CAST(i AS INTEGER)] AS a, t[CAST(i + 1 AS INTEGER)] AS b FROM ix),
      |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM p GROUP BY a, b),
      |ca AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM cab GROUP BY a),
      |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vs
      |      FROM (SELECT unnest(t) AS tok FROM tk)),
      |lp AS (SELECT a, b,
      |         ln((CAST(cab AS DOUBLE) + 0.5) / (CAST(ca AS DOUBLE) + 0.5 * vs)) AS lp
      |       FROM cab JOIN ca USING (a) CROSS JOIN v)
      |SELECT p.doc_id, round(avg(lp.lp), 6) AS logprob, CAST(count(*) AS BIGINT) AS n_bigrams
      |FROM p JOIN lp USING (a, b)
      |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin) { (spark, dir) =>
    Vocab
      .bigramLogProb(t(spark, dir).documents, "doc_id", "text")
      .select(col("doc_id"), round(col("logprob"), 6).as("logprob"), col("n_bigrams"))
      .orderBy("doc_id")
  }

  /** Corpus snapshot diff ([[CorpusDiff.diff]]): v2 is derived from the
    * corpus deterministically (drop ~16% of ids, edit ~19% of the rest,
    * clone ~9% under offset ids — all salted-md5 draws), then every id is
    * classified added/removed/changed/unchanged by content digest. The
    * oracle rebuilds v2 from the same draws and replays the full-outer
    * digest join as a text comparison.
    */
  val q97SnapshotDiff: Declared = Declared.sql(
    "q97_snapshot_diff",
    """WITH v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN substr(md5('edit|' || CAST(doc_id AS VARCHAR)), 1, 2) < '30'
      |         THEN text || ' [v2]' ELSE text END AS text
      |  FROM documents
      |  WHERE substr(md5('drop|' || CAST(doc_id AS VARCHAR)), 1, 2) >= '28'
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
      |  WHERE substr(md5('clone|' || CAST(doc_id AS VARCHAR)), 1, 2) < '18')
      |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
      |  CASE WHEN a.doc_id IS NULL THEN 'added'
      |       WHEN b.doc_id IS NULL THEN 'removed'
      |       WHEN a.text <> b.text THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs    = t(spark, dir).documents.select("doc_id", "text")
    def b(salt: String) = Sampling.hashBucket(col("doc_id"), salt)
    val v2kept = docs
      .where(b("drop") >= "28")
      .select(
        col("doc_id"),
        when(b("edit") < "30", concat(col("text"), lit(" [v2]")))
          .otherwise(col("text"))
          .as("text"))
    val v2added = docs
      .where(b("clone") < "18")
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    CorpusDiff
      .diff(docs, v2kept.unionByName(v2added), "doc_id", Seq("text"))
      .orderBy("doc_id")
  }

  /** Zipf-fit diagnostic: OLS slope/intercept of ln(freq) on ln(rank)
    * over the top-1000 token types — the corpus-health check (natural
    * text slopes ≈ −1; synthetic or templated corpora flatten). Ranking
    * is [[Vocab.denseIds]] (no global window over the vocabulary); the
    * fit is one `regr_slope`/`regr_intercept` aggregate over ≤1000 rows.
    */
  val q98ZipfFit: Declared = Declared.sql(
    "q98_zipf_fit",
    """WITH cnt AS (SELECT tok, count(*) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY tok),
      |rk AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS r FROM cnt)
      |SELECT CAST(count(*) AS BIGINT) AS n_types,
      |  round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(r AS DOUBLE))), 4) AS slope,
      |  round(regr_intercept(ln(CAST(n AS DOUBLE)), ln(CAST(r AS DOUBLE))), 4) AS intercept
      |FROM rk WHERE r <= 1000""".stripMargin) { (spark, dir) =>
    val cnt = t(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
    Vocab
      .denseIds(cnt, Seq(col("n").desc, col("tok").asc), "r")
      .where(col("r") <= 1000)
      .agg(
        count(lit(1)).cast("long").as("n_types"),
        round(expr("regr_slope(ln(cast(n as double)), ln(cast(r as double)))"), 4).as("slope"),
        round(expr("regr_intercept(ln(cast(n as double)), ln(cast(r as double)))"), 4)
          .as("intercept"))
  }

  /** Per-source KL divergence from the corpus-wide unigram distribution —
    * the domain-shift column of a data card: which sources' token
    * distributions sit far from the mixture they feed. KL(P_src ∥ P_corpus)
    * over the source's observed types (a subset of the corpus types, so
    * the ratio is always finite).
    *
    * Scale shape: two token-keyed aggs (per-source, corpus) + a
    * vocabulary-sized broadcast rejoin; totals are one reduced row each.
    * The final agg is source-keyed — SOURCES rows of output.
    */
  val q99SourceKl: Declared = Declared.sql(
    "q99_source_kl",
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |st AS (SELECT source, tok, count(*) AS ns FROM tok GROUP BY source, tok),
      |stot AS (SELECT source, CAST(sum(ns) AS DOUBLE) AS ts FROM st GROUP BY source),
      |c AS (SELECT tok, count(*) AS nc FROM tok GROUP BY tok),
      |ctot AS (SELECT CAST(sum(nc) AS DOUBLE) AS tc FROM c)
      |SELECT st.source,
      |  round(sum((CAST(ns AS DOUBLE) / ts) *
      |            ln((CAST(ns AS DOUBLE) / ts) / (CAST(nc AS DOUBLE) / tc))), 6) AS kl
      |FROM st JOIN stot USING (source) JOIN c USING (tok) CROSS JOIN ctot
      |GROUP BY st.source
      |ORDER BY st.source""".stripMargin) { (spark, dir) =>
    val toks = t(spark, dir).documents
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val st     = toks.groupBy("source", "tok").agg(count(lit(1)).as("ns"))
    val stot   = st.groupBy("source").agg(sum("ns").cast("double").as("ts"))
    val corpus = toks.groupBy("tok").agg(count(lit(1)).as("nc"))
    val ctot   = corpus.agg(sum("nc").cast("double").as("tc"))
    val ps     = col("ns").cast("double") / col("ts")
    val pc     = col("nc").cast("double") / col("tc")
    st.join(broadcast(stot), Seq("source"))
      .join(broadcast(corpus), Seq("tok"))
      .crossJoin(broadcast(ctot))
      .groupBy("source")
      .agg(round(sum(ps * log(ps / pc)), 6).as("kl"))
      .orderBy("source")
  }

  /** Leakage-safe holdout scoring — the capstone composition: q90's
    * cluster-aware split keeps near-dups on one side, a bigram model is
    * trained ONLY on the train side ([[Vocab.bigramLogProbHoldout]]),
    * and the test side is scored under it (unseen transitions fall back
    * to the smoothing mass). Runs the CAPPED production edge plan
    * (library-default `maxShingleDf`, see q69) with the df cap replayed
    * in the oracle's `kept` CTE. The oracle replays the component
    * fixpoint, the split draw, and the left-joined model scoring end to
    * end.
    */
  val q100HoldoutScore: Declared = Declared.sql(
    "q100_holdout_score",
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |              generate_series(1, len(tk) - 2),
      |              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      |       FROM toks),
      |df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
      |kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s) WHERE df <= 64),
      |cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
      |prs AS (
      |  SELECT a_id, b_id FROM (
      |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
      |    FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      |    GROUP BY a.doc_id, b.doc_id) x
      |  JOIN cnt ca ON ca.doc_id = a_id
      |  JOIN cnt cb ON cb.doc_id = b_id
      |  WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.8),
      |edges AS (SELECT a_id AS s, b_id AS d FROM prs
      |          UNION ALL SELECT b_id, a_id FROM prs),
      |reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.s, r.lbl FROM edges e JOIN reach r ON e.d = r.id),
      |comp AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
      |sp AS (SELECT doc_id,
      |         CASE WHEN substr(md5('split|' || CAST(cluster_id AS VARCHAR)), 1, 2) < 'cc'
      |              THEN 'train' ELSE 'test' END AS split
      |       FROM comp),
      |tk AS (SELECT d.doc_id, sp.split, string_split(d.text, ' ') AS t
      |       FROM documents d JOIN sp ON sp.doc_id = d.doc_id),
      |ix AS (SELECT doc_id, split, t, unnest(range(1, len(t))) AS i FROM tk),
      |p AS (SELECT doc_id, split, t[CAST(i AS INTEGER)] AS a, t[CAST(i + 1 AS INTEGER)] AS b FROM ix),
      |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM p WHERE split = 'train' GROUP BY a, b),
      |cpre AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM cab GROUP BY a),
      |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vs
      |      FROM (SELECT unnest(t) AS tok FROM tk WHERE split = 'train')),
      |sc AS (SELECT p.doc_id,
      |         ln((CAST(COALESCE(cab.cab, 0) AS DOUBLE) + 0.5) /
      |            (CAST(COALESCE(cpre.ca, 0) AS DOUBLE) + 0.5 * v.vs)) AS lp
      |       FROM p LEFT JOIN cab USING (a, b) LEFT JOIN cpre USING (a) CROSS JOIN v
      |       WHERE p.split = 'test')
      |SELECT doc_id, round(avg(lp), 6) AS logprob, CAST(count(*) AS BIGINT) AS n_bigrams
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir).documents
    val comp = DupClusters
      .clusterDocuments(docs, "doc_id", "text", maxShingleDf = Some(64L))
      .select(col("doc_id"), col("cluster_id"))
    val withSplit = docs
      .join(DupClusters.leakSafeSplit(comp).select("doc_id", "split"), Seq("doc_id"))
    val train = withSplit.where(col("split") === "train")
    val test  = withSplit.where(col("split") === "test")
    Vocab
      .bigramLogProbHoldout(train, test, "doc_id", "text")
      .select(col("doc_id"), round(col("logprob"), 6).as("logprob"), col("n_bigrams"))
      .orderBy("doc_id")
  }

  /** RAG-style overlapping chunking (64-token windows, stride 48): one
    * row per chunk with its token count and content md5 — the chunk
    * CONTENT is hash-checked cross-engine, not just counted.
    */
  val q70Chunking: Declared = Declared.sql(
    "q70_chunking",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE len(string_split(text, ' ')) >= 1),
      |s AS (SELECT doc_id, tk, unnest(generate_series(0, len(tk) - 1, 48)) AS start FROM t)
      |SELECT doc_id,
      |  CAST(start / 48 AS BIGINT) AS chunk_idx,
      |  CAST(len(tk[start + 1 : start + 64]) AS BIGINT) AS n_tokens,
      |  md5(array_to_string(tk[start + 1 : start + 64], ' ')) AS chunk_md5
      |FROM s
      |ORDER BY doc_id, chunk_idx""".stripMargin) { (spark, dir) =>
    t(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= 1)
      .select(col("doc_id"), explode(TextAnalysis.chunkWindows(col("tk"), 64, 48)).as("c"))
      .select(
        col("doc_id"),
        col("c.chunk_idx").as("chunk_idx"),
        size(col("c.chunk_tokens")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("c.chunk_tokens")).cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** PII redaction (email / IPv4 / phone masking). The corpus tables carry
    * no real PII, so the contact strings are SYNTHESIZED deterministically
    * from customer keys on both engines — the operator under test is the
    * [[TextAnalysis.redactPii]] masking chain, whose full redacted output
    * is md5-checked cross-engine (Java regex vs RE2), plus per-rule
    * occurrence counts. custkey-mod cases vary the PII mix per row so the
    * counts are non-constant.
    */
  val q71PiiRedaction: Declared = Declared.sql(
    "q71_pii_redaction",
    """WITH t AS (
      |  SELECT c_custkey,
      |    'Contact ' || c_name || ' <user' || c_custkey || '@example.com>'
      |    || CASE WHEN c_custkey % 3 <> 0
      |            THEN ' call ' || printf('%03d-%03d-%04d', c_custkey % 1000,
      |                                    (c_custkey * 7) % 1000, c_custkey % 10000)
      |            ELSE '' END
      |    || CASE WHEN c_custkey % 5 = 0 THEN ' alt u' || c_custkey || '@alt.org' ELSE '' END
      |    || ' ip ' || printf('10.%d.%d.%d', c_nationkey, c_custkey % 256, (c_custkey * 3) % 256)
      |      AS txt
      |  FROM customer)
      |SELECT c_custkey,
      |  CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(txt, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
      |  CAST(len(regexp_extract_all(txt, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
      |  md5(regexp_replace(regexp_replace(regexp_replace(txt,
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |        '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
      |        '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
      |FROM t ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val ck = col("c_custkey")
    val phone = format_string(
      "%03d-%03d-%04d", pmod(ck, lit(1000)), pmod(ck * 7, lit(1000)), pmod(ck, lit(10000)))
    val ip = format_string(
      "10.%d.%d.%d", col("c_nationkey"), pmod(ck, lit(256)), pmod(ck * 3, lit(256)))
    val txt = concat(
      lit("Contact "), col("c_name"),
      lit(" <user"), ck.cast("string"), lit("@example.com>"),
      when(ck % 3 =!= 0, concat(lit(" call "), phone)).otherwise(lit("")),
      when(ck % 5 === 0, concat(lit(" alt u"), ck.cast("string"), lit("@alt.org"))).otherwise(lit("")),
      lit(" ip "), ip)
    val Seq(emailPat, ipPat, phonePat) = TextAnalysis.piiRules.map(_._1)
    t(spark, dir).customer
      .select(col("c_custkey"), txt.as("txt"))
      .select(
        col("c_custkey"),
        TextAnalysis.piiCount(col("txt"), emailPat).as("n_emails"),
        TextAnalysis.piiCount(col("txt"), ipPat).as("n_ips"),
        TextAnalysis.piiCount(col("txt"), phonePat).as("n_phones"),
        md5(TextAnalysis.redactPii(col("txt")).cast("binary")).as("redacted_md5"))
      .orderBy("c_custkey")
  }

  /** Boilerplate removal: drop every non-overlapping 2-token span that
    * occurs in ≥ 10 distinct documents, reassemble, and hash the cleaned
    * text — the rebuilt CONTENT is checked cross-engine, not just counts.
    */
  val q72DupspanRemoval: Declared = Declared.sql(
    "q72_dupspan_removal",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |wi AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) // 2)) AS i FROM t),
      |w AS (SELECT doc_id, i, array_to_string(tk[(i-1)*2+1 : i*2], ' ') AS w FROM wi),
      |freq AS (SELECT w FROM w GROUP BY w HAVING count(DISTINCT doc_id) >= 10),
      |kept AS (SELECT w.doc_id, w.i, w.w FROM w ANTI JOIN freq USING (w)),
      |kl AS (SELECT doc_id, flatten(list(string_split(w, ' ') ORDER BY i)) AS ks
      |       FROM kept GROUP BY doc_id)
      |SELECT t.doc_id,
      |  md5(coalesce(array_to_string(
      |        list_concat(coalesce(kl.ks, []), tk[len(tk)//2*2+1 : len(tk)]), ' '), '')) AS clean_md5,
      |  CAST(len(tk)//2 - coalesce(len(kl.ks), 0)//2 AS BIGINT) AS n_removed
      |FROM t LEFT JOIN kl USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Dedup
      .removeDuplicatedSpans(t(spark, dir).documents, "doc_id", "text", window = 2, minDocs = 10L)
      .select(
        col("doc_id"),
        md5(col("text_clean").cast("binary")).as("clean_md5"),
        col("n_removed"))
      .orderBy("doc_id")
  }

  /** Exact-count stratified take: the 20 salted-md5-smallest docs per
    * source (deterministic data-mixing draw; rank and membership both
    * hash-checked).
    */
  val q73StratifiedTake: Declared = Declared.sql(
    "q73_stratified_take",
    """WITH r AS (
      |  SELECT source, doc_id,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY md5('take|' || CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
      |  FROM documents)
      |SELECT source, CAST(sample_rank AS BIGINT) AS sample_rank, CAST(doc_id AS BIGINT) AS doc_id
      |FROM r WHERE sample_rank <= 20
      |ORDER BY source, sample_rank""".stripMargin) { (spark, dir) =>
    Sampling
      .stratifiedTake(t(spark, dir).documents, "doc_id", "source", n = 20)
      .select(col("source"), col("sample_rank").cast("long"), col("doc_id").cast("long"))
      .orderBy("source", "sample_rank")
  }

  /** Corpus-unigram log-probability quality score per document (KenLM-
    * shaped junk screen): mean ln p(token) under the corpus unigram
    * distribution.
    */
  val q75UnigramLogprob: Declared = Declared.sql(
    "q75_unigram_logprob",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |cnt AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
      |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM cnt),
      |lp AS (SELECT tok, ln(CAST(n AS DOUBLE) / total) AS lp FROM cnt CROSS JOIN tot)
      |SELECT t.doc_id, round(avg(l.lp), 6) AS logprob, CAST(count(*) AS BIGINT) AS n_tokens
      |FROM tok t JOIN lp l USING (tok)
      |GROUP BY t.doc_id
      |ORDER BY t.doc_id""".stripMargin) { (spark, dir) =>
    Vocab
      .unigramLogProb(t(spark, dir).documents, "doc_id", "text")
      .select(col("doc_id"), round(col("logprob"), 6).as("logprob"), col("n_tokens"))
      .orderBy("doc_id")
  }

  /** Token-budget corpus selection: walk the quality ranking (q32's
    * score; ties → doc_id) keeping documents while the inclusive running
    * token total stays ≤ 10 000 — membership, rank order and the running
    * totals are all hash-checked against a windowed-cumsum replay.
    */
  val q76TokenBudget: Declared = Declared.sql(
    "q76_token_budget",
    """WITH s AS (
      |  SELECT doc_id,
      |    round(least(n_chars / 500.0, 1.0) * 0.4
      |          + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |             / len(string_split(text, ' '))) * 0.3
      |          + (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |             / greatest(length(text), 1)) * 0.3, 6) AS quality,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, quality, n_tokens,
      |             CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
      |                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |      FROM s)
      |SELECT doc_id, quality, n_tokens, cum_tokens
      |FROM c WHERE cum_tokens <= 10000
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir).documents
    CorpusSelect
      .tokenBudget(
        docs,
        TextAnalysis.qualityScore(col("text"), col("n_chars")),
        "doc_id",
        "text",
        budget = 10000L)
      .select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text"), col("n_chars")).as("quality"),
        col("n_tokens"),
        col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Vocabulary coverage curve: fraction of token occurrences covered by
    * the k most frequent types, k ∈ {1,2,4,…,128} — the "how big a vocab"
    * tokenizer-design op.
    */
  val q77VocabCoverage: Declared = Declared.sql(
    "q77_vocab_coverage",
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |cnt AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
      |rk AS (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok ASC) AS token_id FROM cnt),
      |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM cnt),
      |g AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128]) AS k)
      |SELECT g.k AS k,
      |  CAST(count(rk.token_id) AS BIGINT) AS n_types,
      |  round(sum(rk.n) / max(tot.total), 6) AS coverage
      |FROM g JOIN rk ON rk.token_id <= g.k CROSS JOIN tot
      |GROUP BY g.k
      |ORDER BY k""".stripMargin) { (spark, dir) =>
    Vocab
      .coverageCurve(t(spark, dir).documents, "text", Seq(1, 2, 4, 8, 16, 32, 64, 128))
      .orderBy("k")
  }

  /** Cross-source contamination matrix: distinct-3-gram Jaccard overlap
    * between every pair of sources — the dataset-level leak report
    * (shared shingle counts AND the Jaccard both hash-checked).
    */
  val q78SourceOverlap: Declared = Declared.sql(
    "q78_source_overlap",
    """WITH toks AS (SELECT source, string_split(text, ' ') AS tk FROM documents
      |              WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT source, unnest(list_distinct(list_transform(
      |               generate_series(1, len(tk) - 2),
      |               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      |        FROM toks),
      |sh AS (SELECT DISTINCT source, s FROM sh0),
      |cnt AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
      |p AS (SELECT a.source AS a_group, b.source AS b_group, count(*) AS shared
      |      FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
      |      GROUP BY 1, 2)
      |SELECT a_group, b_group, CAST(shared AS BIGINT) AS shared,
      |       round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 6) AS jaccard
      |FROM p JOIN cnt ca ON ca.source = a_group JOIN cnt cb ON cb.source = b_group
      |ORDER BY a_group, b_group""".stripMargin) { (spark, dir) =>
    Dedup
      .groupOverlapMatrix(t(spark, dir).documents, "source", "text", n = 3)
      .select(
        col("a_group"),
        col("b_group"),
        col("shared"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy("a_group", "b_group")
  }

  /** Full Gopher document-quality rule battery (Rae et al. 2021 A1.1):
    * word-count band, mean word length band, symbol-to-word ratio,
    * bullet-line and ellipsis-line ratios, alpha-word fraction, and the
    * required-stopword presence rule, plus the conjunction `keep` flag.
    * The flag is computed from the ROUNDED metrics on both engines so a
    * float at a rule boundary cannot flip it on one side only. One
    * projection — no shuffle, scan-bound at any corpus size.
    */
  val q79GopherQuality: Declared = Declared.sql(
    "q79_gopher_quality",
    """WITH d AS (
      |  SELECT doc_id, text,
      |         string_split(text, ' ') AS tk,
      |         string_split(text, chr(10)) AS ln
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(tk) AS BIGINT) AS n_words,
      |    round(CAST(list_sum(list_transform(tk, w -> length(w))) AS DOUBLE)
      |          / greatest(len(tk), 1), 4) AS mean_word_len,
      |    round(CAST(len(regexp_extract_all(text, '#')) +
      |               len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
      |          / greatest(len(tk), 1), 6) AS symbol_ratio,
      |    round(CAST(len(list_filter(ln, l -> regexp_matches(l, '^[-*•]'))) AS DOUBLE)
      |          / greatest(len(ln), 1), 6) AS bullet_ratio,
      |    round(CAST(len(list_filter(ln, l -> regexp_matches(l, '(\.\.\.|…)$'))) AS DOUBLE)
      |          / greatest(len(ln), 1), 6) AS ellipsis_ratio,
      |    round(CAST(len(list_filter(tk, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
      |          / greatest(len(tk), 1), 6) AS alpha_frac,
      |    CAST(len(list_intersect(list_transform(tk, w -> lower(w)),
      |         ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_req_words
      |  FROM d)
      |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
      |       ellipsis_ratio, alpha_frac, n_req_words,
      |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10
      |   AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3
      |   AND alpha_frac >= 0.8 AND n_req_words >= 2) AS keep
      |FROM m ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val d = t(spark, dir).documents.select(
      col("doc_id"),
      col("text"),
      split(col("text"), " ").as("tk"),
      split(col("text"), "\n").as("ln"))
    d.select(
        col("doc_id"),
        size(col("tk")).cast("long").as("n_words"),
        round(TextAnalysis.meanTokenLen(col("tk")), 4).as("mean_word_len"),
        round(TextAnalysis.symbolRatio(col("text"), col("tk")), 6).as("symbol_ratio"),
        round(TextAnalysis.lineFrac(col("ln"), "^[-*•]"), 6).as("bullet_ratio"),
        round(TextAnalysis.lineFrac(col("ln"), "(\\.\\.\\.|…)$"), 6).as("ellipsis_ratio"),
        round(TextAnalysis.alphaTokenFrac(col("tk")), 6).as("alpha_frac"),
        TextAnalysis.requiredWordHits(col("tk")).as("n_req_words"))
      .withColumn(
        "keep",
        col("n_words").between(50, 100000) && col("mean_word_len").between(3, 10) &&
          col("symbol_ratio") <= 0.1 && col("bullet_ratio") <= 0.9 &&
          col("ellipsis_ratio") <= 0.3 && col("alpha_frac") >= 0.8 && col("n_req_words") >= 2)
      .orderBy("doc_id")
  }

  /** Per-source token-count histogram on power-of-two buckets — the
    * data-card length report a mixture planner reads. The bucket is the
    * BIT LENGTH of the token count (`length(bin(n))`), not
    * `floor(log2(n))`: integer-exact on both engines, where the
    * float log2 rounds unpredictably at exact powers of two.
    */
  val q83TokenHistogram: Declared = Declared.sql(
    "q83_token_histogram",
    """WITH d AS (SELECT source,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |           FROM documents)
      |SELECT source, CAST(length(bin(n_tokens)) AS INTEGER) AS bucket,
      |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      |FROM d GROUP BY source, bucket
      |ORDER BY source, bucket""".stripMargin) { (spark, dir) =>
    t(spark, dir).documents
      .select(col("source"), nTokens(col("text")).cast("long").as("n_tokens"))
      .groupBy(col("source"), length(bin(col("n_tokens"))).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").cast("long").as("sum_tokens"))
      .orderBy("source", "bucket")
  }

  /** Canonical-document election over the q69 near-dup clusters: per
    * cluster keep the HIGHEST-QUALITY member (q32's score, rounded before
    * ranking; doc_id breaks ties) — the dedup decision a pipeline ships,
    * vs q69's raw cluster labels. Runs the CAPPED production edge plan
    * (library-default `maxShingleDf`, see q69) with the df cap replayed
    * in the oracle's `kept` CTE. Cluster assignment, survivor, and keep
    * flag are all hash-checked.
    */
  val q84DupSurvivors: Declared = Declared.sql(
    "q84_dup_survivors",
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |              generate_series(1, len(tk) - 2),
      |              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      |       FROM toks),
      |df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
      |kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s) WHERE df <= 64),
      |cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
      |pairs AS (
      |  SELECT a_id, b_id FROM (
      |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
      |    FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      |    GROUP BY a.doc_id, b.doc_id) x
      |  JOIN cnt ca ON ca.doc_id = a_id
      |  JOIN cnt cb ON cb.doc_id = b_id
      |  WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.8),
      |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
      |          UNION ALL SELECT b_id, a_id FROM pairs),
      |reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.s, r.lbl FROM edges e JOIN reach r ON e.d = r.id),
      |clusters AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
      |q AS (SELECT doc_id,
      |  round(least(n_chars / 500.0, 1.0) * 0.4
      |        + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |           / len(string_split(text, ' '))) * 0.3
      |        + (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |           / greatest(length(text), 1)) * 0.3, 6) AS quality
      |      FROM documents)
      |SELECT CAST(c.doc_id AS BIGINT) AS doc_id, CAST(c.cluster_id AS BIGINT) AS cluster_id,
      |       q.quality,
      |       CAST(first_value(c.doc_id) OVER (PARTITION BY c.cluster_id
      |              ORDER BY q.quality DESC, c.doc_id ASC) AS BIGINT) AS survivor_id,
      |       (c.doc_id = first_value(c.doc_id) OVER (PARTITION BY c.cluster_id
      |              ORDER BY q.quality DESC, c.doc_id ASC)) AS keep
      |FROM clusters c JOIN q ON q.doc_id = c.doc_id
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir).documents
    val clusters = DupClusters
      .clusterDocuments(docs, "doc_id", "text", maxShingleDf = Some(64L))
      .select(col("doc_id").cast("long").as("doc_id"), col("cluster_id").cast("long"))
    val q = docs.select(
      col("doc_id").cast("long").as("doc_id"),
      TextAnalysis.qualityScore(col("text"), col("n_chars")).as("quality"))
    DupClusters
      .electSurvivors(clusters.join(q, "doc_id"), "doc_id", "cluster_id", "quality")
      .select(col("doc_id"), col("cluster_id"), col("quality"), col("survivor_id").cast("long"), col("keep"))
      .orderBy("doc_id")
  }

  /** End-to-end corpus build ([[CorpusPipeline]]): filter → exact dedup →
    * token-budget selection → packing, one lazy plan, replayed by the
    * oracle as the same CTE chain. Membership, quality ranking, running
    * totals AND pack boundaries are all hash-checked in one gate.
    */
  val q86CorpusBuild: Declared = Declared.sql(
    "q86_corpus_build",
    """WITH m AS (
      |  SELECT doc_id, text,
      |    round(least(n_chars / 500.0, 1.0) * 0.4
      |          + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |             / len(string_split(text, ' '))) * 0.3
      |          + (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |             / greatest(length(text), 1)) * 0.3, 6) AS quality,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    round(CAST(len(list_filter(string_split(text, ' '),
      |                               w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
      |          / greatest(len(string_split(text, ' ')), 1), 6) AS alpha_frac,
      |    CAST(len(list_intersect(list_transform(string_split(text, ' '), w -> lower(w)),
      |         ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_req
      |  FROM documents),
      |f AS (SELECT doc_id, text, quality FROM m
      |      WHERE n_words BETWEEN 20 AND 100000 AND alpha_frac >= 0.8 AND n_req >= 1),
      |d AS (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM f),
      |u AS (SELECT doc_id, text, quality FROM d WHERE rn = 1),
      |c AS (SELECT doc_id, quality,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |             CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
      |                  OVER (ORDER BY quality DESC, doc_id ASC
      |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |      FROM u)
      |SELECT doc_id, quality, n_tokens, cum_tokens,
      |       CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS pack_id
      |FROM c WHERE cum_tokens <= 10000
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    CorpusPipeline
      .buildTrainingSet(
        t(spark, dir).documents,
        "doc_id",
        "text",
        "n_chars",
        budget = 10000L,
        capacity = 512L)
      .select(col("doc_id"), col("quality"), col("n_tokens"), col("cum_tokens"), col("pack_id"))
      .orderBy("doc_id")
  }

  /** Per-source corpus data card — the summary table a dataset release
    * ships: volume, token mass, exact-dup rate, mean quality, and
    * language-distribution entropy, one row per source. Two
    * source-keyed aggregations (doc stats; lang histogram → entropy)
    * joined on the source key — every input is source-partitioned, so
    * at scale this is two map-side-combined shuffles over tiny keys.
    */
  val q87DataCard: Declared = Declared.sql(
    "q87_data_card",
    """WITH d AS (
      |  SELECT source, lang, text,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    round(least(n_chars / 500.0, 1.0) * 0.4
      |          + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |             / len(string_split(text, ' '))) * 0.3
      |          + (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |             / greatest(length(text), 1)) * 0.3, 6) AS quality
      |  FROM documents),
      |s AS (SELECT source, count(*) AS n_docs,
      |             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |             CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dupes,
      |             round(avg(quality), 6) AS avg_quality
      |      FROM d GROUP BY source),
      |lc AS (SELECT source, lang, count(*) AS c FROM d GROUP BY source, lang),
      |lt AS (SELECT source, sum(c) AS t FROM lc GROUP BY source),
      |e AS (SELECT lc.source,
      |             round(-sum((CAST(c AS DOUBLE) / t) * ln(CAST(c AS DOUBLE) / t)), 6)
      |               AS lang_entropy
      |      FROM lc JOIN lt ON lc.source = lt.source GROUP BY lc.source)
      |SELECT s.source, s.n_docs, s.total_tokens, s.n_dupes, s.avg_quality, e.lang_entropy
      |FROM s JOIN e ON s.source = e.source
      |ORDER BY s.source""".stripMargin) { (spark, dir) =>
    val d = t(spark, dir).documents.select(
      col("source"),
      col("lang"),
      col("text"),
      nTokens(col("text")).cast("long").as("n_tokens"),
      TextAnalysis.qualityScore(col("text"), col("n_chars")).as("quality"))
    val s = d
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("total_tokens"),
        (count(lit(1)) - countDistinct(md5(col("text").cast("binary")))).cast("long").as("n_dupes"),
        round(avg("quality"), 6).as("avg_quality"))
    val lc = d.groupBy("source", "lang").agg(count(lit(1)).as("c"))
    val e = lc
      .withColumn("t", sum("c").over(org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .groupBy("source")
      .agg(round(-sum((col("c").cast("double") / col("t")) *
        log(col("c").cast("double") / col("t"))), 6).as("lang_entropy"))
    s.join(e, "source")
      .select(col("source"), col("n_docs"), col("total_tokens"), col("n_dupes"),
        col("avg_quality"), col("lang_entropy"))
      .orderBy("source")
  }

  /** Per-language token-budget draw (the mixture-plan execution step):
    * q76's greedy quality ranking applied independently within every
    * language, 2 000 tokens each — grouped two-phase prefix-sum scan,
    * no per-group window task ([[CorpusSelect.tokenBudgetPerGroup]]).
    */
  val q88LangBudget: Declared = Declared.sql(
    "q88_lang_budget",
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    round(least(n_chars / 500.0, 1.0) * 0.4
      |          + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |             / len(string_split(text, ' '))) * 0.3
      |          + (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |             / greatest(length(text), 1)) * 0.3, 6) AS quality,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, lang, quality, n_tokens,
      |             CAST(sum(n_tokens) OVER (PARTITION BY lang
      |                                      ORDER BY quality DESC, doc_id ASC
      |                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |      FROM s)
      |SELECT lang, doc_id, quality, n_tokens, cum_tokens
      |FROM c WHERE cum_tokens <= 2000
      |ORDER BY lang, doc_id""".stripMargin) { (spark, dir) =>
    CorpusSelect
      .tokenBudgetPerGroup(
        t(spark, dir).documents,
        TextAnalysis.qualityScore(col("text"), col("n_chars")),
        "doc_id",
        "lang",
        "text",
        budget = 2000L)
      .select(
        col("lang"),
        col("doc_id"),
        TextAnalysis.qualityScore(col("text"), col("n_chars")).as("quality"),
        col("n_tokens"),
        col("cum_tokens"))
      .orderBy("lang", "doc_id")
  }

  /** Temperature-scaled mixture weights
    * ([[CorpusSelect.temperatureWeights]], α = 0.3): observed share,
    * flattened target share, and the per-document sampling weight per
    * source — the q60 uniform-target mixture generalized to the
    * `p^α` sampling standard. The oracle replays the two-stage
    * normalization with the same operation order.
    */
  val q101TemperatureMix: Declared = Declared.sql(
    "q101_temperature_mix",
    """WITH s AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM s),
      |p AS (SELECT source, n, CAST(n AS DOUBLE) / t AS p,
      |             pow(CAST(n AS DOUBLE) / t, 0.3) AS pa
      |      FROM s CROSS JOIN tot),
      |z AS (SELECT sum(pa) AS z FROM p)
      |SELECT source, CAST(n AS BIGINT) AS n_docs,
      |       round(p, 6) AS actual_share,
      |       round(pa / z, 6) AS temp_share,
      |       round((pa / z) / p, 6) AS weight
      |FROM p CROSS JOIN z ORDER BY source""".stripMargin) { (spark, dir) =>
    CorpusSelect
      .temperatureWeights(t(spark, dir).documents, "source", alpha = 0.3)
      .orderBy("source")
  }

  /** Perplexity banding ([[Vocab.logProbBands]]): every document bucketed
    * head/middle/tail within its language by per-language unigram
    * log-prob quantile thresholds — the CCNet fluency screen. Thresholds
    * are a languages-sized aggregate broadcast back (no per-language
    * ntile window); the oracle replays the q75 scorer, the
    * `quantile_cont` thresholds and the same `>=` band cases, so every
    * document's assignment is hash-checked.
    */
  val q102PerplexityBands: Declared = Declared.sql(
    "q102_perplexity_bands",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |cnt AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
      |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM cnt),
      |lpm AS (SELECT tok, ln(CAST(n AS DOUBLE) / total) AS lp FROM cnt CROSS JOIN tot),
      |dl AS (SELECT t.doc_id, round(avg(l.lp), 6) AS logprob
      |       FROM tok t JOIN lpm l USING (tok) GROUP BY t.doc_id),
      |dg AS (SELECT d.doc_id, d.lang, dl.logprob
      |       FROM documents d JOIN dl ON d.doc_id = dl.doc_id),
      |th AS (SELECT lang, quantile_cont(logprob, 0.3) AS t_mid,
      |              quantile_cont(logprob, 0.7) AS t_head
      |       FROM dg GROUP BY lang)
      |SELECT dg.doc_id, dg.lang, dg.logprob,
      |  CASE WHEN dg.logprob >= th.t_head THEN 'head'
      |       WHEN dg.logprob >= th.t_mid THEN 'middle'
      |       ELSE 'tail' END AS band
      |FROM dg JOIN th USING (lang) ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Vocab
      .logProbBands(t(spark, dir).documents, "doc_id", "text", "lang")
      .orderBy("doc_id")
  }

  /** The CAPPED production clustering path ([[DupClusters.clusterDocuments]]
    * with an explicit `maxShingleDf`): shingles above the df cap are
    * dropped BEFORE pair expansion, Jaccard is computed over the
    * retained-shingle universe, and components form over the resulting
    * edge set. The cap here (2) is chosen to BIND at test scale — the
    * labelling provably differs from q69's uncapped components — so the
    * hash gate pins the capped semantics themselves, not just the happy
    * path where the cap is a no-op. At 100 TB this is the path a pipeline
    * runs: pair rows are bounded by cap² per shingle instead of df².
    */
  val q103DupClustersCapped: Declared = Declared.sql(
    "q103_dup_clusters_capped",
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |              generate_series(1, len(tk) - 2),
      |              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      |       FROM toks),
      |df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
      |kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s) WHERE df <= 2),
      |cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
      |pairs AS (
      |  SELECT a_id, b_id FROM (
      |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
      |    FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      |    GROUP BY a.doc_id, b.doc_id) x
      |  JOIN cnt ca ON ca.doc_id = a_id
      |  JOIN cnt cb ON cb.doc_id = b_id
      |  WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.8),
      |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
      |          UNION ALL SELECT b_id, a_id FROM pairs),
      |reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.s, r.lbl FROM edges e JOIN reach r ON e.d = r.id)
      |SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    DupClusters
      .clusterDocuments(t(spark, dir).documents, "doc_id", "text", maxShingleDf = Some(2L))
      .select(col("doc_id").cast("long").as("doc_id"), col("cluster_id").cast("long"))
      .orderBy("doc_id")
  }

  /** Production MinHash dedup END TO END, hash-checked: banded signatures
    * ([[Dedup.nearDupPairs]], 4 bands × 2 rows) → band-df cap (3, which
    * BINDS at test scale: one degenerate bucket holds 300+ near-empty
    * docs — exactly the hazard the cap exists for) → exact-Jaccard
    * verification ≥ 0.5 → connected components → keep = min-id survivor.
    * The oracle replays the salted-md5 signatures (q17's identity), the
    * bucket cap, the verification join and the component fixpoint, so
    * the whole production dedup decision chain is pinned cross-engine.
    */
  val q104MinhashDedupE2e: Declared = Declared.sql(
    "q104_minhash_dedup_e2e",
    """WITH RECURSIVE tk AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |tok AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
      |sig AS (SELECT doc_id,
      |  min(md5('s0|' || tok)) AS s0, min(md5('s1|' || tok)) AS s1,
      |  min(md5('s2|' || tok)) AS s2, min(md5('s3|' || tok)) AS s3,
      |  min(md5('s4|' || tok)) AS s4, min(md5('s5|' || tok)) AS s5,
      |  min(md5('s6|' || tok)) AS s6, min(md5('s7|' || tok)) AS s7
      |  FROM tok GROUP BY doc_id),
      |band AS (
      |  SELECT doc_id, 0 AS band_idx, s0 || '|' || s1 AS band_val FROM sig
      |  UNION ALL SELECT doc_id, 1, s2 || '|' || s3 FROM sig
      |  UNION ALL SELECT doc_id, 2, s4 || '|' || s5 FROM sig
      |  UNION ALL SELECT doc_id, 3, s6 || '|' || s7 FROM sig),
      |bdf AS (SELECT band_idx, band_val, count(*) AS df FROM band GROUP BY 1, 2),
      |bkept AS (SELECT b.doc_id, b.band_idx, b.band_val
      |          FROM band b JOIN bdf USING (band_idx, band_val) WHERE df <= 3),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |         FROM bkept a JOIN bkept b
      |           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |          AND a.doc_id < b.doc_id),
      |n AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
      |inter AS (SELECT c.a_id, c.b_id, count(*) AS c FROM cand c
      |          JOIN tok ta ON ta.doc_id = c.a_id
      |          JOIN tok tb ON tb.doc_id = c.b_id AND tb.tok = ta.tok
      |          GROUP BY 1, 2),
      |pairs AS (SELECT i.a_id, i.b_id FROM inter i
      |          JOIN n na ON na.doc_id = i.a_id
      |          JOIN n nb ON nb.doc_id = i.b_id
      |          WHERE round(CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c), 6) >= 0.5),
      |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
      |          UNION ALL SELECT b_id, a_id FROM pairs),
      |reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.s, r.lbl FROM edges e JOIN reach r ON e.d = r.id)
      |SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id,
      |       (id = min(lbl)) AS keep
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir).documents
    val edges = Dedup
      .nearDupPairs(docs, "doc_id", "text", bands = 4, rowsPerBand = 2, tau = 0.5,
        maxBandDf = Some(3L), family = Dedup.Md5)
      .select("a_id", "b_id")
    DupClusters
      .connectedComponents(docs.select(col("doc_id").as("id")), edges)
      .select(col("id").cast("long").as("doc_id"), col("cluster_id").cast("long"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[Bpe]]'s string kernel, unrolled: r0 packs each
    * document into the ␁␁-delimited string; each round k derives pair
    * counts from the current strings, picks the best pair (count desc,
    * left asc, right asc — binary collation on both engines), and applies
    * the SAME `replace` rewrite. The CASE guards the minCount early-stop:
    * once the best count drops below minCount the state stops changing,
    * so every later round recomputes the same sub-threshold best and its
    * merge row is filtered out. MATERIALIZED pins each round to evaluate
    * once (the chain is referenced multiply; inlining would re-run prior
    * rounds per reference).
    */
  private def bpeOracleCtes(nMerges: Int, minCount: Long): String = {
    val D  = Bpe.D
    val DD = D + D
    val sb = new StringBuilder
    sb ++= s"WITH r0 AS MATERIALIZED (SELECT doc_id, '$DD' || " +
      s"array_to_string(list_filter(string_split(text, ' '), t -> t <> ''), '$DD') || '$DD' AS s " +
      "FROM documents WHERE text IS NOT NULL)"
    for (k <- 1 to nMerges) {
      val p = k - 1
      sb ++= s""",
        |b$k AS MATERIALIZED (
        |  SELECT a, b, c FROM (
        |    SELECT t[CAST(i AS INTEGER)] AS a, t[CAST(i + 1 AS INTEGER)] AS b, count(*) AS c
        |    FROM (SELECT t, unnest(range(1, len(t))) AS i
        |          FROM (SELECT list_filter(string_split(s, '$DD'), x -> x <> '') AS t FROM r$p)
        |          WHERE len(t) > 1)
        |    GROUP BY 1, 2)
        |  ORDER BY c DESC, a ASC, b ASC LIMIT 1),
        |r$k AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN (SELECT c FROM b$k) >= $minCount
        |         THEN replace(s, '$D' || (SELECT a FROM b$k) || '$DD' || (SELECT b FROM b$k) || '$D',
        |                         '$D' || (SELECT a FROM b$k) || ' ' || (SELECT b FROM b$k) || '$D')
        |         ELSE s END AS s
        |  FROM r$p)""".stripMargin
    }
    sb.toString
  }

  /** BPE merge training ([[Bpe.trainMerges]]): 8 greedy rounds over the
    * corpus, each ONE pair-count aggregate + ONE string-replace merge
    * pass. Hash-oracled end to end: the oracle unrolls all 8 rounds of
    * the identical delimited-string kernel ([[bpeOracleCtes]]), so the
    * greedy choice, tie-break, AND the rewrite are all cross-engine
    * checked; the scan-equivalence proof also stays pinned against a
    * driver-side reference trainer in BpeSpec.
    */
  val q105BpeMerges: Declared = Declared.sql(
    "q105_bpe_merges",
    bpeOracleCtes(nMerges = 8, minCount = 2L) + "\n" +
      (1 to 8)
        .map(k =>
          s"""SELECT $k AS merge_idx, a AS "left", b AS "right", CAST(c AS BIGINT) AS pair_count, a || ' ' || b AS new_token FROM b$k WHERE c >= 2""")
        .mkString("", "\nUNION ALL\n", "\nORDER BY merge_idx")) { (spark, dir) =>
    Bpe
      .trainMerges(t(spark, dir).documents, "doc_id", "text", nMerges = 8, minCount = 2L)
      .orderBy("merge_idx")
  }

  /** Per-document token Shannon entropy — the information-theoretic
    * gibberish/repetition screen (low entropy = degenerate repetition,
    * entropy ≈ log n_distinct = no reuse at all). One pair of
    * aggregations, no window; `norm_entropy` divides by ln(n_distinct)
    * (0 for single-token docs). Both engines compute −Σ p·ln p over the
    * within-doc token distribution with the same operation order.
    */
  val q106TokenEntropy: Declared = Declared.sql(
    "q106_token_entropy",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |cnt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
      |n AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n, count(*) AS k FROM cnt GROUP BY doc_id)
      |SELECT cnt.doc_id,
      |  CAST(n.n AS BIGINT) AS n_tokens,
      |  CAST(n.k AS BIGINT) AS n_distinct,
      |  round(-sum((CAST(c AS DOUBLE) / n.n) * ln(CAST(c AS DOUBLE) / n.n)), 6)
      |    AS token_entropy,
      |  CASE WHEN n.k > 1
      |       THEN round(-sum((CAST(c AS DOUBLE) / n.n) * ln(CAST(c AS DOUBLE) / n.n))
      |                  / ln(CAST(n.k AS DOUBLE)), 6)
      |       ELSE 0.0 END AS norm_entropy
      |FROM cnt JOIN n ON n.doc_id = cnt.doc_id
      |GROUP BY cnt.doc_id, n.n, n.k
      |ORDER BY cnt.doc_id""".stripMargin) { (spark, dir) =>
    TextAnalysis
      .tokenEntropy(t(spark, dir).documents, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** DSIR importance weights ([[Dsir.importanceWeights]], Xie et al.
    * 2023): every document scored by the hashed-unigram log-likelihood
    * ratio of the English slice (the "target domain") against the whole
    * raw corpus — the data-selection step that decides what a pretraining
    * mixture keeps. Both engines hash tokens to the same 256 md5-prefix
    * buckets, smooth add-one, and sum ln(p_target/p_raw) per document in
    * the same operation order.
    */
  val q107DsirWeights: Declared = Declared.sql(
    "q107_dsir_weights",
    """WITH tk AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |            FROM documents WHERE text IS NOT NULL),
      |tok AS (SELECT doc_id, lang, substr(md5(tok), 1, 2) AS b FROM tk),
      |tgt AS (SELECT b, count(*) AS nt FROM tok WHERE lang = 'en' GROUP BY b),
      |raw AS (SELECT b, count(*) AS nr FROM tok GROUP BY b),
      |tt AS (SELECT CAST(sum(nt) AS DOUBLE) AS tt FROM tgt),
      |rt AS (SELECT CAST(sum(nr) AS DOUBLE) AS rt FROM raw)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  round(sum(ln(((CAST(COALESCE(tgt.nt, 0) AS DOUBLE) + 1.0) / (tt.tt + 256.0)) /
      |               ((CAST(COALESCE(raw.nr, 0) AS DOUBLE) + 1.0) / (rt.rt + 256.0)))), 6)
      |    AS dsir_weight
      |FROM tok LEFT JOIN tgt USING (b) LEFT JOIN raw USING (b)
      |CROSS JOIN tt CROSS JOIN rt
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Dsir
      .importanceWeights(t(spark, dir).documents, "doc_id", "text", col("lang") === "en")
      .orderBy("doc_id")
  }

  /** Naive Bayes language classification ([[NaiveBayes.confusion]]) —
    * the classifier-based filtering/routing stage: train a multinomial
    * NB on the md5-split train slice (q51's engine-portable draw), score
    * the held-out slice, report the confusion matrix. The oracle replays
    * the split, the hashed-bucket likelihoods, the smoothed log-posterior
    * (rounded to 6 dp BEFORE the argmax), and the per-document
    * score-desc/class-asc argmax window.
    *
    * On the synthetic corpus every language draws from the SAME small
    * vocabulary (no lexical lang signal), so the class prior dominates
    * and the matrix collapses to the majority class — the decision chain
    * is still pinned cross-engine here, and NaiveBayesSpec proves the
    * classifier separates classes when the text actually carries signal.
    */
  val q108NbLangConfusion: Declared = Declared.sql(
    "q108_nb_lang_confusion",
    """WITH base AS (SELECT doc_id, lang, text,
      |    substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' AS is_train
      |  FROM documents WHERE text IS NOT NULL),
      |tk AS (SELECT doc_id, lang, is_train, unnest(string_split(text, ' ')) AS tok FROM base),
      |tok AS (SELECT doc_id, lang, is_train, substr(md5(tok), 1, 2) AS b FROM tk),
      |pri AS (SELECT lang AS c, count(*) AS nd FROM base WHERE is_train GROUP BY lang),
      |pt AS (SELECT CAST(sum(nd) AS DOUBLE) AS td, CAST(count(*) AS DOUBLE) AS k FROM pri),
      |lik AS (SELECT lang AS c, b, count(*) AS n FROM tok WHERE is_train GROUP BY lang, b),
      |lt AS (SELECT c, CAST(sum(n) AS DOUBLE) AS tl FROM lik GROUP BY c),
      |sc AS (
      |  SELECT t.doc_id, t.lang AS actual, cl.c,
      |    round(ln((CAST(pri.nd AS DOUBLE) + 1.0) / (pt.td + pt.k)) +
      |          sum(ln((CAST(COALESCE(lik.n, 0) AS DOUBLE) + 1.0) / (lt.tl + 256.0))), 6)
      |      AS score
      |  FROM tok t
      |  CROSS JOIN (SELECT c FROM pri) cl
      |  LEFT JOIN lik ON lik.c = cl.c AND lik.b = t.b
      |  JOIN lt ON lt.c = cl.c
      |  JOIN pri ON pri.c = cl.c
      |  CROSS JOIN pt
      |  WHERE NOT t.is_train
      |  GROUP BY t.doc_id, t.lang, cl.c, pri.nd, pt.td, pt.k, lt.tl),
      |pred AS (
      |  SELECT actual, c AS predicted,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c ASC) AS rn
      |  FROM sc)
      |SELECT actual AS lang, predicted, count(*) AS n
      |FROM pred WHERE rn = 1
      |GROUP BY actual, predicted
      |ORDER BY actual, predicted""".stripMargin) { (spark, dir) =>
    NaiveBayes.confusion(
      t(spark, dir).documents,
      "doc_id",
      "text",
      "lang",
      Sampling.hashBucket(col("doc_id"), "split") < lit("cc"))
  }

  /** BPE encode round-trip ([[Bpe.trainMerges]] → [[Bpe.applyMerges]]):
    * train 8 merges on the corpus, re-tokenize the corpus under them, and
    * report per-document pre/post token counts and the compression ratio
    * — the tokenizer-fertility check run before committing a vocabulary.
    * Hash-oracled like q105: the oracle unrolls the same 8 training
    * rounds ([[bpeOracleCtes]]) and reads the post-merge token counts off
    * the final round's strings, so the whole train→encode pipeline is
    * cross-engine checked per document. `n_tokens_pre` is the RAW
    * whitespace split ([[TextAnalysis.nTokens]], empties included);
    * post-merge tokens are the packed kernel's non-empty tokens.
    */
  val q109BpeEncode: Declared = Declared.sql(
    "q109_bpe_encode",
    bpeOracleCtes(nMerges = 8, minCount = 2L) + s""",
      |post AS (SELECT doc_id, len(list_filter(string_split(s, '${Bpe.D + Bpe.D}'), x -> x <> ''))
      |               AS n_post FROM r8),
      |pre AS (SELECT doc_id, len(string_split(text, ' ')) AS n_pre
      |        FROM documents WHERE text IS NOT NULL)
      |SELECT pre.doc_id,
      |       CAST(pre.n_pre AS BIGINT) AS n_tokens_pre,
      |       CAST(post.n_post AS BIGINT) AS n_tokens_post,
      |       round(CAST(post.n_post AS DOUBLE) / pre.n_pre, 6) AS compression
      |FROM pre JOIN post USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs   = t(spark, dir).documents
    val merges = Bpe
      .trainMerges(docs, "doc_id", "text", nMerges = 8, minCount = 2L)
      .orderBy("merge_idx")
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq
    val pre = docs
      .where(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.nTokens(col("text")).cast("long").as("n_tokens_pre"))
    Bpe
      .applyMerges(docs, "doc_id", "text", merges)
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens_post"))
      .join(pre, Seq("doc_id"))
      .select(
        col("doc_id"),
        col("n_tokens_pre"),
        col("n_tokens_post"),
        round(col("n_tokens_post").cast("double") / col("n_tokens_pre"), 6).as("compression"))
      .orderBy("doc_id")
  }

  /** Count-min-sketch calibration ([[Sketches.cmsCalibration]]): the
    * corpus's top-20 tokens with exact counts vs their 4×64 CMS
    * estimates. The sketch is deterministic (salted-md5 row hashes) and
    * integer-summed, so the oracle replays it EXACTLY — bucket counts,
    * min-over-rows estimate, and the guaranteed-nonnegative
    * overestimate all hash-checked cross-engine (the q92 nibble-fold
    * recovers the same u32 from the md5 hex prefix).
    */
  val q110CmsCalibration: Declared = Declared.sql(
    "q110_cms_calibration",
    """WITH tk AS (SELECT t AS tok FROM (SELECT unnest(string_split(text, ' ')) AS t
      |            FROM documents WHERE text IS NOT NULL) WHERE t <> ''),
      |rows_ AS (SELECT unnest(range(4)) AS r),
      |sk AS (SELECT r, b, count(*) AS bc FROM (
      |    SELECT rows_.r AS r,
      |      list_sum(list_transform(range(8), i ->
      |        CAST(strpos('0123456789abcdef',
      |               substr(md5('cms' || CAST(rows_.r AS VARCHAR) || '|' || tok), CAST(i+1 AS INTEGER), 1)) - 1 AS BIGINT)
      |          << CAST(4*(7-i) AS INTEGER))) % 64 AS b
      |    FROM tk CROSS JOIN rows_)
      |  GROUP BY r, b),
      |top AS (SELECT tok, count(*) AS true_count FROM tk GROUP BY tok
      |        ORDER BY true_count DESC, tok ASC LIMIT 20),
      |est AS (SELECT t.tok AS token, t.true_count, min(sk.bc) AS cms_estimate
      |        FROM top t CROSS JOIN rows_
      |        JOIN sk ON sk.r = rows_.r AND sk.b =
      |          list_sum(list_transform(range(8), i ->
      |            CAST(strpos('0123456789abcdef',
      |                   substr(md5('cms' || CAST(rows_.r AS VARCHAR) || '|' || t.tok), CAST(i+1 AS INTEGER), 1)) - 1 AS BIGINT)
      |              << CAST(4*(7-i) AS INTEGER))) % 64
      |        GROUP BY t.tok, t.true_count)
      |SELECT token, CAST(true_count AS BIGINT) AS true_count,
      |       CAST(cms_estimate AS BIGINT) AS cms_estimate,
      |       CAST(cms_estimate - true_count AS BIGINT) AS overestimate,
      |       CAST(row_number() OVER (ORDER BY true_count DESC, token ASC) AS INTEGER) AS rn
      |FROM est ORDER BY rn""".stripMargin) { (spark, dir) =>
    Sketches
      .cmsCalibration(t(spark, dir).documents, "text", k = 20, depth = 4, width = 64)
      .orderBy("rn")
  }

  /** Phrase detection ([[Vocab.phraseScores]], Mikolov et al. 2013): the
    * 30 adjacent pairs with the highest `(c(ab) − δ)·N / (c(a)·c(b))`
    * collocation score — the pre-tokenization phrase-fusing table. The
    * oracle replays counts and the score with IDENTICAL operation order;
    * scores are rounded before ranking, (a, b) breaks ties.
    */
  val q111PhraseScores: Declared = Declared.sql(
    "q111_phrase_scores",
    """WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL),
      |p AS (SELECT t[CAST(i AS INTEGER)] AS a, t[CAST(i + 1 AS INTEGER)] AS b
      |      FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tk)),
      |cab AS (SELECT a, b, count(*) AS cab FROM p GROUP BY a, b),
      |uni AS (SELECT unnest(t) AS tok FROM tk),
      |c AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM uni),
      |sc AS (SELECT cab.a, cab.b, cab.cab, ca.c AS ca, cb.c AS cb,
      |         round((CAST(cab.cab AS DOUBLE) - 5.0) * n.n /
      |               (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)), 6) AS score
      |       FROM cab JOIN c ca ON ca.tok = cab.a JOIN c cb ON cb.tok = cab.b CROSS JOIN n),
      |r AS (SELECT a, b, cab, ca, cb, score,
      |        row_number() OVER (ORDER BY score DESC, a ASC, b ASC) AS rn FROM sc)
      |SELECT a, b, CAST(cab AS BIGINT) AS cab, CAST(ca AS BIGINT) AS ca,
      |       CAST(cb AS BIGINT) AS cb, score, CAST(rn AS INTEGER) AS rn
      |FROM r WHERE rn <= 30 ORDER BY rn""".stripMargin) { (spark, dir) =>
    Vocab
      .phraseScores(t(spark, dir).documents, "text", k = 30, delta = 5.0)
      .orderBy("rn")
  }

  /** N-gram novelty screen ([[Dedup.ngramNovelty]]): per document, the
    * fraction of its distinct 3-grams with corpus df = 1. Linear in the
    * shingle rows (no pair expansion — the cap-free dual of q34); the
    * oracle replays the shared shingle projection and the df rejoin.
    */
  val q113NgramNovelty: Declared = Declared.sql(
    "q113_ngram_novelty",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |              WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |              generate_series(1, len(tk) - 2),
      |              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      |       FROM toks),
      |df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
      |agg AS (SELECT sh.doc_id, count(*) AS n_shingles,
      |               sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS n_novel
      |        FROM sh JOIN df USING (s) GROUP BY sh.doc_id)
      |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
      |       CAST(n_novel AS BIGINT) AS n_novel,
      |       round(CAST(n_novel AS DOUBLE) / n_shingles, 6) AS novelty
      |FROM agg ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Dedup
      .ngramNovelty(t(spark, dir).documents, "doc_id", "text", n = 3)
      .orderBy("doc_id")
  }

  /** Balanced shard striping ([[Packing.shardAssign]]): the corpus split
    * into 16 contiguous shards of ~equal TOKEN mass (the training-loader
    * artifact; [[Packing.writeShards]] materializes `shard=<id>/`
    * partitions). Fully integral arithmetic over the q56 prefix-sum
    * scaffold; the oracle replays the windowed-cumsum mapping. Rollup
    * per shard: docs, tokens, and the doc-id range (contiguity is part
    * of the contract — ranges must not interleave).
    */
  val q116ShardSummary: Declared = Declared.sql(
    "q116_shard_summary",
    """WITH d AS (SELECT doc_id,
      |             CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT) AS n FROM documents),
      |c AS (SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d),
      |tot AS (SELECT CAST(max(cum) AS BIGINT) AS total FROM c),
      |a AS (SELECT doc_id, n,
      |        CAST(least(15, ((cum - n) * 16) // total) AS INTEGER) AS shard
      |      FROM c CROSS JOIN tot)
      |SELECT shard, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM a GROUP BY shard ORDER BY shard""".stripMargin) { (spark, dir) =>
    Packing
      .shardAssign(t(spark, dir).documents, "doc_id", "text", nShards = 16)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("shard")
  }

  /** Incremental ingest dedup ([[Dedup.incrementalNew]] /
    * [[Dedup.writeDigestIndex]]): a derived "new batch" (the ~20% fresh
    * slice plus salted-md5 clone draws of indexed documents) is deduped
    * against the historical digest index — clones drop via the anti-join,
    * within-batch dups elect the lowest id. The historical corpus is
    * never re-scanned; the persisted-index round trip and the
    * equals-full-recompute property are pinned in SketchRetrievalSpec.
    */
  val q117IncrementalIngest: Declared = Declared.sql(
    "q117_incremental_ingest",
    """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      |old AS (SELECT doc_id, text FROM d
      |        WHERE substr(md5('inc|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'),
      |fresh AS (SELECT doc_id, text FROM d
      |          WHERE substr(md5('inc|' || CAST(doc_id AS VARCHAR)), 1, 2) >= 'cc'),
      |clones AS (SELECT doc_id + 1000000 AS doc_id, text FROM old
      |           WHERE substr(md5('clone|' || CAST(doc_id AS VARCHAR)), 1, 2) < '33'),
      |newb AS (SELECT * FROM fresh UNION ALL SELECT * FROM clones),
      |oldd AS (SELECT DISTINCT md5(text) AS digest FROM old),
      |cand AS (SELECT doc_id, md5(text) AS digest FROM newb),
      |surv AS (SELECT doc_id, digest,
      |           row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
      |         FROM cand WHERE digest NOT IN (SELECT digest FROM oldd))
      |SELECT doc_id, digest FROM surv WHERE rn = 1 ORDER BY doc_id""".stripMargin) {
    (spark, dir) =>
      val docs   = t(spark, dir).documents.where(col("text").isNotNull)
      val bucket = Sampling.hashBucket(col("doc_id"), "inc")
      val old    = docs.where(bucket < "cc")
      val fresh  = docs.where(bucket >= "cc").select("doc_id", "text")
      val clones = old
        .where(Sampling.hashBucket(col("doc_id"), "clone") < "33")
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val idx = old.select(md5(col("text").cast("binary")).as("digest")).distinct()
      Dedup
        .incrementalNew(fresh.unionByName(clones), "doc_id", "text", idx)
        .select("doc_id", "digest")
        .orderBy("doc_id")
  }

  /** Incremental NEAR-dup ingest ([[Dedup.incrementalNearDupNew]]):
    * q117's exact-digest gate only stops byte-identical re-ingests; this
    * one verifies signature agreement against a fixed-width minhash
    * index, so a MUTATED re-ingest (the planted clones append a token)
    * is also dropped. History/new split and the planted clones are
    * derived in-query from salted md5 (q117 pattern) so the oracle
    * replays index build, band-candidate join, signature verification,
    * and the within-batch election end to end.
    */
  val q125IncrementalNeardup: Declared = Declared.sql(
    "q125_incremental_neardup", {
      // 16 signatures / 4-row bands / agreement >= 12 (simTau 0.75): at
      // 8 sigs the tiny shared vocabulary of the synthetic corpus makes
      // half-agreement ubiquitous (1 survivor of 172); at 16x0.75 every
      // planted mutated clone is dropped while genuinely-new docs survive
      val oSigs = (0 until 16).map(i => s"min(md5('s$i|' || tok)) AS i$i").mkString(",\n|          ")
      val nSigs = (0 until 16).map(i => s"min(md5('s$i|' || tok)) AS s$i").mkString(",\n|          ")
      val nBands = (0 until 4)
        .map { b =>
          val v = (0 until 4).map(r => s"s${4 * b + r}").mkString(" || '|' || ")
          s"SELECT doc_id, $b AS band_idx, $v AS band_val FROM nsig"
        }
        .mkString("\n|      UNION ALL ")
      val iBands = (0 until 4)
        .map { b =>
          val v = (0 until 4).map(r => s"i${4 * b + r}").mkString(" || '|' || ")
          s"SELECT idig, $b AS band_idx, $v AS band_val FROM osig"
        }
        .mkString("\n|      UNION ALL ")
      val agree = (0 until 16)
        .map(i => s"(CASE WHEN ns.s$i = o.i$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         |old AS (SELECT doc_id, text FROM d
         |        WHERE substr(md5('ninc|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'),
         |fresh AS (SELECT doc_id, text FROM d
         |          WHERE substr(md5('ninc|' || CAST(doc_id AS VARCHAR)), 1, 2) >= 'cc'),
         |mut AS (SELECT doc_id + 2000000 AS doc_id, text || ' zq7' AS text FROM old
         |        WHERE substr(md5('nclone|' || CAST(doc_id AS VARCHAR)), 1, 2) < '33'),
         |newb AS (SELECT * FROM fresh UNION ALL SELECT * FROM mut),
         |osig AS (SELECT md5(text) AS idig,
         |          $oSigs
         |         FROM (SELECT text, unnest(string_split(text, ' ')) AS tok FROM old)
         |         GROUP BY md5(text)),
         |nsig AS (SELECT doc_id, md5(text) AS digest,
         |          $nSigs
         |         FROM (SELECT doc_id, text, unnest(string_split(text, ' ')) AS tok FROM newb)
         |         GROUP BY doc_id, md5(text)),
         |nb0 AS ($nBands),
         |nb AS (SELECT doc_id, band_idx, band_val FROM (
         |         SELECT *, count(*) OVER (PARTITION BY band_idx, band_val) AS df FROM nb0)
         |       WHERE df <= 1024),
         |ib0 AS ($iBands),
         |ib AS (SELECT idig, band_idx, band_val FROM (
         |         SELECT *, count(*) OVER (PARTITION BY band_idx, band_val) AS df FROM ib0)
         |       WHERE df <= 1024),
         |cand AS (SELECT DISTINCT n.doc_id, i.idig
         |         FROM nb n JOIN ib i ON n.band_idx = i.band_idx AND n.band_val = i.band_val),
         |dropd AS (SELECT DISTINCT c.doc_id
         |          FROM cand c JOIN nsig ns ON ns.doc_id = c.doc_id
         |                      JOIN osig o ON o.idig = c.idig
         |          WHERE $agree >= 12),
         |surv AS (SELECT doc_id, digest,
         |           row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
         |         FROM nsig WHERE doc_id NOT IN (SELECT doc_id FROM dropd))
         |SELECT doc_id, digest FROM surv WHERE rn = 1 ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val docs   = t(spark, dir).documents.where(col("text").isNotNull)
    val bucket = Sampling.hashBucket(col("doc_id"), "ninc")
    val old    = docs.where(bucket < "cc").select("doc_id", "text")
    val fresh  = docs.where(bucket >= "cc").select("doc_id", "text")
    val mut = old
      .where(Sampling.hashBucket(col("doc_id"), "nclone") < "33")
      .select((col("doc_id") + 2000000L).as("doc_id"), concat(col("text"), lit(" zq7")).as("text"))
    val idx = Dedup
      .signatureProjection(old, "doc_id", "text", nSigs = 16, family = Dedup.Md5)
      .drop("__id")
      .distinct()
    Dedup
      .incrementalNearDupNew(
        fresh.unionByName(mut), "doc_id", "text", idx,
        bands = 4, rowsPerBand = 4, simTau = 0.75)
      .orderBy("doc_id")
  }

  /** The BANDED persisted near-dup index under the cross-engine hash
    * gate ([[Dedup.writeBandedNearDupIndex]] →
    * [[Dedup.ingestAppendBanded]] (batch-0 ingest and survivor append) →
    * [[Dedup.incrementalNearDupNewBanded]] (batch-1 ingest)): q125 declares
    * the in-memory index frame; this runs the production BANDED pipeline end to end
    * on the Spark side — bootstrap write (md5 family, pinned bands=4 /
    * rowsPerBand=4 / nBuckets=8), batch-0 ingest through the
    * probe-collect + static-partition-prune read, survivor append as a
    * `src_batch=0` dynamic-partition overwrite, then a batch-1 ingest
    * whose candidates span BOTH index generations — while DuckDB replays
    * the decision contract generation by generation (signatures, band
    * keys, df cap, band-candidate join, agreement ≥ 12, per-digest
    * election, survivor-only index growth). Bucket hashing and the prune
    * predicate are physical (a band value lives in exactly one bucket,
    * so they change which files are read, never the result): a bug in
    * either — e.g. write-vs-probe bucket drift dropping candidates, or a
    * prune predicate skipping a generation — changes the survivor set
    * and fails this hash gate, which is exactly the banded-specific
    * failure class VERDICT r12 wanted behind the oracle. Batch-1 plants
    * mutated clones of BOTH generations (old docs and batch-0 docs), so
    * the appended survivors must actually participate in candidate
    * generation for the query to hash-match.
    */
  val q134BandedNeardupIngest: Declared = Declared.sql(
    "q134_banded_neardup_ingest", {
      def sigList(alias: Int => String): String =
        (0 until 16).map(i => s"min(md5('s$i|' || tok)) AS ${alias(i)}").mkString(",\n|          ")
      def bandRows(table: String, key: String, sigName: Int => String): String =
        (0 until 4)
          .map { b =>
            val v = (0 until 4).map(r => sigName(4 * b + r)).mkString(" || '|' || ")
            s"SELECT $key, $b AS band_idx, $v AS band_val FROM $table"
          }
          .mkString("\n|      UNION ALL ")
      def capped(src: String, key: String): String =
        s"""SELECT $key, band_idx, band_val FROM (
           |         SELECT *, count(*) OVER (PARTITION BY band_idx, band_val) AS df FROM $src)
           |       WHERE df <= 1024""".stripMargin
      def agree(newSig: Int => String, idxSig: Int => String): String =
        (0 until 16)
          .map(i => s"(CASE WHEN ns.${newSig(i)} = o.${idxSig(i)} THEN 1 ELSE 0 END)")
          .mkString(" + ")
      val sCols   = (0 until 16).map(i => s"s$i").mkString(", ")
      val sAsI    = (0 until 16).map(i => s"s$i AS i$i").mkString(", ")
      val iCols   = (0 until 16).map(i => s"i$i").mkString(", ")
      val bSplit  = "substr(md5('binc|' || CAST(doc_id AS VARCHAR)), 1, 2)"
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         |old AS (SELECT doc_id, text FROM d WHERE $bSplit < '99'),
         |b0 AS (SELECT doc_id, text FROM d WHERE $bSplit >= '99' AND $bSplit < 'cc'),
         |b1 AS (SELECT doc_id, text FROM d WHERE $bSplit >= 'cc'),
         |mut0 AS (SELECT doc_id + 2000000 AS doc_id, text || ' xk1' AS text FROM old
         |         WHERE substr(md5('bclone0|' || CAST(doc_id AS VARCHAR)), 1, 2) < '33'),
         |mut1a AS (SELECT doc_id + 3000000 AS doc_id, text || ' xk2' AS text FROM old
         |          WHERE substr(md5('bclone1|' || CAST(doc_id AS VARCHAR)), 1, 2) < '22'),
         |mut1b AS (SELECT doc_id + 4000000 AS doc_id, text || ' xk3' AS text FROM b0
         |          WHERE substr(md5('bclone2|' || CAST(doc_id AS VARCHAR)), 1, 2) < '55'),
         |batch0 AS (SELECT * FROM b0 UNION ALL SELECT * FROM mut0),
         |batch1 AS (SELECT * FROM b1 UNION ALL SELECT * FROM mut1a UNION ALL SELECT * FROM mut1b),
         |osig AS (SELECT md5(text) AS idig,
         |          ${sigList(i => s"i$i")}
         |         FROM (SELECT text, unnest(string_split(text, ' ')) AS tok FROM old)
         |         GROUP BY md5(text)),
         |s0sig AS (SELECT doc_id, md5(text) AS digest,
         |          ${sigList(i => s"s$i")}
         |         FROM (SELECT doc_id, text, unnest(string_split(text, ' ')) AS tok FROM batch0)
         |         GROUP BY doc_id, md5(text)),
         |nb00 AS (${bandRows("s0sig", "doc_id", i => s"s$i")}),
         |nb0 AS (${capped("nb00", "doc_id")}),
         |ib00 AS (${bandRows("osig", "idig", i => s"i$i")}),
         |ib0 AS (${capped("ib00", "idig")}),
         |cand0 AS (SELECT DISTINCT n.doc_id, i.idig
         |          FROM nb0 n JOIN ib0 i ON n.band_idx = i.band_idx AND n.band_val = i.band_val),
         |drop0 AS (SELECT DISTINCT c.doc_id
         |          FROM cand0 c JOIN s0sig ns ON ns.doc_id = c.doc_id
         |                       JOIN osig o ON o.idig = c.idig
         |          WHERE ${agree(i => s"s$i", i => s"i$i")} >= 12),
         |surv0 AS (SELECT doc_id, digest, $sCols FROM (
         |            SELECT *, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
         |            FROM s0sig WHERE doc_id NOT IN (SELECT doc_id FROM drop0))
         |          WHERE rn = 1),
         |idx1 AS (SELECT idig, $iCols FROM osig
         |         UNION ALL SELECT digest AS idig, $sAsI FROM surv0),
         |s1sig AS (SELECT doc_id, md5(text) AS digest,
         |          ${sigList(i => s"s$i")}
         |         FROM (SELECT doc_id, text, unnest(string_split(text, ' ')) AS tok FROM batch1)
         |         GROUP BY doc_id, md5(text)),
         |nb10 AS (${bandRows("s1sig", "doc_id", i => s"s$i")}),
         |nb1 AS (${capped("nb10", "doc_id")}),
         |ib10 AS (${bandRows("idx1", "idig", i => s"i$i")}),
         |ib1 AS (${capped("ib10", "idig")}),
         |cand1 AS (SELECT DISTINCT n.doc_id, i.idig
         |          FROM nb1 n JOIN ib1 i ON n.band_idx = i.band_idx AND n.band_val = i.band_val),
         |drop1 AS (SELECT DISTINCT c.doc_id
         |          FROM cand1 c JOIN s1sig ns ON ns.doc_id = c.doc_id
         |                       JOIN idx1 o ON o.idig = c.idig
         |          WHERE ${agree(i => s"s$i", i => s"i$i")} >= 12)
         |SELECT doc_id, digest FROM (
         |  SELECT doc_id, digest, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
         |  FROM s1sig WHERE doc_id NOT IN (SELECT doc_id FROM drop1))
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val docs   = t(spark, dir).documents.where(col("text").isNotNull)
    val bucket = Sampling.hashBucket(col("doc_id"), "binc")
    val old    = docs.where(bucket < "99").select("doc_id", "text")
    val b0     = docs.where(bucket >= "99" && bucket < "cc").select("doc_id", "text")
    val b1     = docs.where(bucket >= "cc").select("doc_id", "text")
    val mut0 = old
      .where(Sampling.hashBucket(col("doc_id"), "bclone0") < "33")
      .select((col("doc_id") + 2000000L).as("doc_id"), concat(col("text"), lit(" xk1")).as("text"))
    val mut1a = old
      .where(Sampling.hashBucket(col("doc_id"), "bclone1") < "22")
      .select((col("doc_id") + 3000000L).as("doc_id"), concat(col("text"), lit(" xk2")).as("text"))
    val mut1b = b0
      .where(Sampling.hashBucket(col("doc_id"), "bclone2") < "55")
      .select((col("doc_id") + 4000000L).as("doc_id"), concat(col("text"), lit(" xk3")).as("text"))
    val batch0 = b0.unionByName(mut0)
    val batch1 = b1.unionByName(mut1a).unionByName(mut1b)
    // a fresh index dir per run: the query IS the ingest pipeline, so
    // each evaluation bootstraps, ingests, appends, and re-ingests
    val ixDir = graft.core.Scratch.tempDir("graft_q134_banded")
    Dedup.writeBandedNearDupIndex(
      old, "doc_id", "text", ixDir,
      bands = 4, rowsPerBand = 4, family = Dedup.Md5, nBuckets = 8)
    // ingest + append share ONE materialized signature projection (r17);
    // survivors and the appended generation are row-identical to the old
    // ingest-then-append-from-docs sequence (the projection is
    // deterministic per doc — oracle replays the whole decision contract)
    Dedup.ingestAppendBanded(batch0, "doc_id", "text", ixDir, batchId = 0L, simTau = 0.75)()
    Dedup
      .incrementalNearDupNewBanded(
        batch1, "doc_id", "text", ixDir, simTau = 0.75, beforeBatch = Some(1L))
      .orderBy("doc_id")
  }

  /** DuckDB nibble-fold of the salted md5 u32 over an arbitrary SQL key
    * expression (the q92 trick, generalized): `u32(md5(salt || '|' ||
    * key))`.
    */
  private def u32Sql(salt: String, keyExpr: String): String =
    s"list_sum(list_transform(range(8), u -> CAST(strpos('0123456789abcdef', " +
      s"substr(md5('$salt|' || $keyExpr), CAST(u+1 AS INTEGER), 1)) - 1 AS BIGINT) " +
      "<< CAST(4*(7-u) AS INTEGER)))"

  /** T5-style span corruption ([[Denoise.spanCorrupt]]): blocked
    * deterministic span placement (block 8, span 3, ~25% of full blocks),
    * sentinels `<extra_id_K>`, full (input, target) pair emitted. One
    * codegen projection, no shuffle; the oracle replays block draws, span
    * offsets, sentinel numbering, and BOTH rebuilt strings exactly.
    */
  val q119SpanCorrupt: Declared = Declared.sql(
    "q119_span_corrupt", {
      val kb = "CAST(doc_id AS VARCHAR) || '|' || CAST(bb AS VARCHAR)"
      val ki = "CAST(doc_id AS VARCHAR) || '|' || CAST(cb[CAST(i+1 AS INTEGER)] AS VARCHAR)"
      s"""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
         |           FROM documents WHERE text IS NOT NULL),
         |b AS (SELECT doc_id, tk, len(tk) AS n, CAST(len(tk) // 8 AS INTEGER) AS nb FROM d),
         |c AS (SELECT doc_id, tk, n, nb,
         |        list_filter(range(nb), bb -> ${u32Sql("spanc", kb)} % 4 = 0) AS cb
         |      FROM b),
         |r AS (SELECT doc_id,
         |        CAST(n AS BIGINT) AS n_tokens,
         |        CAST(len(cb) AS BIGINT) AS n_spans,
         |        array_to_string(
         |          flatten(list_transform(range(nb), bb ->
         |            CASE WHEN coalesce(list_position(cb, bb), 0) > 0
         |                 THEN list_slice(tk, bb*8 + 1, bb*8 + (${u32Sql("spano", kb)} % 6))
         |                   || ['<extra_id_' || CAST(list_position(cb, bb) - 1 AS VARCHAR) || '>']
         |                   || list_slice(tk, bb*8 + (${u32Sql("spano", kb)} % 6) + 4, bb*8 + 8)
         |                 ELSE list_slice(tk, bb*8 + 1, bb*8 + 8) END))
         |          || list_slice(tk, nb*8 + 1, n), ' ') AS input_text,
         |        coalesce(array_to_string(
         |          flatten(list_transform(range(len(cb)), i ->
         |            ['<extra_id_' || CAST(i AS VARCHAR) || '>']
         |              || list_slice(tk,
         |                   cb[CAST(i+1 AS INTEGER)]*8 + (${u32Sql("spano", ki)} % 6) + 1,
         |                   cb[CAST(i+1 AS INTEGER)]*8 + (${u32Sql("spano", ki)} % 6) + 3))), ' '), '')
         |          AS target_text
         |      FROM c)
         |SELECT doc_id, n_tokens, n_spans, input_text, target_text
         |FROM r ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    Denoise
      .spanCorrupt(t(spark, dir).documents, "doc_id", "text",
        blockLen = 8, spanLen = 3, rate = 4, salt = "span")
      .orderBy("doc_id")
  }

  /** Model-based document filter ([[Logit]]): logistic regression trained
    * by distributed IRLS on a label derived from the corpus itself
    * (lang == 'zh'), then every document scored and thresholded — the
    * fastText/CCNet quality-filter shape. Rows-only by design (like q39
    * MICE, its sibling iterative solver): coefficients come out of 8
    * driver-side (k+1)×(k+1) solves, which no SQL oracle replays;
    * LogitSpec pins them against an independent numpy IRLS
    * (`tools/logit_golden.py`) plus a planted-parameter recovery case.
    */
  val q124LogitFilter: Declared = Declared.rowsOnly("q124_logit_filter") { (spark, dir) =>
    val docs = t(spark, dir).documents
      .where(col("text").isNotNull && col("lang").isNotNull && length(col("text")) > 0)
    val len = length(col("text")).cast("double")
    val features = Seq(
      log1p(len),
      (len - length(regexp_replace(col("text"), " ", "")).cast("double")) / len,
      length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") / len)
    val model = Logit.fit(docs, col("lang") === "zh", features)
    Logit.score(docs, col("doc_id"), features, model).orderBy("doc_id")
  }

  /** Multi-query BM25 over the inverted-postings join
    * ([[Bm25.topKPerQuery]]) — batch retrieval where the query set is
    * itself a table: self-queries (first-4-token prefixes of every 25th
    * document, BOUNDED at doc_id < 5000 so the query set stops at 200 at
    * every SF — the declared cost scales with the corpus once, never
    * quadratically with a growing query table) ranked against the
    * corpus at k = 10. The testdata vocabulary is deliberately tiny
    * (every term's df ≈ 0.75·N), so the `maxTermDf` postings cap — the
    * operator's scale lever, spec-tested on a planted skewed
    * vocabulary — stays off here: any honest cap on this shared-vocab
    * corpus empties the postings, and per-query candidates are ~0.75·N
    * by FIXTURE construction (a Zipfian production corpus is what the
    * cap exists for). DuckDB replays the ENTIRE path: postings from unnest +
    * count, df + cap, distinct prefix terms, the q91 per-term formula in
    * the same operation order, and the DECIMAL contribution sum that
    * makes the per-(query, doc) score independent of aggregation order
    * (a plain double sum would hash-differ on partial-agg order).
    */
  val q141Bm25MultiQuery: Declared = Declared.sql(
    "q141_bm25_multiquery",
    """WITH tks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |d AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS term FROM tks),
      |p AS (SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS tf
      |      FROM d GROUP BY term, doc_id, dl),
      |dfk AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM p GROUP BY term),
      |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(CAST(len(tk) AS DOUBLE)) AS avgdl
      |      FROM tks),
      |q AS (SELECT doc_id AS q_id, unnest(list_distinct(tk[1:4])) AS term
      |      FROM tks WHERE doc_id % 25 = 0 AND doc_id < 5000),
      |c AS (SELECT q.q_id, p.doc_id,
      |        CAST(round(
      |          ln(1.0 + (s.n - dfk.df + 0.5) / (dfk.df + 0.5)) * (p.tf * (1.2 + 1.0))
      |            / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)),
      |          6) AS DECIMAL(20,6)) AS c
      |      FROM q JOIN p USING (term) JOIN dfk USING (term) CROSS JOIN s),
      |sc AS (SELECT q_id, doc_id, CAST(sum(c) AS DOUBLE) AS score
      |       FROM c GROUP BY q_id, doc_id),
      |r AS (SELECT q_id, doc_id, score,
      |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS rn
      |      FROM sc)
      |SELECT q_id, doc_id, score, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 10
      |ORDER BY q_id, rn""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir).documents
    val queries = docs.where(col("doc_id") % 25 === 0 && col("doc_id") < 5000).select(
      col("doc_id").as("q_id"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 4)).as("q_text"))
    Bm25
      .topKPerQuery(docs, "doc_id", "text", queries, "q_id", "q_text", k = 10)
      .orderBy("q_id", "rn")
  }

  /** Retrieval-quality report ([[RetrievalEval.report]]) over the q141
    * results against self-retrieval gold (each query's source document):
    * recall@k over gold pairs + MRR@k over queries at k ∈ {1, 5, 10} —
    * the measurement a curation pipeline runs before trusting its
    * retrieval stack for dedup / decontamination / mining. Hit
    * indicators and reciprocal ranks sum as DECIMAL then divide once in
    * doubles, so the report hash-replays exactly.
    */
  val q142RetrievalEval: Declared = Declared.sql(
    "q142_retrieval_eval",
    """WITH tks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |d AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS term FROM tks),
      |p AS (SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS tf
      |      FROM d GROUP BY term, doc_id, dl),
      |dfk AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM p GROUP BY term),
      |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(CAST(len(tk) AS DOUBLE)) AS avgdl
      |      FROM tks),
      |q AS (SELECT doc_id AS q_id, unnest(list_distinct(tk[1:4])) AS term
      |      FROM tks WHERE doc_id % 25 = 0 AND doc_id < 5000),
      |c AS (SELECT q.q_id, p.doc_id,
      |        CAST(round(
      |          ln(1.0 + (s.n - dfk.df + 0.5) / (dfk.df + 0.5)) * (p.tf * (1.2 + 1.0))
      |            / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)),
      |          6) AS DECIMAL(20,6)) AS c
      |      FROM q JOIN p USING (term) JOIN dfk USING (term) CROSS JOIN s),
      |sc AS (SELECT q_id, doc_id, CAST(sum(c) AS DOUBLE) AS score
      |       FROM c GROUP BY q_id, doc_id),
      |r AS (SELECT q_id, doc_id,
      |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS rn
      |      FROM sc),
      |res AS (SELECT q_id, doc_id, rn FROM r WHERE rn <= 10),
      |g AS (SELECT doc_id AS q_id, doc_id AS gold_id FROM documents WHERE doc_id % 25 = 0 AND doc_id < 5000),
      |rk AS (SELECT g.q_id, res.rn AS rank FROM g
      |       LEFT JOIN res ON res.q_id = g.q_id AND res.doc_id = g.gold_id),
      |kd AS (SELECT unnest([1, 5, 10]) AS k),
      |rec AS (SELECT k, round(CAST(sum(CASE WHEN rank IS NOT NULL AND rank <= k
      |                 THEN CAST(1.0 AS DECIMAL(20,6))
      |                 ELSE CAST(0.0 AS DECIMAL(20,6)) END) AS DOUBLE) / count(*), 6) AS recall
      |        FROM rk CROSS JOIN kd GROUP BY k),
      |bst AS (SELECT q_id, min(rank) AS best FROM rk GROUP BY q_id),
      |m AS (SELECT k, round(CAST(sum(CASE WHEN best IS NOT NULL AND best <= k
      |               THEN CAST(round(1.0 / best, 6) AS DECIMAL(20,6))
      |               ELSE CAST(0.0 AS DECIMAL(20,6)) END) AS DOUBLE) / count(*), 6) AS mrr
      |      FROM bst CROSS JOIN kd GROUP BY k)
      |SELECT rec.k, recall, mrr FROM rec JOIN m USING (k) ORDER BY k""".stripMargin) {
    (spark, dir) =>
      val docs = t(spark, dir).documents
      val queries = docs.where(col("doc_id") % 25 === 0 && col("doc_id") < 5000).select(
        col("doc_id").as("q_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 4)).as("q_text"))
      val results = Bm25.topKPerQuery(docs, "doc_id", "text", queries, "q_id", "q_text",
        k = 10)
      val gold = queries.select(col("q_id"), col("q_id").as("gold_id"))
      RetrievalEval.report(results, gold, Seq(1, 5, 10)).orderBy("k")
  }

  /** Fill-in-the-middle transformation ([[Denoise.fimTransform]],
    * Bavarian et al. 2022): a salted half of the corpus reordered into
    * the PSM layout (`<PRE> prefix <SUF> suffix <MID> middle`, all three
    * segments non-empty by construction), the rest passed through —
    * the code-model infilling objective next to q119's T5 spans. The
    * oracle refolds both split-point u32 draws from the md5 hex prefix
    * (the q38/q119 trick) and replays the slicing arithmetic exactly;
    * split draws are CASE-guarded by n ≥ 3 on both engines so no modulo
    * sees a non-positive divisor.
    */
  val q143FimTransform: Declared = {
    val k = "CAST(doc_id AS VARCHAR)"
    Declared.sql(
      "q143_fim_transform",
      s"""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
         |           FROM documents WHERE text IS NOT NULL),
         |b AS (SELECT doc_id, tk, len(tk) AS n FROM d),
         |f AS (SELECT doc_id, tk, n,
         |        (${u32Sql("fimd", k)} % 2 = 0 AND n >= 3) AS is_fim,
         |        CASE WHEN n >= 3
         |             THEN CAST(${u32Sql("fima", k)} % (n - 2) + 1 AS INTEGER) END AS p1
         |      FROM b),
         |g AS (SELECT *, CASE WHEN n >= 3
         |        THEN CAST(p1 + 1 + (${u32Sql("fimb", k)} % (n - 1 - p1)) AS INTEGER) END AS p2
         |      FROM f)
         |SELECT doc_id, is_fim,
         |  CASE WHEN is_fim THEN
         |    '<PRE> ' || array_to_string(list_slice(tk, 1, p1), ' ')
         |    || ' <SUF> ' || array_to_string(list_slice(tk, p2 + 1, n), ' ')
         |    || ' <MID> ' || array_to_string(list_slice(tk, p1 + 1, p2), ' ')
         |  ELSE array_to_string(tk, ' ') END AS fim_text
         |FROM g ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      Denoise
        .fimTransform(t(spark, dir).documents, "doc_id", "text", rate = 2)
        .orderBy("doc_id")
    }
  }

  /** Generational postings-index ingest ([[Bm25.writePostingsGen]] →
    * [[Bm25.appendToPostings]]) — the q139/q140 never-re-read-history
    * contract for the lexical family, whose wrinkle is that df/avgdl are
    * CORPUS-GLOBAL (an append shifts every term's df), so the layout
    * stores per-generation tf postings plus per-generation df partials
    * and resolves the global values at read. The declared result is the
    * index CONTENT read back through the persisted layout — postings
    * joined with their generation's df partial — so DuckDB replays the
    * whole ingest: the salted-md5 batch split, per-generation postings
    * (unnest + count), the per-generation df and its within-generation
    * cap drop (cap pinned high so the MECHANISM is replayed on this
    * shared-vocabulary fixture without emptying the index — the q141
    * note), the u32-md5 bucket arithmetic, and the generation tag.
    * Bounded at doc_id &lt; 1000 so the content read-back stays a
    * declared-result-sized frame at every SF.
    */
  val q144PostingsIngest: Declared = Declared.sql(
    "q144_postings_ingest",
    s"""WITH tks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |            WHERE doc_id < 1000),
       |sp AS (SELECT doc_id, tk,
       |         substr(md5('ptinc|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'aa' AS is_old
       |       FROM tks),
       |d AS (SELECT doc_id, is_old, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS term FROM sp),
       |p AS (SELECT term, doc_id, is_old, dl, CAST(count(*) AS DOUBLE) AS tf
       |      FROM d GROUP BY term, doc_id, is_old, dl),
       |dfg AS (SELECT term, is_old, CAST(count(*) AS DOUBLE) AS df_gen
       |        FROM p GROUP BY term, is_old),
       |k AS (SELECT p.term, p.doc_id, p.is_old, p.dl, p.tf, dfg.df_gen
       |      FROM p JOIN dfg ON dfg.term = p.term AND dfg.is_old = p.is_old
       |      WHERE dfg.df_gen <= 100000)
       |SELECT term, doc_id, dl, tf,
       |       CAST(${u32Sql("pt", "term")} % 16 AS INTEGER) AS tb,
       |       CAST(CASE WHEN is_old THEN 0 ELSE 1 END AS BIGINT) AS src_batch,
       |       df_gen
       |FROM k ORDER BY term, doc_id""".stripMargin) { (spark, dir) =>
    val docs   = t(spark, dir).documents.where(col("doc_id") < 1000)
    val bucket = Sampling.hashBucket(col("doc_id"), "ptinc")
    val old    = docs.where(bucket < "aa")
    val b1     = docs.where(bucket >= "aa")
    // a fresh index dir per run: the query IS the ingest pipeline (q139)
    val ixDir = graft.core.Scratch.tempDir("graft_q144_postings")
    Bm25.writePostingsGen(old, "doc_id", "text", ixDir, nBuckets = 16,
      maxTermDf = Some(100000L))
    Bm25.appendToPostings(ixDir, b1, "doc_id", "text", srcBatch = 1L)
    val dfparts = spark.read
      .parquet(s"$ixDir/dfparts")
      .select(col("__term"), col("src_batch"), col("__df").as("df_gen"))
    spark.read
      .parquet(s"$ixDir/postings")
      .join(dfparts, Seq("__term", "src_batch"))
      .select(
        col("__term").as("term"),
        col("doc_id"),
        col("__dl").as("dl"),
        col("__tf").as("tf"),
        col("tb").cast("int").as("tb"),
        col("src_batch").cast("bigint").as("src_batch"),
        col("df_gen"))
      .orderBy("term", "doc_id")
  }

  /** The persisted-postings SEARCH path declared (VERDICT r15 "what's
    * missing" #3): q141's retrieval through a one-generation index
    * ([[Bm25.writePostingsGen]] → [[Bm25.topKPerQueryIndexed]]), with the
    * oracle replaying the BUCKETED LAYOUT rather than the in-memory join
    * — each posting row's df, the query terms' u32-md5 bucket set, and
    * the static bucket prune the read applies (a semantic no-op by
    * construction, which is exactly why replaying it proves the layout
    * drops nothing). With one generation the read-time df/N/avgdl
    * resolution sums a single partial each, so the oracle computes them
    * over the corpus directly; q146 replays the per-generation sums.
    */
  val q145PostingsSearch: Declared = Declared.sql(
    "q145_postings_search",
    s"""WITH tks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |d AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS term FROM tks),
       |p0 AS (SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS tf
       |       FROM d GROUP BY term, doc_id, dl),
       |dfk AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM p0 GROUP BY term),
       |p AS (SELECT p0.term, p0.doc_id, p0.dl, p0.tf, dfk.df,
       |        CAST(${u32Sql("pt", "term")} % 16 AS INTEGER) AS tb
       |      FROM p0 JOIN dfk USING (term)),
       |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(CAST(len(tk) AS DOUBLE)) AS avgdl
       |      FROM tks),
       |q AS (SELECT doc_id AS q_id, unnest(list_distinct(tk[1:4])) AS term
       |      FROM tks WHERE doc_id % 25 = 0 AND doc_id < 5000),
       |qtb AS (SELECT DISTINCT CAST(${u32Sql("pt", "term")} % 16 AS INTEGER) AS tb FROM q),
       |lists AS (SELECT p.* FROM p JOIN qtb USING (tb)),
       |c AS (SELECT q.q_id, lists.doc_id,
       |        CAST(round(
       |          ln(1.0 + (s.n - lists.df + 0.5) / (lists.df + 0.5)) * (lists.tf * (1.2 + 1.0))
       |            / (lists.tf + 1.2 * (1.0 - 0.75 + 0.75 * lists.dl / s.avgdl)),
       |          6) AS DECIMAL(20,6)) AS c
       |      FROM q JOIN lists USING (term) CROSS JOIN s),
       |sc AS (SELECT q_id, doc_id, CAST(sum(c) AS DOUBLE) AS score
       |       FROM c GROUP BY q_id, doc_id),
       |r AS (SELECT q_id, doc_id, score,
       |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS rn
       |      FROM sc)
       |SELECT q_id, doc_id, score, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 10
       |ORDER BY q_id, rn""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir).documents
    val queries = docs.where(col("doc_id") % 25 === 0 && col("doc_id") < 5000).select(
      col("doc_id").as("q_id"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 4)).as("q_text"))
    val ixDir = graft.core.Scratch.tempDir("graft_q145_postings")
    Bm25.writePostingsGen(docs, "doc_id", "text", ixDir, nBuckets = 16)
    Bm25.topKPerQueryIndexed(ixDir, queries, "q_id", "q_text", k = 10).orderBy("q_id", "rn")
  }

  /** q141's retrieval through the GENERATIONAL postings index — bootstrap
    * + append ([[Bm25.writePostingsGen]] → [[Bm25.appendToPostings]]) and
    * then [[Bm25.topKPerQueryIndexed]]'s read-time resolution: df as the
    * sum of per-generation partials, (N, avgdl) as (Σnᵢ, Σdlᵢ/Σ#dlᵢ) over
    * the per-generation stats partials (#dl counts the non-null-text
    * documents, as `avg` does), bucket prune as in q145. The
    * oracle computes df/N/avgdl EXACTLY that way — per-generation
    * partials summed — not from the union corpus directly, so a
    * resolution bug (a generation double-counted or dropped) hash-fails
    * rather than hiding behind algebraic equivalence.
    */
  val q146PostingsSearchGen: Declared = Declared.sql(
    "q146_postings_search_gen",
    s"""WITH tks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sp AS (SELECT doc_id, tk,
       |         substr(md5('ptg|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'aa' AS is_old
       |       FROM tks),
       |d AS (SELECT doc_id, is_old, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS term FROM sp),
       |p AS (SELECT term, doc_id, is_old, dl, CAST(count(*) AS DOUBLE) AS tf
       |      FROM d GROUP BY term, doc_id, is_old, dl),
       |dfg AS (SELECT term, is_old, CAST(count(*) AS DOUBLE) AS dfp
       |        FROM p GROUP BY term, is_old),
       |dfk AS (SELECT term, sum(dfp) AS df FROM dfg GROUP BY term),
       |sg AS (SELECT is_old, CAST(count(*) AS DOUBLE) AS n,
       |         sum(CAST(len(tk) AS DOUBLE)) AS dls, CAST(count(tk) AS DOUBLE) AS dlcnt
       |       FROM sp GROUP BY is_old),
       |s AS (SELECT sum(n) AS n, sum(dls) / sum(dlcnt) AS avgdl FROM sg),
       |q AS (SELECT doc_id AS q_id, unnest(list_distinct(tk[1:4])) AS term
       |      FROM tks WHERE doc_id % 25 = 0 AND doc_id < 5000),
       |qtb AS (SELECT DISTINCT CAST(${u32Sql("pt", "term")} % 16 AS INTEGER) AS tb FROM q),
       |lists AS (SELECT p.*, CAST(${u32Sql("pt", "term")} % 16 AS INTEGER) AS tb FROM p),
       |lp AS (SELECT lists.* FROM lists JOIN qtb USING (tb)),
       |c AS (SELECT q.q_id, lp.doc_id,
       |        CAST(round(
       |          ln(1.0 + (s.n - dfk.df + 0.5) / (dfk.df + 0.5)) * (lp.tf * (1.2 + 1.0))
       |            / (lp.tf + 1.2 * (1.0 - 0.75 + 0.75 * lp.dl / s.avgdl)),
       |          6) AS DECIMAL(20,6)) AS c
       |      FROM q JOIN lp USING (term) JOIN dfk USING (term) CROSS JOIN s),
       |sc AS (SELECT q_id, doc_id, CAST(sum(c) AS DOUBLE) AS score
       |       FROM c GROUP BY q_id, doc_id),
       |r AS (SELECT q_id, doc_id, score,
       |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS rn
       |      FROM sc)
       |SELECT q_id, doc_id, score, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 10
       |ORDER BY q_id, rn""".stripMargin) { (spark, dir) =>
    val docs   = t(spark, dir).documents
    val bucket = Sampling.hashBucket(col("doc_id"), "ptg")
    val queries = docs.where(col("doc_id") % 25 === 0 && col("doc_id") < 5000).select(
      col("doc_id").as("q_id"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 4)).as("q_text"))
    val ixDir = graft.core.Scratch.tempDir("graft_q146_postings")
    Bm25.writePostingsGen(docs.where(bucket < "aa"), "doc_id", "text", ixDir, nBuckets = 16)
    Bm25.appendToPostings(ixDir, docs.where(bucket >= "aa"), "doc_id", "text", srcBatch = 1L)
    Bm25.topKPerQueryIndexed(ixDir, queries, "q_id", "q_text", k = 10).orderBy("q_id", "rn")
  }

  val all: Seq[Declared] = Seq(
    q141Bm25MultiQuery,
    q142RetrievalEval,
    q143FimTransform,
    q144PostingsIngest,
    q145PostingsSearch,
    q146PostingsSearchGen,
    q124LogitFilter,
    q15TextLangStats,
    q16DedupExact,
    q17MinhashSignatures,
    q18TopTokensPerLang,
    q32TextQuality,
    q33Simhash,
    q34NgramJaccard,
    q35TokenCounts,
    q37LangidDist,
    q38Fingerprints,
    q51DeterministicSample,
    q53Vocab,
    q54Idf,
    q55FullVocab,
    q56PackSummary,
    q57Decontamination,
    q59Repetition,
    q60MixtureWeights,
    q61TfidfTop,
    q63FuzzyMatch,
    q68UnkRewrite,
    q69DupClusters,
    q70Chunking,
    q71PiiRedaction,
    q72DupspanRemoval,
    q73StratifiedTake,
    q75UnigramLogprob,
    q76TokenBudget,
    q77VocabCoverage,
    q78SourceOverlap,
    q79GopherQuality,
    q83TokenHistogram,
    q84DupSurvivors,
    q86CorpusBuild,
    q87DataCard,
    q88LangBudget,
    q89NfcNormalize,
    q90LeakSafeSplit,
    q91Bm25Topk,
    q92WeightedSample,
    q93BpePairs,
    q94BigramLogprob,
    q97SnapshotDiff,
    q98ZipfFit,
    q99SourceKl,
    q100HoldoutScore,
    q101TemperatureMix,
    q102PerplexityBands,
    q103DupClustersCapped,
    q104MinhashDedupE2e,
    q105BpeMerges,
    q106TokenEntropy,
    q107DsirWeights,
    q108NbLangConfusion,
    q109BpeEncode,
    q110CmsCalibration,
    q111PhraseScores,
    q113NgramNovelty,
    q116ShardSummary,
    q117IncrementalIngest,
    q125IncrementalNeardup,
    q134BandedNeardupIngest,
    q119SpanCorrupt)
}
