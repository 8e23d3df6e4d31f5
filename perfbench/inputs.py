"""Seeded input generation and independently computed expected outputs.

Every workload's inputs are made here from the seed alone, written as
parquet under the run's input directory, and the values the program must
produce are computed from the same files by DuckDB (closed-form normal
equations, the BM25 oracle SQL) so that the program's outputs can be
checked in every op.
"""

import hashlib
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The repository's sf0.1 `documents` fixture, measured: 5,000 documents
# of 10 to 100 tokens (uniform, mean 54), every token one of 30 words
# drawn uniformly (each 3.2-3.4% of tokens); the one other token, `dup`,
# ends the 5% of documents that are another document plus " dup".
VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter big group "
    "hash customer sort order slow line part fast row the agg key query a scan batch".split(),
    dtype=object)
DOC_TOKENS = (10, 100)
NEAR_SHARE = 0.05  # measured: near-dup clones per document
EXACT_SHARE = 0.05  # chosen (the fixture has 8 exact copies in 5,000), so every batch has some

BM25_BUCKETS = 16  # must match the nBuckets the workloads build postings with
LEXICAL_DOCS = 5_000  # per sf0.1, as the fixture
QUERY_BATCHES = 40  # one fresh batch per op; a run ends early when they run out
QUERIES_PER_BATCH = 8
LEXICAL_COPIES = 1


def _texts(rng, n):
    """n documents shaped like the fixture's (see VOCAB)."""
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    return [" ".join(words[e - l:e]) for e, l in zip(ends, lens)]


def _write(path, table, parts=1):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for p in range(parts):
        lo, hi = n * p // parts, n * (p + 1) // parts
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{p:05d}.parquet"))


def _docs_table(ids, texts):
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})


def _text_bytes(texts):
    return sum(len(t.encode()) for t in texts)


def _props(path, info):
    with open(os.path.join(path, "info.properties"), "w") as f:
        for k, v in info.items():
            f.write(f"{k}={v}\n")


def _tsv(path, columns):
    """Plain tab-separated rows: the harness reads these without Spark."""
    with open(path, "w") as f:
        for row in zip(*columns):
            f.write("\t".join(repr(v) if isinstance(v, float) else str(v) for v in row) + "\n")


def _duck(work):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duck.tmp')}'")
    return con


# ── prep_pipeline ─────────────────────────────────────────────────────

PREP_EXOG = ["l_quantity", "l_discount", "l_tax", "l_returnflag_R", "l_linestatus_O"]


def prep_pipeline(rng, d, sf, work):
    # a sixth of TPC-H's 6M rows per sf: an op stays near the per-job
    # floor, so about nine fit in a run
    n = int(round(1_000_000 * sf))
    qty = rng.integers(1, 51, n).astype(np.float64)
    flag = rng.choice(np.array(["A", "N", "R"], dtype=object), n)
    status = rng.choice(np.array(["O", "F"], dtype=object), n)
    price = rng.uniform(900.0, 2100.0, n) * np.where(flag == "R", 1.05, 1.0)
    ship = np.datetime64("1995-01-02") + rng.integers(0, 2498, n).astype("timedelta64[D]")
    # the seeded NA mask on the regressors
    def masked(values, dtype):
        return pa.array(values, dtype, mask=rng.random(n) < 0.05)
    table = pa.table({
        "l_orderkey": pa.array(rng.integers(1, max(2, int(1_500_000 * sf)), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, max(2, int(200_000 * sf)), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, max(2, int(10_000 * sf)), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": masked(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * price, 2), pa.float64()),
        "l_discount": masked(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": masked(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(flag, pa.string()),
        "l_linestatus": pa.array(status, pa.string()),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    path = os.path.join(d, "lineitem.parquet")
    _write(path, table, parts=8)
    con = _duck(work)
    asinh = "ln({0} + sqrt({0} * {0} + 1))"  # DuckDB 1.0 has no asinh
    sums = con.execute(f"""
      WITH li AS (SELECT * FROM read_parquet('{path}/*.parquet')),
      s AS (SELECT quantile_cont(l_quantity, 0.5) AS qmed, avg(l_discount) AS dmean,
                   avg(l_tax) AS tmean FROM li),
      f AS (SELECT {asinh.format('l_extendedprice')} AS y,
                   {asinh.format('coalesce(l_quantity, qmed)')} AS q,
                   coalesce(l_discount, dmean) AS d, coalesce(l_tax, tmean) AS t,
                   CAST(l_returnflag = 'R' AS DOUBLE) AS r,
                   CAST(l_linestatus = 'O' AS DOUBLE) AS o
            FROM li, s),
      m AS (SELECT avg(y) my, stddev_samp(y) sy, avg(q) mq, stddev_samp(q) sq,
                   avg(d) md, stddev_samp(d) sd, avg(t) mt, stddev_samp(t) st,
                   avg(r) mr, avg(o) mo FROM f),
      z AS (SELECT (y - my) / (2 * sy) AS y, (q - mq) / (2 * sq) AS x0, (d - md) / (2 * sd) AS x1,
                   (t - mt) / (2 * st) AS x2, r - mr AS x3, o - mo AS x4 FROM f, m)
      SELECT {", ".join(f"sum(x{i} * x{j})" for i in range(5) for j in range(5))},
             {", ".join(f"sum(x{i} * y)" for i in range(5))}
      FROM z""").fetchone()
    con.close()
    xtx = np.array(sums[:25], dtype=np.float64).reshape(5, 5)
    xty = np.array(sums[25:], dtype=np.float64)
    beta = np.linalg.solve(xtx, xty)
    _tsv(os.path.join(d, "expected_coef.tsv"), [PREP_EXOG, [float(b) for b in beta]])
    nbytes = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    _props(d, {"rows": n})
    return {"rows": n, "bytes": nbytes, "unit": "lineitem rows"}


# ── lexical_search ────────────────────────────────────────────────────

def _u32(term, salt):
    return int(hashlib.md5(f"{salt}|{term}".encode()).hexdigest()[:8], 16)


def lexical_search(rng, d, sf, work):
    base = max(20, int(round(LEXICAL_DOCS * sf / 0.1)))
    texts0 = _texts(rng, base)
    stride = base
    ids, texts = [], []
    for c in range(LEXICAL_COPIES):  # GenScale's per-copy text prefix
        ids.extend(c * stride + i for i in range(base))
        texts.extend(f"c{c} {t}" for t in texts0)
    ids = np.array(ids, dtype=np.int64)
    boot = rng.random(len(ids)) < 0.8
    _write(os.path.join(d, "docs_boot.parquet"),
           _docs_table(ids[boot], [t for t, b in zip(texts, boot) if b]), parts=4)
    _write(os.path.join(d, "docs_append.parquet"),
           _docs_table(ids[~boot], [t for t, b in zip(texts, boot) if not b]), parts=1)

    # one batch per op, never repeated in a run; a query is the first
    # four tokens of a source document (the q141 shape) or, for a chosen
    # quarter of them, four of the corpus's eight most frequent terms
    counts = {}
    for t in texts0:
        for w in set(t.split(" ")):
            counts[w] = counts.get(w, 0) + 1
    frequent = np.array(sorted(counts, key=lambda w: (-counts[w], w))[:8], dtype=object)
    qb, qid, qtext = [], [], []
    for b in range(QUERY_BATCHES):
        for j in range(QUERIES_PER_BATCH):
            if rng.random() < 0.75:
                src = int(rng.integers(0, len(texts)))
                qtext.append(" ".join(texts[src].split(" ")[:4]))
            else:
                qtext.append(" ".join(rng.choice(frequent, 4, replace=False)))
            qb.append(b)
            qid.append(b * QUERIES_PER_BATCH + j)
    queries = pa.table({"batch": pa.array(qb, pa.int32()), "q_id": pa.array(qid, pa.int64()),
                        "q_text": pa.array(qtext, pa.string())})
    _tsv(os.path.join(d, "queries.tsv"), [qb, qid, qtext])

    # the q145 oracle SQL, per batch: bucketed postings with df
    # denormalized, the batch's probed buckets, then the q91 per-term
    # formula summed as DECIMAL and ranked per query
    vocab = sorted(counts.keys() | {f"c{c}" for c in range(LEXICAL_COPIES)}
                   | {w for q in qtext for w in q.split(" ")})
    con = _duck(work)
    con.register("tb_terms", pa.table({
        "term": vocab, "tb": pa.array([_u32(w, "pt") % BM25_BUCKETS for w in vocab], pa.int32())}))
    con.register("queries", queries)
    expected = con.execute(f"""
      WITH docs AS (SELECT doc_id, text FROM read_parquet('{d}/docs_boot.parquet/*.parquet')
                    UNION ALL
                    SELECT doc_id, text FROM read_parquet('{d}/docs_append.parquet/*.parquet')),
      tks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM docs),
      dd AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS term FROM tks),
      p0 AS (SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS tf FROM dd GROUP BY term, doc_id, dl),
      dfk AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM p0 GROUP BY term),
      p AS (SELECT p0.term, p0.doc_id, p0.dl, p0.tf, dfk.df, tb_terms.tb
            FROM p0 JOIN dfk USING (term) JOIN tb_terms USING (term)),
      s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(CAST(len(tk) AS DOUBLE)) AS avgdl FROM tks),
      q AS (SELECT batch, q_id, unnest(list_distinct(string_split(q_text, ' '))) AS term FROM queries),
      qtb AS (SELECT DISTINCT q.batch, tb_terms.tb FROM q JOIN tb_terms USING (term)),
      lists AS (SELECT p.*, qtb.batch FROM p JOIN qtb USING (tb)),
      c AS (SELECT q.batch, q.q_id, lists.doc_id,
              CAST(round(
                ln(1.0 + (s.n - lists.df + 0.5) / (lists.df + 0.5)) * (lists.tf * (1.2 + 1.0))
                  / (lists.tf + 1.2 * (1.0 - 0.75 + 0.75 * lists.dl / s.avgdl)),
                6) AS DECIMAL(20,6)) AS c
            FROM q JOIN lists ON q.term = lists.term AND q.batch = lists.batch CROSS JOIN s),
      sc AS (SELECT batch, q_id, doc_id, CAST(sum(c) AS DOUBLE) AS score
             FROM c GROUP BY batch, q_id, doc_id),
      r AS (SELECT batch, q_id, doc_id, score,
              row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS rn
            FROM sc)
      SELECT CAST(batch AS INTEGER) AS batch, q_id, doc_id, score, CAST(rn AS INTEGER) AS rn
      FROM r WHERE rn <= 10 ORDER BY q_id, rn""").fetchall()
    con.close()
    _tsv(os.path.join(d, "expected_topk.tsv"), list(zip(*expected)) if expected else [[]] * 5)
    text_bytes = _text_bytes(texts)
    _props(d, {"corpus_text_bytes": text_bytes})
    return {"rows": len(texts), "bytes": text_bytes, "queries": len(qid),
            "unit": "queries", "copies": LEXICAL_COPIES}


# ── index_ingest ──────────────────────────────────────────────────────

INGEST_BATCHES = 40
# per sf: the "old" split the indexes bootstrap from, and fresh documents
# per batch; each batch also carries planted exact copies (EXACT_SHARE)
# and near-dup clones (NEAR_SHARE) of earlier documents
INGEST_OLD = 10_000
INGEST_FRESH = 2_000


def index_ingest(rng, d, sf, work):
    n_old = max(20, int(round(INGEST_OLD * sf)))
    fresh_n = max(10, int(round(INGEST_FRESH * sf)))
    exact_n = max(1, int(round(fresh_n * EXACT_SHARE)))
    near_n = max(1, int(round(fresh_n * NEAR_SHARE)))
    old_texts = _texts(rng, n_old)
    _write(os.path.join(d, "docs_old.parquet"), _docs_table(np.arange(n_old), old_texts), parts=4)
    # documents any later batch may copy: the old split plus every
    # earlier batch's fresh documents
    pool_ids = list(range(n_old))
    pool_texts = list(old_texts)
    plan = {"batch": [], "doc_id": [], "kind": [], "src_id": [], "text_bytes": []}
    batch_rows, batch_bytes = [], []
    for g in range(INGEST_BATCHES):
        ids, texts, kinds, srcs = [], [], [], []
        fresh = _texts(rng, fresh_n)
        for j, t in enumerate(fresh):
            ids.append(10_000_000 + g * 100_000 + j); texts.append(t); kinds.append("fresh"); srcs.append(-1)
        picks = rng.choice(len(pool_ids), exact_n + near_n, replace=False)
        for j, p in enumerate(picks[:exact_n]):
            ids.append(20_000_000 + g * 100_000 + j); texts.append(pool_texts[p])
            kinds.append("exact"); srcs.append(pool_ids[p])
        for j, p in enumerate(picks[exact_n:]):
            ids.append(30_000_000 + g * 100_000 + j); texts.append(f"{pool_texts[p]} xk{g}")
            kinds.append("near"); srcs.append(pool_ids[p])
        order = rng.permutation(len(ids))
        ids = [ids[k] for k in order]; texts = [texts[k] for k in order]
        kinds = [kinds[k] for k in order]; srcs = [srcs[k] for k in order]
        _write(os.path.join(d, "batches", f"batch={g:05d}"), _docs_table(ids, texts), parts=1)
        plan["batch"].extend([g] * len(ids)); plan["doc_id"].extend(ids); plan["kind"].extend(kinds)
        plan["src_id"].extend(srcs); plan["text_bytes"].extend(len(t.encode()) for t in texts)
        batch_rows.append(len(ids))
        batch_bytes.append(_text_bytes(texts))
        pool_ids.extend(10_000_000 + g * 100_000 + j for j in range(fresh_n))
        pool_texts.extend(fresh)
    _tsv(os.path.join(d, "batch_plan.tsv"),
         [plan["batch"], plan["doc_id"], plan["kind"], plan["src_id"], plan["text_bytes"]])
    _props(d, {"old_docs": n_old})
    return {"rows": n_old, "bytes": _text_bytes(old_texts), "batch_rows": int(np.mean(batch_rows)),
            "batch_bytes": int(np.mean(batch_bytes)), "unit": "documents"}


GENERATORS = {
    "prep_pipeline": prep_pipeline,
    "lexical_search": lexical_search,
    "index_ingest": index_ingest,
}


def generate(workload, seed, sf, d, work):
    """Write the workload's inputs and expected outputs under d."""
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    return GENERATORS[workload](rng, d, sf, work)
