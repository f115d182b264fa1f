"""Independent correctness checks: every answer graft produced in a run
is recomputed from the generated inputs with DuckDB (no graft code) and
compared. `check(workload, work, result)` returns the list of failures
and the number of checks made.

- pipeline_batch: the gold tables equal the reference aggregates over
  the valid orders landed so far, the merge node's Delta table holds
  exactly those orders, `meta_runs` has one row per node per execution,
  and the curation branch passes the corpus_curation checks.
- corpus_curation: the exact-dedup survivors are the smallest id of each
  normalized text, every emitted near-duplicate pair has an exact
  character-5-gram Jaccard of at least 0.5 (precision 1.0), and every
  nearest-neighbour answer is the exact top 5 by cosine (numpy).
- lakehouse_cdc: the Delta and Iceberg tables equal the base table with
  the applied batches replayed; every read and time-travel read returns
  the reference fingerprint at its version; the change-feed sink holds
  exactly the committed changes.
"""

import glob
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

ORDER_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
              "o_orderdate::TIMESTAMP AS o_orderdate, o_orderpriority")
JACCARD_THRESHOLD = 0.5
SHINGLE = 5
RANGE_WIDTH = 3000  # the key range the harness reads: [lo, lo + 3000]
ANN_K = 5


def state(b):
    """The reference table after batch `b` (-1: the seeded base)."""
    return f"state_{b}" if b >= 0 else "state_m1"


class Checker:
    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.failures = []
        self.n = 0

    def q(self, sql):
        return self.con.execute(sql).fetchall()

    def expect(self, ok, what):
        self.n += 1
        if not ok:
            self.failures.append(what)

    def same_rows(self, left, right, what):
        """Multiset equality of two queries' rows."""
        extra = self.q(f"SELECT count(*) FROM (({left}) EXCEPT ALL ({right}))")[0][0]
        missing = self.q(f"SELECT count(*) FROM (({right}) EXCEPT ALL ({left}))")[0][0]
        self.expect(extra == 0 and missing == 0,
                    f"{what}: {extra} unexpected rows, {missing} missing rows")


def parquet(path):
    """A scan over the parquet part files of a Spark-written directory."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def close(a, b, rel=1e-9, abs_=0.011):
    return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))


# ------------------------------------------------------------ pipeline_batch


def check_pipeline_batch(c, work, res):
    out = os.path.join(work, "out")
    c.con.execute(f"CREATE TABLE valid AS SELECT {ORDER_COLS} FROM "
                  f"{parquet(os.path.join(work, 'in', 'landing'))} WHERE o_totalprice > 0")
    ref = {(s, y): (n, r) for s, y, n, r in c.q(
        "SELECT o_orderstatus, year(o_orderdate), count(*), sum(o_totalprice) "
        "FROM valid GROUP BY ALL")}
    got = {(s, y): (n, r) for s, y, n, r in c.q(
        f"SELECT o_orderstatus, o_year, orders, revenue "
        f"FROM {parquet(os.path.join(out, 'gold', 'revenue_by_status'))}")}
    c.expect(ref.keys() == got.keys() and all(
        got[k][0] == ref[k][0] and close(got[k][1], ref[k][1]) for k in ref),
        "gold.revenue_by_status differs from the reference aggregate")
    ref_m = {m: (n, r) for m, n, r in c.q(
        "SELECT date_trunc('month', o_orderdate)::DATE, count(*), sum(o_totalprice) "
        "FROM valid GROUP BY ALL")}
    got_m = {m: (n, r) for m, n, r in c.q(
        f"SELECT month::DATE, order_count, revenue "
        f"FROM {parquet(os.path.join(out, 'gold', 'monthly_metrics'))}")}
    c.expect(ref_m.keys() == got_m.keys() and all(
        got_m[k][0] == ref_m[k][0] and close(got_m[k][1], ref_m[k][1]) for k in ref_m),
        "gold.monthly_metrics differs from the reference aggregate")
    c.same_rows(f"SELECT {ORDER_COLS} FROM {parquet(os.path.join(work, 'check', 'orders_delta'))}",
                "SELECT * FROM valid", "Delta table of the merge node")
    # one meta_runs row per node per execution
    expected = {f"run_{r}" for r in range(res["facts"]["executions"])}
    rows = c.q(f"SELECT run_id, pipeline || '.' || node, count(*) "
               f"FROM {parquet(os.path.join(out, '_system', 'meta_runs'))} GROUP BY ALL")
    nodes = {n for _, n, _ in rows}
    per_run = {}
    for run_id, node, cnt in rows:
        per_run.setdefault(run_id, {})[node] = cnt
    c.expect(set(per_run) == expected and all(
        set(v) == nodes and all(x == 1 for x in v.values()) for v in per_run.values()),
        f"meta_runs is not one row per node per execution "
        f"(runs {sorted(per_run)} vs {sorted(expected)})")
    check_corpus_curation(c, work, res)


# ----------------------------------------------------------- corpus_curation


def _norm(col):
    return f"regexp_replace(lower(trim({col})), '\\s+', ' ', 'g')"


def check_corpus_curation(c, work, res):
    clean = os.path.join(work, "curation", "clean")
    c.con.execute(f"CREATE TABLE scored AS SELECT doc_id, text FROM {parquet(os.path.join(clean, 'scored'))}")
    c.same_rows(f"SELECT doc_id FROM {parquet(os.path.join(clean, 'deduped'))}",
                f"SELECT min(doc_id) FROM scored GROUP BY {_norm('text')}",
                "exact_dedup survivors")
    c.con.execute(f"CREATE TABLE pairs AS SELECT a, b FROM {parquet(os.path.join(clean, 'near_dup_pairs'))}")
    n_pairs = c.q("SELECT count(*) FROM pairs")[0][0]
    c.expect(n_pairs > 0, "no near-duplicate pairs emitted")
    c.con.execute(f"""
        CREATE TABLE sh AS
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(length(t) - {SHINGLE - 1}, 1) + 1),
                 i -> substr(t, i, {SHINGLE})))) AS s
        FROM (SELECT doc_id, {_norm('text')} AS t FROM scored
              WHERE doc_id IN (SELECT a FROM pairs UNION SELECT b FROM pairs))""")
    low = c.q(f"""
        WITH sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT p.a, p.b, count(y.s) AS n
                  FROM pairs p JOIN sh x ON x.doc_id = p.a
                  LEFT JOIN sh y ON y.doc_id = p.b AND y.s = x.s GROUP BY p.a, p.b)
        SELECT count(*), min(i.n / (sa.n + sb.n - i.n)) FROM inter i
        JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
        WHERE i.n < {JACCARD_THRESHOLD} * (sa.n + sb.n - i.n)""")[0]
    c.expect(low[0] == 0, f"{low[0]} of {n_pairs} near-dup pairs below Jaccard "
                          f"{JACCARD_THRESHOLD} (lowest {low[1]})")
    check_nearest_neighbours(c, work)


def check_nearest_neighbours(c, work):
    """Every query's returned neighbours are its exact top-K by cosine
    among the surviving documents (itself excluded), up to ties: each one
    is at least as close as the K-th closest."""
    docs = pq.read_table(os.path.join(work, "in", "documents.parquet"),
                         columns=["doc_id", "vec"]).to_pydict()
    vec = {d: np.asarray(v, dtype=np.float64) for d, v in zip(docs["doc_id"], docs["vec"])}
    survivors = [r[0] for r in c.q(
        f"SELECT doc_id FROM {parquet(os.path.join(work, 'curation', 'clean', 'near_deduped'))}")]
    got = {}
    for q, d, rank in c.q(f"SELECT q_id, doc_id, rank FROM "
                          f"{parquet(os.path.join(work, 'curation', 'similar', 'top5'))}"):
        got.setdefault(q, []).append(d)
    queries = sorted(d for d in vec if d % 50 == 7)
    corpus = np.stack([vec[d] for d in survivors])
    corpus /= np.linalg.norm(corpus, axis=1, keepdims=True)
    bad = []
    for q in queries:
        cos = corpus @ (vec[q] / np.linalg.norm(vec[q]))
        cos_of = {d: x for d, x in zip(survivors, cos) if d != q}
        kth = sorted(cos_of.values(), reverse=True)[:ANN_K][-1]
        mine = got.get(q, [])
        if len(mine) != min(ANN_K, len(cos_of)) or len(set(mine)) != len(mine) or any(
                d not in cos_of or cos_of[d] < kth - 1e-6 for d in mine):
            bad.append(q)
    c.expect(not bad and set(got) == set(queries),
             f"nearest neighbours wrong for queries {bad[:5]} "
             f"({len(got)} queries answered, {len(queries)} expected)")


# ------------------------------------------------------------- lakehouse_cdc


def check_lakehouse_cdc(c, work, res):
    facts = res["facts"]
    n = facts["batches_applied"]
    inp = os.path.join(work, "in")
    c.con.execute(f"CREATE TABLE state_m1 AS SELECT {ORDER_COLS} "
                  f"FROM read_parquet('{os.path.join(inp, 'orders_base.parquet')}')")
    c.con.execute("CREATE TABLE changes (b INTEGER, _op VARCHAR, o_orderkey BIGINT, o_custkey BIGINT, "
                  "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR)")
    for b in range(n):
        path = os.path.join(inp, "batches", f"batch-{b:05d}.parquet")
        c.con.execute(f"INSERT INTO changes SELECT {b}, _op, {ORDER_COLS} FROM read_parquet('{path}')")
        c.con.execute(f"""CREATE TABLE {state(b)} AS
            SELECT * FROM {state(b - 1)} WHERE o_orderkey NOT IN
              (SELECT o_orderkey FROM changes WHERE b = {b} AND _op IN ('U', 'D'))
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM changes WHERE b = {b} AND _op IN ('U', 'I')""")
    final = state(n - 1)
    chk = os.path.join(work, "check")
    c.same_rows(f"SELECT {ORDER_COLS} FROM {parquet(os.path.join(chk, 'delta_final'))}",
                f"SELECT * FROM {final}", "final Delta table")
    c.same_rows(f"SELECT {ORDER_COLS} FROM {parquet(os.path.join(chk, 'iceberg_final'))}",
                f"SELECT * FROM {final}", "final Iceberg table")
    if "time_travel_dump_batch" in facts:
        tb = facts["time_travel_dump_batch"]
        for fmt in ("delta", "iceberg"):
            c.same_rows(f"SELECT {ORDER_COLS} FROM {parquet(os.path.join(chk, f'{fmt}_time_travel'))}",
                        f"SELECT * FROM {state(tb)}", f"{fmt} time-travel read to batch {tb}")

    def fingerprint(table, where="TRUE"):
        rows, k, cu, p = c.q(f"SELECT count(*), sum(o_orderkey), sum(o_custkey), "
                             f"sum(o_totalprice) FROM {table} WHERE {where}")[0]
        return {"rows": rows, "key_sum": k or 0, "cust_sum": cu or 0, "price_sum": p or 0.0}

    def same_fp(got, ref, what):
        c.expect(all(got[k] == ref[k] for k in ("rows", "key_sum", "cust_sum"))
                 and close(got["price_sum"], ref["price_sum"], rel=1e-9, abs_=1e-3),
                 f"{what}: got {got}, reference {ref}")

    for b in range(n):
        reads = facts[f"reads_{b}"]
        lo = reads["range_lo"]
        full = fingerprint(state(b))
        rng = fingerprint(state(b), f"o_orderkey BETWEEN {lo} AND {lo + RANGE_WIDTH}")
        for fmt in ("delta", "iceberg"):
            same_fp(reads[f"{fmt}_full"], full, f"batch {b} {fmt} full read")
            same_fp(reads[f"{fmt}_range"], rng, f"batch {b} {fmt} key-range read")
        tt = facts.get(f"time_travel_{b}")
        if tt:
            ref = fingerprint(state(tt["batch"]))
            for fmt in ("delta", "iceberg"):
                same_fp(tt[fmt], ref, f"batch {b} {fmt} time travel to batch {tt['batch']}")

    sink = parquet(os.path.join(work, "stream", "sink"))
    c.same_rows(f"SELECT o_orderkey FROM {sink} WHERE _change_type = 'delete'",
                "SELECT o_orderkey FROM changes WHERE _op = 'D'", "change feed deletes")
    c.same_rows(f"SELECT {ORDER_COLS} FROM {sink} WHERE _change_type IN ('update_postimage', 'insert')",
                f"SELECT {ORDER_COLS} FROM changes WHERE _op IN ('U', 'I')",
                "change feed post-images and inserts")
    pre = c.q(f"SELECT count(*) FROM {sink} WHERE _change_type = 'update_preimage'")[0][0]
    ups = c.q("SELECT count(*) FROM changes WHERE _op = 'U'")[0][0]
    c.expect(pre == ups, f"change feed has {pre} update pre-images for {ups} updates")


CHECKS = {"pipeline_batch": check_pipeline_batch,
          "corpus_curation": check_corpus_curation,
          "lakehouse_cdc": check_lakehouse_cdc}


def check(workload, work, res):
    c = Checker()
    try:
        CHECKS[workload](c, work, res)
    except Exception as e:  # a missing or unreadable output is a failed check
        c.expect(False, f"check aborted: {type(e).__name__}: {e}")
    return c.failures, c.n
