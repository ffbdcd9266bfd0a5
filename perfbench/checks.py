"""Checkers for the lakehouse benchmark's outputs.

Each checker takes the `check` block a workload run wrote and returns a
list of disagreements (empty when every output is right). None of them
trusts the engine under test: the lake marts and silver orders are
recomputed by DuckDB from the CSV drops, the curated corpus from the
planted duplicate groups, and the top-k lists by numpy's exact cosine.
"""

from collections import Counter
import math

import duckdb
import numpy as np

# --- shared ---------------------------------------------------------------

def same_value(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _sort_key(row, nkeys):
    return tuple((v is None, str(v)) for v in row[:nkeys])


def compare_rows(got, want, nkeys, what):
    """Rows as sets keyed by their first `nkeys` columns."""
    got = sorted((list(r) for r in got), key=lambda r: _sort_key(r, nkeys))
    want = sorted((list(r) for r in want), key=lambda r: _sort_key(r, nkeys))
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(same_value(x, y) for x, y in zip(g, w)):
            return [f"{what}: row {g} != expected {w}"]
    return []


def connect():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


# --- lake_refresh -----------------------------------------------------------

ENTITIES = ("customers", "orders", "order_items", "order_payments", "order_reviews")
TS = "'%Y-%m-%d %H:%M:%S'"
STATUSES = ("created", "approved", "invoiced", "processing",
            "shipped", "delivered", "canceled", "unavailable")

# Silver under the cleanse rules, latest valid delivery wins.
_SILVER = {
    "customers": """
        SELECT * EXCLUDE (rn) FROM (
          SELECT customer_id, customer_unique_id,
                 upper(trim(customer_state)) AS customer_state,
                 row_number() OVER (PARTITION BY customer_id ORDER BY delivery DESC) AS rn
          FROM raw_customers
          WHERE delivery <= {i} AND customer_id IS NOT NULL
            AND customer_unique_id IS NOT NULL) WHERE rn = 1""",
    "orders": """
        SELECT * EXCLUDE (rn) FROM (
          SELECT order_id, customer_id, lower(trim(order_status)) AS order_status,
                 try_strptime(order_purchase_timestamp, {ts}) AS pts,
                 try_strptime(order_delivered_customer_date, {ts}) AS dts,
                 row_number() OVER (PARTITION BY order_id ORDER BY delivery DESC) AS rn
          FROM raw_orders
          WHERE delivery <= {i} AND order_id IS NOT NULL AND customer_id IS NOT NULL
            AND lower(trim(order_status)) IN {statuses}
            AND try_strptime(order_purchase_timestamp, {ts}) IS NOT NULL) WHERE rn = 1""",
    "order_items": """
        SELECT * EXCLUDE (rn) FROM (
          SELECT order_id, TRY_CAST(order_item_id AS INTEGER) AS item,
                 TRY_CAST(price AS DOUBLE) AS price,
                 TRY_CAST(freight_value AS DOUBLE) AS freight,
                 row_number() OVER (PARTITION BY order_id, TRY_CAST(order_item_id AS INTEGER)
                                    ORDER BY delivery DESC) AS rn
          FROM raw_order_items
          WHERE delivery <= {i} AND order_id IS NOT NULL AND order_item_id IS NOT NULL
            AND product_id IS NOT NULL AND TRY_CAST(order_item_id AS INTEGER) IS NOT NULL
            AND TRY_CAST(price AS DOUBLE) IS NOT NULL
            AND TRY_CAST(freight_value AS DOUBLE) IS NOT NULL) WHERE rn = 1""",
    "order_payments": """
        SELECT * EXCLUDE (rn) FROM (
          SELECT order_id, TRY_CAST(payment_sequential AS INTEGER) AS seq,
                 CAST(TRY_CAST(payment_value AS DECIMAL(10,2)) AS DOUBLE) AS value,
                 coalesce(TRY_CAST(payment_installments AS INTEGER), 1) AS installments,
                 row_number() OVER (PARTITION BY order_id, TRY_CAST(payment_sequential AS INTEGER)
                                    ORDER BY delivery DESC) AS rn
          FROM raw_order_payments
          WHERE delivery <= {i} AND order_id IS NOT NULL AND payment_sequential IS NOT NULL
            AND TRY_CAST(payment_sequential AS INTEGER) IS NOT NULL
            AND TRY_CAST(payment_value AS DECIMAL(10,2)) IS NOT NULL) WHERE rn = 1""",
    "order_reviews": """
        SELECT * EXCLUDE (rn) FROM (
          SELECT review_id, order_id, TRY_CAST(review_score AS INTEGER) AS score,
                 row_number() OVER (PARTITION BY review_id ORDER BY delivery DESC) AS rn
          FROM raw_order_reviews
          WHERE delivery <= {i} AND review_id IS NOT NULL AND order_id IS NOT NULL
            AND TRY_CAST(review_score AS INTEGER) BETWEEN 1 AND 5
            AND try_strptime(review_creation_date, {ts}) IS NOT NULL) WHERE rn = 1""",
}

_GOLD = """
CREATE OR REPLACE TEMP VIEW fact_orders AS
  SELECT o.*, a.item_count, a.order_value, a.order_freight
  FROM s_orders o LEFT JOIN (
    SELECT order_id, count(*) AS item_count, sum(price) AS order_value,
           sum(freight) AS order_freight
    FROM s_order_items GROUP BY order_id) a USING (order_id);
CREATE OR REPLACE TEMP VIEW fact_payments AS
  SELECT order_id, count(*) AS payment_count, sum(value) AS payment_total
  FROM s_order_payments GROUP BY order_id;
"""

# (key column count, SQL) per gold-mart read; column order matches the
# benchmark's queries.
LAKE_QUERIES = {
    "metrics_revenue": (3, """
        SELECT CAST(CAST(fo.pts AS DATE) AS VARCHAR), c.customer_state, fo.order_status,
               sum(fp.payment_total), count(DISTINCT fo.order_id), sum(fp.payment_count)
        FROM fact_orders fo JOIN fact_payments fp USING (order_id)
        LEFT JOIN s_customers c USING (customer_id)
        GROUP BY 1, 2, 3"""),
    "metrics_orders": (2, """
        SELECT CAST(CAST(fo.pts AS DATE) AS VARCHAR), c.customer_state,
               count(DISTINCT fo.order_id),
               sum(CASE WHEN fo.order_status = 'delivered' THEN 1 ELSE 0 END),
               sum(CASE WHEN fo.order_status = 'canceled' THEN 1 ELSE 0 END),
               sum(CASE WHEN fo.order_status = 'shipped' THEN 1 ELSE 0 END),
               sum(CASE WHEN fo.order_status = 'processing' THEN 1 ELSE 0 END),
               avg(date_diff('day', CAST(fo.pts AS DATE), CAST(fo.dts AS DATE)))
        FROM fact_orders fo LEFT JOIN s_customers c USING (customer_id)
        GROUP BY 1, 2"""),
    "metrics_customers": (1, """
        SELECT c.customer_state, count(DISTINCT c.customer_unique_id),
               count(DISTINCT fo.order_id),
               count(DISTINCT CASE WHEN fo.order_status = 'delivered' THEN fo.order_id END),
               count(DISTINCT CASE WHEN fo.order_id IS NOT NULL THEN c.customer_unique_id END)
        FROM s_customers c LEFT JOIN fact_orders fo USING (customer_id)
        GROUP BY 1"""),
    "fact_orders_by_status": (1, """
        SELECT order_status, count(*), sum(item_count), sum(order_value), sum(order_freight)
        FROM fact_orders GROUP BY 1"""),
    "fact_reviews_by_score": (1, """
        SELECT r.score, count(*), count(o.order_status)
        FROM s_order_reviews r LEFT JOIN s_orders o USING (order_id)
        GROUP BY 1"""),
}


def load_lake_drops(con, ingest):
    for e in ENTITIES:
        con.execute(f"""
            CREATE OR REPLACE TABLE raw_{e} AS
            SELECT * EXCLUDE (filename),
                   CAST(regexp_extract(filename, 'd(\\d+)\\.csv$', 1) AS INTEGER) AS delivery
            FROM read_csv('{ingest}/{e}/*.csv', header = true, delim = ',',
                          all_varchar = true, filename = true)""")


def lake_expected(con, increment, query):
    statuses = "(" + ", ".join(f"'{s}'" for s in STATUSES) + ")"
    for e, sql in _SILVER.items():
        body = sql.format(i=increment, ts=TS, statuses=statuses)
        con.execute(f"CREATE OR REPLACE TEMP VIEW s_{e} AS {body}")
    con.execute(_GOLD)
    return con.execute(LAKE_QUERIES[query][1]).fetchall()


def silver_orders(con, increment):
    """Silver orders at a drop, projected as the change-feed read selects."""
    lake_expected(con, increment, "metrics_customers")  # (re)defines the s_* views
    return Counter(con.execute(f"""
        SELECT order_id, customer_id, order_status, strftime(pts, {TS}), strftime(dts, {TS})
        FROM s_orders""").fetchall())


def net_change(rows):
    """A change feed's net effect: (rows removed, rows added)."""
    removed, added = Counter(), Counter()
    for r in rows:
        data, kind = tuple(r[:-2]), r[-2]
        if kind in ("insert", "update_postimage"):
            added[data] += 1
        elif kind in ("delete", "update_preimage"):
            removed[data] += 1
    common = removed & added
    return removed - common, added - common


def check_lake(check):
    con = connect()
    load_lake_drops(con, check["ingest"])
    reads = check["reads"]
    errors = []
    expected, silver = {}, {}  # each read kind repeats within a round
    for read in reads:
        q, inc = read["query"], read["increment"]
        what = f"lake {q} after drop {inc}"
        if q != "change_feed" and read.get("files_scanned", 1) <= 0:
            errors.append(f"{what}: the plan scans no data file")
        if q == "version_as_of":
            src = reads[read["source"]]
            errors += compare_rows(read["rows"], src["rows"], 3,
                                   f"{what} (VERSION AS OF {read['as_of']}) vs the same read at head")
        elif q == "change_feed":
            bad = [r for r in read["rows"] if not read["from"] < r[-1] <= read["to"]]
            if bad:
                errors.append(f"{what}: feed rows outside (v{read['from']}, v{read['to']}]: {bad[:2]}")
            for i in (inc - 1, inc):
                if i not in silver:
                    silver[i] = silver_orders(con, i)
            before, after = silver[inc - 1], silver[inc]
            got = net_change(read["rows"])
            if got != (before - after, after - before):
                errors.append(f"{what}: the feed v{read['from']}..v{read['to']} applied to the "
                              f"silver orders of drop {inc - 1} does not give those of drop {inc}")
        else:
            if (inc, q) not in expected:
                expected[inc, q] = lake_expected(con, inc, q)
            errors += compare_rows(read["rows"], expected[inc, q], LAKE_QUERIES[q][0], what)
    return errors


# --- corpus_curation ----------------------------------------------------------

RECALL_FLOOR = 0.9


def expected_kept(con, documents):
    """Every clean singleton plus the minimum id of each planted group."""
    rows = con.execute(f"""
        SELECT doc_id FROM read_parquet('{documents}/*.parquet') WHERE role = 'keep'
        UNION ALL
        SELECT min(doc_id) FROM read_parquet('{documents}/*.parquet')
        WHERE grp >= 0 GROUP BY grp""").fetchall()
    return sorted(r[0] for r in rows)


def check_curation(con, documents, passes):
    want = expected_kept(con, documents)
    groups = dict(con.execute(f"""
        SELECT doc_id, grp FROM read_parquet('{documents}/*.parquet') WHERE grp >= 0""").fetchall())
    errors = []
    for n, p in enumerate(passes):
        kept = list(p["kept"])
        per_group = Counter(groups[d] for d in kept if d in groups)
        twice = [g for g, c in per_group.items() if c > 1]
        if twice:
            errors.append(f"curation pass {n}: planted groups kept more than once: {twice[:5]}")
        if kept != want:
            extra = sorted(set(kept) - set(want))[:5]
            missing = sorted(set(want) - set(kept))[:5]
            errors.append(f"curation pass {n}: {len(kept)} kept, expected {len(want)}; "
                          f"unexpected {extra}, missing {missing}")
    return errors


def load_vectors(con, path):
    rows = con.execute(f"SELECT id, vec FROM read_parquet('{path}/*.parquet') ORDER BY id").fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    vecs = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    return ids, vecs


def check_topk(emb, queries, k, batches):
    """Returns (errors, mean recall against the exact top-k)."""
    ids, vecs = emb
    qids, qvecs = queries
    norms = np.sqrt(np.einsum("ij,ij->i", vecs, vecs))
    pos = {int(i): n for n, i in enumerate(ids)}
    exact = {}
    for qi, q in zip(qids, qvecs):
        cos = vecs @ q / (norms * math.sqrt(float(q @ q)))
        order = np.lexsort((ids, -cos))[:k]
        exact[int(qi)] = (cos, set(int(ids[j]) for j in order))
    errors, recalls = [], []
    for n, batch in enumerate(batches):
        by_q = {}
        for q, v, rank, cos in batch["rows"]:
            by_q.setdefault(int(q), []).append((int(rank), int(v), float(cos)))
        asked = set(batch["queries"])
        if set(by_q) != asked or not asked <= set(exact):
            errors.append(f"top-k batch {n}: answered {len(by_q)} queries, asked {len(asked)}")
        for q, hits in by_q.items():
            hits.sort()
            cos, best = exact[q]
            if [h[0] for h in hits] != list(range(1, len(hits) + 1)) or len(hits) > k:
                errors.append(f"top-k batch {n} query {q}: ranks {[h[0] for h in hits]}")
                continue
            for rank, v, c in hits:
                if v not in pos or not math.isclose(c, cos[pos[v]], rel_tol=1e-9, abs_tol=1e-12):
                    errors.append(f"top-k batch {n} query {q} rank {rank}: id {v} scored {c}, "
                                  f"exact cosine {cos[pos[v]] if v in pos else 'n/a'}")
                    break
            scores = [(-h[2], h[1]) for h in hits]
            if scores != sorted(scores):
                errors.append(f"top-k batch {n} query {q}: not ordered by score")
            recalls.append(len(best & {h[1] for h in hits}) / k)
    recall = sum(recalls) / len(recalls) if recalls else 0.0
    if recall < RECALL_FLOOR:
        errors.append(f"top-k recall {recall:.4f} below the floor {RECALL_FLOOR}")
    return errors, recall


def check_corpus(check):
    con = connect()
    errors = check_curation(con, check["documents"], check["passes"])
    topk_errors, recall = check_topk(load_vectors(con, check["embeddings"]),
                                     load_vectors(con, check["queries"]),
                                     check["k"], check["topk"])
    return errors + topk_errors, recall
