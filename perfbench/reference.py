"""DuckDB references, computed on the same generated files outside every
timed region.

Exact where the operator is exact: join checksums and AUC (integer
scores), integer PageRank, bfs/sssp distances, component labels, window
counts and quality-signal counts. GAUC is a double-precision weighted
mean whose summation order differs between engines, so it compares to
1e-12 relative. The near-dup dedups use the package's own DuckDB
replica of MinHash+LSH (``get_oracles()``) and, for the semantic dedup,
the planted clusters: near-duplicates share their source's embedding
exactly, and two independent 24-d Gaussian embeddings reach the 0.95
cosine threshold with probability about 1e-12, so each cluster keeps
its smallest id.
"""

from __future__ import annotations

import math
import os

import duckdb

from hybridbackend_spark.queries import get_oracles


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    return con


def _pq(path: str) -> str:
    return "read_parquet('" + path.replace("'", "''") + "')"


# ---------------------------------------------------------------- train_feed


def train_feed(con, d: str) -> dict:
    events = _pq(os.path.join(d, "events", "*.parquet"))
    con.execute(f"""
    CREATE OR REPLACE TEMP TABLE rows AS
    SELECT unnest(row_id) AS row_id, unnest(label) AS label, unnest(ids) AS ids,
           unnest(list_transform(user_id_idx, i -> user_id[i + 1])) AS user_id,
           unnest(list_transform(item_id_idx, i -> item_id[i + 1])) AS item_id
    FROM {events}
    """)
    con.execute(f"""
    CREATE OR REPLACE TEMP TABLE feats AS
    WITH ex AS (SELECT row_id, unnest(ids) AS id FROM rows),
    pooled AS (
      SELECT ex.row_id, sum(list_sum(e.vec)::DOUBLE) AS vsum
      FROM ex JOIN {_pq(os.path.join(d, 'emb.parquet'))} e USING (id)
      GROUP BY ex.row_id
    )
    SELECT r.row_id, r.user_id, r.label,
           p.vsum + i.item_bias + coalesce(u.u_score, 0) / 4.0 + i.item_cat % 64
             AS score
    FROM rows r
    JOIN {_pq(os.path.join(d, 'items.parquet'))} i USING (item_id)
    JOIN pooled p USING (row_id)
    LEFT JOIN {_pq(os.path.join(d, 'users.parquet'))} u USING (user_id)
    """)
    auc = con.execute("""
    WITH h AS (SELECT score, sum(label)::DOUBLE AS p, sum(1 - label)::DOUBLE AS n
               FROM feats GROUP BY score),
    s AS (SELECT p, n, coalesce(sum(n) OVER (ORDER BY score ROWS BETWEEN
                 UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb FROM h)
    SELECT sum(p * (nb + n / 2)) / (sum(p) * sum(n)) FROM s
    """).fetchone()[0]
    gauc = con.execute("""
    WITH h AS (SELECT user_id, score, sum(label)::DOUBLE AS p,
                      sum(1 - label)::DOUBLE AS n
               FROM feats GROUP BY user_id, score),
    s AS (SELECT user_id, p, n, coalesce(sum(n) OVER (PARTITION BY user_id
                 ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS nb FROM h),
    g AS (SELECT sum(p * (nb + n / 2)) / (sum(p) * sum(n)) AS a,
                 sum(p) + sum(n) AS c, sum(p) AS pos, sum(n) AS neg
          FROM s GROUP BY user_id)
    SELECT sum(a * c) / sum(c) FROM g WHERE pos > 0 AND neg > 0
    """).fetchone()[0]
    return {"auc": auc, "gauc": gauc}


def check_train_feed(ref: dict, out: dict, first: dict | None) -> list[str]:
    bad = []
    auc = out["metrics"].column("auc")[0].as_py()
    gauc = out["metrics"].column("gauc")[0].as_py()
    if auc != ref["auc"]:
        bad.append(f"auc {auc!r} != {ref['auc']!r}")
    if not math.isclose(gauc, ref["gauc"], rel_tol=1e-12):
        bad.append(f"gauc {gauc!r} != {ref['gauc']!r}")
    return bad


# ----------------------------------------------------------- corpus_curation


def _rows(con, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall())


def _relax(con, edges: str, weighted: bool) -> list[tuple]:
    """Min-plus relaxation from the seeds to the fixed point."""
    w = "e.w" if weighted else "1"
    con.execute("CREATE OR REPLACE TEMP TABLE dist AS "
                "SELECT DISTINCT id, 0::BIGINT AS dist FROM seeds")
    while True:
        before = con.execute("SELECT count(*), sum(dist) FROM dist").fetchone()
        con.execute(f"""
        CREATE OR REPLACE TEMP TABLE dist AS
        SELECT id, min(dist) AS dist FROM (
          SELECT id, dist FROM dist
          UNION ALL
          SELECT e.b AS id, d.dist + {w} AS dist FROM {edges} e JOIN dist d ON e.a = d.id
        ) GROUP BY id
        """)
        if con.execute("SELECT count(*), sum(dist) FROM dist").fetchone() == before:
            return _rows(con, "SELECT id, dist FROM dist")


def corpus(con, d: str) -> dict:
    con.execute(f"CREATE OR REPLACE TEMP VIEW documents AS "
                f"SELECT * FROM {_pq(os.path.join(d, 'documents.parquet'))}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE links AS "
                f"SELECT * FROM {_pq(os.path.join(d, 'links.parquet'))}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE seeds AS "
                f"SELECT * FROM {_pq(os.path.join(d, 'seeds.parquet'))}")
    con.execute("CREATE OR REPLACE TEMP TABLE sym AS "
                "SELECT DISTINCT a, b, w FROM (SELECT src AS a, dst AS b, w FROM links "
                "UNION ALL SELECT dst, src, w FROM links)")
    ref = {}
    ref["quality"] = _rows(con, """
    WITH t AS (SELECT doc_id, trim(text) AS t FROM documents),
    k AS (SELECT doc_id, t, CASE WHEN length(t) = 0 THEN []::VARCHAR[]
                 ELSE string_split_regex(lower(t), '\\s+') END AS toks FROM t)
    SELECT doc_id, length(t), len(toks),
           len(list_filter(toks, x -> list_contains(
             ['the','and','of','to','a','in','is','for','on','with'], x)))
    FROM k
    """)
    ref["near_dup_survivors"] = _rows(con, get_oracles()["minhash_lsh_dedup_docs"])
    ref["semantic_survivors"] = _rows(
        con, "SELECT min(doc_id) FROM documents GROUP BY embedding")

    # PageRank: the operator's integer arithmetic, unrolled (3 iterations,
    # damping 85%, scale 1e9, rank div out-degree; duplicate edges count)
    ctes = ["deg AS (SELECT src, count(*) AS deg FROM links GROUP BY src)",
            "nodes AS (SELECT src AS node FROM links UNION SELECT dst FROM links)",
            "r0 AS (SELECT node, 1000000000::BIGINT AS rank FROM nodes)"]
    for i in range(1, 4):
        ctes.append(f"""r{i} AS (
          SELECT n.node, 150000000 + (85 * coalesce(s.c, 0)) // 100 AS rank
          FROM nodes n LEFT JOIN (
            SELECT l.dst AS node, sum(r.rank // deg.deg) AS c
            FROM links l JOIN deg USING (src) JOIN r{i - 1} r ON r.node = l.src
            GROUP BY l.dst) s USING (node))""")
    ref["pagerank"] = _rows(con, "WITH " + ", ".join(ctes) + " SELECT node, rank FROM r3")
    ref["bfs"] = _relax(con, "(SELECT DISTINCT a, b FROM sym)", weighted=False)
    ref["sssp"] = _relax(con, "sym", weighted=True)

    con.execute("CREATE OR REPLACE TEMP TABLE lab AS SELECT a AS id, a AS c "
                "FROM (SELECT DISTINCT a FROM sym)")
    while True:
        before = con.execute("SELECT sum(c) FROM lab").fetchone()
        con.execute("""
        CREATE OR REPLACE TEMP TABLE lab AS
        SELECT l.id, least(l.c, coalesce(min(n.c), l.c)) AS c
        FROM lab l LEFT JOIN sym s ON s.a = l.id LEFT JOIN lab n ON n.id = s.b
        GROUP BY l.id, l.c
        """)
        if con.execute("SELECT sum(c) FROM lab").fetchone() == before:
            break
    ref["components"] = _rows(con, "SELECT id, c FROM lab")
    return ref


def _tuples(table, cols) -> list[tuple]:
    return sorted(zip(*[table.column(c).to_pylist() for c in cols]))


def check_corpus(ref: dict, out: dict, first: dict | None) -> list[str]:
    q = out["quality"]
    got = {
        "quality": sorted(zip(
            q.column("doc_id").to_pylist(), q.column("n_chars").to_pylist(),
            q.column("n_tokens").to_pylist(),
            [round(r * n) for r, n in zip(q.column("stopword_ratio").to_pylist(),
                                         q.column("n_tokens").to_pylist())])),
        "near_dup_survivors": _tuples(out["near_dup_survivors"], ["doc_id"]),
        "semantic_survivors": _tuples(out["semantic_survivors"], ["doc_id"]),
        "pagerank": _tuples(out["pagerank"], ["node", "rank"]),
        "bfs": _tuples(out["bfs"], ["id", "dist"]),
        "sssp": _tuples(out["sssp"], ["id", "dist"]),
        "components": _tuples(out["components"], ["id", "component"]),
    }
    bad = [f"{k}: {len(v)} rows differ from the reference ({len(ref[k])} rows)"
           for k, v in got.items() if v != ref[k]]
    # k-means has no standalone reference; it must at least repeat itself
    if first is not None and out["centroids"] != first["centroids"]:
        bad.append("centroids changed between passes")
    return bad


# -------------------------------------------------------------------- stream


def stream_docs_survivors(con, docs_dir: str) -> list[tuple]:
    con.execute(f"CREATE OR REPLACE TEMP VIEW documents AS "
                f"SELECT * FROM {_pq(os.path.join(docs_dir, '*.parquet'))}")
    return _rows(con, get_oracles()["minhash_lsh_dedup_docs"])


def stream_windows(con, events_dir: str) -> list[tuple]:
    return _rows(con, f"""
    SELECT time_bucket(INTERVAL 1 MINUTE, ts) AS window_start, event_type,
           count(*) AS n_events,
           sum(round(value * 100)::BIGINT) AS cents
    FROM {_pq(os.path.join(events_dir, '*.parquet'))}
    GROUP BY ALL
    """)
