"""Curation pass of the traced run: the dedup/similarity/graph/curate
family of the engine's queries over a ``documents`` + ``embeddings``
directory built from the run's own corpus (``gen.curation``: one
document per page plus planted exact and near duplicates).

Each query runs once inside its own span, so its Spark jobs carry the
span's job group; the span covers building the plan and collecting
the result to the driver.  Every result is checked: against the
query's DuckDB twin in the engine's ``oracle_sql()`` where one exists
(compared with the engine's own row-normalising rules), otherwise
against the invariant its tests pin.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen

QUERIES = ("exact_dedup", "minhash_lsh", "near_dup_clusters", "canonical_docs",
           "semantic_dedup", "curate")

_DOCS = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())])
_VECS = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())])


def write_inputs(seed: int, pages: list[dict], d: str) -> dict:
    """Write the query tables under ``d``; -> their measured properties."""
    docs, vecs = gen.curation(seed, pages)
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs, _DOCS), os.path.join(d, "documents.parquet"))
    pq.write_table(pa.Table.from_pylist(vecs, _VECS), os.path.join(d, "embeddings.parquet"))
    n = len(docs)
    exact = n - len({x["text"] for x in docs})
    return {"docs": n, "originals": len(pages),
            "text_bytes": sum(len(x["text"].encode()) for x in docs),
            "exact_dup_share": exact / n,
            "near_dup_share": (n - len(pages) - exact) / n}


def check_semantic_dedup(rows: list[tuple], props: dict) -> list[str]:
    """An exact copy has its original's vector, so the two fall in one
    cluster at cosine 1 and at most one of them survives."""
    if len(rows) != 1:
        return [f"{len(rows)} rows, expected 1"]
    n, sha = rows[0]
    most = props["docs"] - round(props["exact_dup_share"] * props["docs"])
    problems = []
    if not 1 <= n <= most:
        problems.append(f"{n} survivors, expected 1..{most}")
    if not (isinstance(sha, str) and len(sha) == 64):
        problems.append(f"survivor hash {sha!r}")
    return problems


def run(spark, tracer, d: str, props: dict, op) -> dict:
    """Run each query once in span ``dedup.<query>`` and check it;
    ``op(problems, what)`` counts the check.  -> query -> rows."""
    import __spark_entry__ as entry
    from qurio_spark.operators.cachectl import release_caches
    from qurio_spark.oracle import compare

    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    rows_of = {}
    for name in QUERIES:
        df = None
        try:
            with tracer.span(f"dedup.{name}"):
                df = queries[name](spark, d)
                cols, rows = df.columns, df.collect()
        except Exception as e:  # a failed query is a failed check
            op([f"spark error: {e}"], f"curation {name}")
            continue
        finally:
            if df is not None:
                release_caches(df)
        if name in oracles:
            cur = con.execute(oracles[name])
            problems = compare(cols, rows, [c[0] for c in cur.description], cur.fetchall())
        else:
            problems = check_semantic_dedup([tuple(r) for r in rows], props)
        op(problems, f"curation {name}")
        rows_of[name] = len(rows)
    con.close()
    return rows_of
