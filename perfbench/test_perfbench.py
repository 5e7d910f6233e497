"""Self-tests of the benchmark: input determinism, the tail rule, busy
time over overlapping jobs, and that every correctness gate rejects a
planted wrong answer.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import curation  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
from spans import self_ms, union_ms  # noqa: E402


# -- generator ---------------------------------------------------------------


def _dump(x) -> bytes:
    return json.dumps(x, sort_keys=True).encode()


def test_generator_is_byte_deterministic_per_seed():
    pages = gen.corpus(5, 60)
    assert _dump(pages) == _dump(gen.corpus(5, 60))
    assert _dump(pages) != _dump(gen.corpus(6, 60))
    b1 = gen.recrawl(5, pages, 1, 20)
    assert _dump(b1) == _dump(gen.recrawl(5, pages, 1, 20))
    for repeat in (True, False):
        q = gen.query_stream(5, 4, 30, repeat)
        assert _dump(q) == _dump(gen.query_stream(5, 4, 30, repeat))
    assert _dump(gen.curation(5, pages)) == _dump(gen.curation(5, pages))
    assert _dump(gen.curation(5, pages)) != _dump(gen.curation(6, pages))


def test_generator_properties():
    pages = gen.corpus(3, 200)
    assert len(pages) == 200 and len({p["url"] for p in pages}) == 200
    sizes = sorted(sum(p["source_id"] == f"src{s}" for p in pages)
                   for s in range(gen.N_SOURCES))
    assert sizes[0] >= 1 and sizes[-1] >= 4 * sizes[0]  # skewed sources
    token = gen.planted_token(3, 0)
    assert sum(token in p["content"] for p in pages) == 1

    batch = gen.recrawl(3, pages, 1, 40)
    old = {p["url"]: p["content"] for p in pages}
    same = sum(old.get(p["url"]) == p["content"] for p in batch)
    new = sum(p["url"] not in old for p in batch)
    assert (same, len(batch) - same - new, new) == (20, 16, 4)
    assert sum(gen.planted_token(3, 1) in p["content"] for p in batch) == 1
    assert len(gen.apply_recrawl(pages, batch)) == 204

    rep = [q for c in zip(*gen.query_stream(3, 4, 50, True)) for q in c]
    assert 0.4 <= gen.repeat_share(rep) <= 0.5
    fresh = [q for c in zip(*gen.query_stream(3, 2, 50, False)) for q in c]
    assert gen.repeat_share(fresh) == 0.0
    corpus_words = {w for p in pages for w in p["content"].split()}
    for q in fresh:
        assert set(q["query"].split()) <= corpus_words
    share = sum("source_id" in q for q in fresh) / len(fresh)
    assert abs(share - 1 / 3) < 0.02
    assert {q["alpha"] for q in fresh} == set(gen.ALPHAS)

    docs, vecs = gen.curation(3, pages)
    assert len(docs) == len(vecs) == 240
    assert [d["doc_id"] for d in docs] == [v["vec_id"] for v in vecs] == list(range(240))
    by_text = {}
    for d in docs:
        by_text.setdefault(d["text"], []).append(d["doc_id"])
    copies = [ids for ids in by_text.values() if len(ids) > 1]
    assert len(copies) == 20 and all(len(ids) == 2 for ids in copies)
    for a, b in copies:  # an exact copy keeps its original's vector
        assert vecs[a]["embedding"] == vecs[b]["embedding"]
    assert len(by_text) == 220  # so the other 20 added documents are near copies


# -- statistics ----------------------------------------------------------------


def test_tail_has_exactly_ten_samples_beyond():
    xs = random.Random(1).sample(range(10_000), 100)
    v, pct = stats.tail(xs)
    assert sum(x > v for x in xs) == 10 and pct == 90.0
    xs = list(range(37))
    v, pct = stats.tail(xs)
    assert sum(x > v for x in xs) == 10
    assert pct == pytest.approx(100 * 27 / 37)


def test_tail_falls_back_to_median_when_short():
    xs = [5.0, 1.0, 3.0, 4.0]
    assert stats.tail(xs) == (3.5, 50.0)
    xs = list(range(20))
    assert stats.tail(xs) == (stats.median(xs), 50.0)
    assert stats.tail([]) == (0.0, 0.0)


def test_busy_time_is_an_interval_union():
    jobs = [(0.0, 10.0), (5.0, 15.0), (20.0, 25.0), (21.0, 22.0)]
    assert union_ms(jobs) == 20.0  # a plain sum would say 31
    assert union_ms([(0.0, 1.0), (1.0, 2.0)]) == 2.0
    assert union_ms([]) == 0.0
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 100.0},
        {"id": 2, "parent": 1, "start": 10.0, "end": 50.0},
        {"id": 3, "parent": 1, "start": 40.0, "end": 60.0},  # overlaps 2
        {"id": 4, "parent": 2, "start": 20.0, "end": 30.0},
    ]
    s = self_ms(spans)
    assert s == {1: 50.0, 2: 30.0, 3: 20.0, 4: 10.0}


# -- correctness gates -------------------------------------------------------


def _chunk_rows(pages):
    from qurio_spark.operators.chunker import chunk_markdown

    rows = []
    for p in pages:
        for i, c in enumerate(chunk_markdown(p["content"])):
            ctx = (f"Documentation: {p['source_id']}\nTitle: {p['title']}\n"
                   f"Section: {p['path']}\n---\n{c.content}")
            rows.append({
                "source_id": p["source_id"], "source_name": p["source_id"],
                "url": p["url"], "chunk_index": i, "content": c.content,
                "type": c.type, "language": c.language, "title": p["title"],
                "embedding": [float(x) for x in oracle.embed(ctx)],
            })
    return rows


@pytest.fixture(scope="module")
def store(tmp_path_factory):
    pages = gen.corpus(9, 40)
    rows = _chunk_rows(pages)
    path = str(tmp_path_factory.mktemp("chunks") / "part-0.parquet")
    schema = pa.schema([
        ("source_id", pa.string()), ("source_name", pa.string()),
        ("url", pa.string()), ("chunk_index", pa.int32()),
        ("content", pa.string()), ("type", pa.string()),
        ("language", pa.string()), ("title", pa.string()),
        ("embedding", pa.list_(pa.float32())),
    ])
    pq.write_table(pa.Table.from_pylist(rows, schema), path)
    s = oracle.ChunkStore()
    s.load(0, [path])
    return s, pages, rows


def _reply(rows: list[dict]) -> str:
    return "".join(
        f"Result {i + 1} (Score: {r['score']:.2f}):\n" + oracle.render_block(r)
        for i, r in enumerate(rows)
    ) + '\nUse qurio_read_page(url="...") to read the full content of any result.\n'


def test_search_gate_rejects_wrong_replies(store):
    s, pages, _ = store
    want = s.hybrid_topk(0, "spark index token", 0.5, None, 20)
    assert len(want) == 20
    k = oracle.DEFAULT_LIMIT
    assert oracle.check_search(_reply(want[:k]), want, k) == []
    swapped = [want[1], want[0]] + want[2:k]
    if abs(want[0]["score"] - want[1]["score"]) > oracle.TIE_EPS:
        assert oracle.check_search(_reply(swapped), want, k)
    assert oracle.check_search(_reply(want[:k - 1]), want, k)
    off = [dict(want[0], score=want[0]["score"] + 0.05)] + want[1:k]
    assert oracle.check_search(_reply(off), want, k)
    wrong = [dict(want[0], content=want[0]["content"] + "!")] + want[1:k]
    assert oracle.check_search(_reply(wrong), want, k)
    assert oracle.check_search(None, want, k)
    # a source filter changes the candidate set, so the unfiltered
    # answer must not pass for the filtered request
    src = pages[-1]["source_id"]
    filt = s.hybrid_topk(0, "spark index token", 0.5, src, 20)
    assert all(r["source_id"] == src for r in filt)
    assert oracle.check_search(_reply(want[:k]), filt, k)


def test_search_oracle_ranks_planted_token_first(store):
    s, pages, _ = store
    token = gen.planted_token(9, 0)
    top = s.hybrid_topk(0, token, 0.5, None, 3)[0]
    assert token in top["content"]


def test_page_gate_stitches_in_chunk_order(store):
    s, pages, rows = store
    url = next(r["url"] for r in rows if r["type"] != "prose")
    mine = sorted((r for r in rows if r["url"] == url), key=lambda r: r["chunk_index"])
    parts = [f"--- Code ({r['language'] or r['type']}) ---\n{r['content']}"
             if r["type"] != "prose" else r["content"] for r in mine]
    assert s.page_text(0, url) == "\n\n".join(parts)
    # planted wrong answers: chunks out of order, or another page
    assert len(parts) > 1
    assert s.page_text(0, url) != "\n\n".join(parts[1:] + parts[:1])
    assert s.page_text(0, url) != s.page_text(0, pages[1]["url"])
    assert s.page_text(0, "https://docs.example/none") == ""


def test_chunk_gate_rejects_wrong_chunks(store):
    from qurio_spark.operators.chunker import chunk_markdown

    _, pages, rows = store
    cols = ("url", "chunk_index", "content", "type", "language", "title",
            "source_name", "embedding")
    good = [tuple(r[c] for c in cols) for r in rows]
    assert oracle.check_chunks(good, pages, chunk_markdown) == []
    assert oracle.check_chunks(good[1:], pages, chunk_markdown)
    bad = list(good)
    bad[0] = bad[0][:2] + (bad[0][2] + " x",) + bad[0][3:]
    assert oracle.check_chunks(bad, pages, chunk_markdown)
    bad = list(good)
    emb = list(bad[0][7])
    emb[0] += 0.01
    bad[0] = bad[0][:7] + (emb,)
    assert oracle.check_chunks(bad, pages, chunk_markdown)


@pytest.fixture(scope="module")
def curation_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("curation"))
    props = curation.write_inputs(4, gen.corpus(4, 60), d)
    return d, props


def test_curation_oracle_gate_rejects_wrong_rows(curation_dir):
    import duckdb

    import __spark_entry__ as entry
    from qurio_spark.oracle import compare

    d, props = curation_dir
    assert props["docs"] == 72 and props["exact_dup_share"] == pytest.approx(6 / 72)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    cur = con.execute(entry.oracle_sql()["exact_dedup"])
    cols, rows = [c[0] for c in cur.description], cur.fetchall()
    assert len(rows) == 66  # 72 documents, 6 exact copies
    assert compare(cols, rows, cols, rows) == []
    assert compare(cols, rows[1:], cols, rows)
    assert compare(cols, [(r[0] + 1,) for r in rows], cols, rows)


def test_semantic_dedup_gate_rejects_too_many_survivors(curation_dir):
    _, props = curation_dir
    sha = "0" * 64
    assert curation.check_semantic_dedup([(60, sha)], props) == []
    assert curation.check_semantic_dedup([(72, sha)], props)  # copies kept
    assert curation.check_semantic_dedup([(0, sha)], props)
    assert curation.check_semantic_dedup([(60, None)], props)
    assert curation.check_semantic_dedup([], props)
