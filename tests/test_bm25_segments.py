"""Segmented / incremental BM25 index (operators/bm25.py): appending a
batch never rewrites old segments, yet scores are identical to a
monolithic rebuild over the union'd corpus."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qurio_spark.operators.bm25 import (
    build_index,
    build_segment,
    compact_segments,
    merge_segments,
    read_segments,
    score_query,
    write_segment,
)

QUERY = "hash join spark"


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _scores(df):
    return {r["doc_id"]: round(r["bm25"], 9) for r in df.collect()}


def test_segmented_matches_monolithic(spark, docs):
    """The core incremental-correctness claim: additive df/N/sumdl
    partials reproduce the full-rebuild scores exactly."""
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    merged = merge_segments([build_segment(base), build_segment(delta)])
    got = _scores(score_query(merged, QUERY))
    want = _scores(score_query(build_index(docs), QUERY))
    assert got == want
    assert len(got) > 0


def test_three_way_and_skewed_split(spark, docs):
    """Split shape must not matter — including an empty-ish tail
    segment (a tiny late batch)."""
    segs = [
        build_segment(docs.filter(F.col("doc_id") % 7 == i)) for i in (0, 3)
    ] + [build_segment(docs.filter((F.col("doc_id") % 7).isin([1, 2, 4, 5, 6])))]
    got = _scores(score_query(merge_segments(segs), QUERY))
    want = _scores(score_query(build_index(docs), QUERY))
    assert got == want


def test_persisted_segments_roundtrip_and_append(spark, docs, tmp_path):
    """Appending a segment writes ONLY its own directory; the merged
    read (term-bucket pruned, since persisted segments carry the
    partition column) scores like the monolithic rebuild."""
    path = str(tmp_path / "bm25_segs")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    write_segment(build_segment(base), path, "seg0")
    mtimes_before = {
        f: os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(f"{path}/seg0")
        for f in files
        if f.endswith(".parquet")
    }
    write_segment(build_segment(delta), path, "seg1")
    mtimes_after = {
        f: os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(f"{path}/seg0")
        for f in files
        if f.endswith(".parquet")
    }
    assert mtimes_after == mtimes_before  # old segment untouched

    merged = read_segments(spark, path, ["seg0", "seg1"])
    want = _scores(score_query(build_index(docs), QUERY))
    assert _scores(score_query(merged, QUERY)) == want


def test_compaction_preserves_scores(spark, docs, tmp_path):
    path = str(tmp_path / "bm25_compact")
    write_segment(build_segment(docs.filter(F.col("doc_id") % 2 == 0)), path, "a")
    write_segment(build_segment(docs.filter(F.col("doc_id") % 2 == 1)), path, "b")
    compact_segments(spark, path, ["a", "b"], "compacted")
    one = read_segments(spark, path, ["compacted"])
    want = _scores(score_query(build_index(docs), QUERY))
    assert _scores(score_query(one, QUERY)) == want


def test_compaction_heals_missing_blockmax_sidecar(spark, docs, tmp_path):
    """A legacy (pre-sidecar) input segment degrades LIVE merged
    queries to plain MaxScore, but compaction reads every posting
    anyway — it must REBUILD the Block-Max sidecar, not write a
    permanently unprunable segment."""
    import shutil

    path = str(tmp_path / "bm25_heal")
    write_segment(build_segment(docs.filter(F.col("doc_id") % 2 == 0)), path, "a")
    write_segment(build_segment(docs.filter(F.col("doc_id") % 2 == 1)), path, "b")
    shutil.rmtree(f"{path}/a/blockdf")  # simulate a pre-sidecar segment
    assert read_segments(spark, path, ["a", "b"]).blockdf is None
    compact_segments(spark, path, ["a", "b"], "compacted")
    healed = read_segments(spark, path, ["compacted"])
    assert healed.blockdf is not None
    # rebuilt bounds == a fresh build's bounds over the same corpus
    want = sorted(
        map(tuple, build_segment(docs).blockdf.collect())
    )
    got = sorted(
        map(tuple, healed.blockdf.drop("term_bucket").collect())
    )
    assert got == want
    # and the healed segment scores exactly like the monolithic build
    assert _scores(score_query(healed, QUERY)) == _scores(
        score_query(build_index(docs), QUERY)
    )


def test_pruned_scan_has_partition_filters(spark, docs, tmp_path):
    """Both the postings and termdf scans must carry term_bucket
    partition filters (the driver-side hash pruning)."""
    from tools.plan_audit import audit

    path = str(tmp_path / "bm25_prune")
    write_segment(build_segment(docs), path, "s")
    idx = read_segments(spark, path, ["s"])
    a = audit(score_query(idx, QUERY))
    assert a["partition_filters"] >= 2, a["plan"]


class TestMaxScore:
    """MaxScore/WAND pruning: LOSSLESS for top-k (identical top-k sets
    and exact scores vs the unpruned scorer) while scanning
    dramatically fewer postings into the scoring aggregate when a
    query mixes rare and stopword-class terms."""

    def _topk(self, df, k):
        rows = df.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k).collect()
        return [(r["doc_id"], round(r["bm25"], 9)) for r in rows]

    def test_monolithic_lossless_on_real_corpus(self, spark, docs):
        idx = build_index(docs)
        want = self._topk(score_query(idx, QUERY), 10)
        got = self._topk(score_query(idx, QUERY, topk=10), 10)
        assert got == want

    def test_segmented_lossless_on_real_corpus(self, spark, docs):
        base = docs.filter(F.col("doc_id") % 3 != 0)
        delta = docs.filter(F.col("doc_id") % 3 == 0)
        merged = merge_segments([build_segment(base), build_segment(delta)])
        want = self._topk(score_query(merged, QUERY), 10)
        got = self._topk(score_query(merged, QUERY, topk=10), 10)
        assert got == want

    @pytest.fixture()
    def adversarial(self, spark):
        """400 docs ALL containing the stopword 'the'; only 6 contain
        'zyzzyva'.  A top-5 'zyzzyva the' query is the WAND showcase:
        the stopword's postings dwarf the useful list."""
        rows = []
        for i in range(400):
            body = "the common filler words " + ("the " * (i % 5 + 1))
            if i % 67 == 0:
                body += " zyzzyva rarity"
            rows.append((i, body))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_adversarial_high_df_prunes_and_stays_exact(self, spark, adversarial):
        idx = build_index(adversarial)
        q = "zyzzyva the"
        want = self._topk(score_query(idx, q), 5)
        stats: dict = {}
        got = self._topk(score_query(idx, q, topk=5, prune_stats=stats), 5)
        assert got == want
        # the stopword must be classified non-essential and its
        # postings semi-join-filtered before the scoring aggregate
        assert "the" in stats["non_essential"]
        assert "zyzzyva" in stats["essential"]
        assert stats["postings_scored"] < stats["postings_matched"] / 5, stats

    def test_adversarial_segmented_prunes_and_stays_exact(self, spark, adversarial):
        segs = [
            build_segment(adversarial.filter(F.col("doc_id") % 2 == i))
            for i in (0, 1)
        ]
        merged = merge_segments(segs)
        q = "zyzzyva the"
        want = self._topk(score_query(merged, q), 5)
        stats: dict = {}
        got = self._topk(score_query(merged, q, topk=5, prune_stats=stats), 5)
        assert got == want
        assert "the" in stats["non_essential"]
        assert stats["postings_scored"] < stats["postings_matched"] / 5, stats

    def test_fewer_matches_than_topk_disables_pruning(self, spark, adversarial):
        """theta needs topk exact partials; with a rarer-than-k term
        the scorer must fall back to full scoring, not over-prune."""
        idx = build_index(adversarial)
        got = self._topk(score_query(idx, "zyzzyva the", topk=50), 50)
        want = self._topk(score_query(idx, "zyzzyva the"), 50)
        assert got == want

    def test_split_math(self):
        from qurio_spark.operators.bm25 import maxscore_split

        ess, ness = maxscore_split({"a": 5.0, "b": 0.5, "c": 0.3}, 1.0)
        assert set(ness) == {"b", "c"} and ess == ["a"]
        ess, ness = maxscore_split({"a": 5.0, "b": 0.5, "c": 0.6}, 1.0)
        assert set(ness) == {"b"} and set(ess) == {"a", "c"}
        # theta -inf (unknown kth score): nothing is prunable
        ess, ness = maxscore_split({"a": 1.0}, float("-inf"))
        assert ness == [] and ess == ["a"]


class TestBlockMax:
    """Block-Max refinement (Ding & Suel's BMW adapted to the batch
    shape): per-(term, doc-block) bounds let theta discard whole
    doc-blocks, pruning INSIDE long postings lists where the global
    per-term bound cannot — strictly fewer postings scored than plain
    MaxScore on a block-skewed corpus, still lossless for top-k."""

    def _topk(self, df, k):
        rows = df.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k).collect()
        return [(r["doc_id"], round(r["bm25"], 9)) for r in rows]

    @pytest.fixture()
    def block_skewed(self, spark):
        """'rare' appears in 10 docs: 2 HIGH-impact (tf=5, short) that
        share one doc-block, and 8 low-impact (tf=1, long) spread over
        OTHER blocks — chosen via doc_block_py so the block geometry is
        deterministic.  Every doc carries the stopword 'common'.  A
        top-2 'rare common' query's theta comes from the two strong
        docs, so every weak-only block is provably dead."""
        from qurio_spark.operators.bm25 import doc_block_py

        by_block: dict[int, list[int]] = {}
        for i in range(4000):
            by_block.setdefault(doc_block_py(i), []).append(i)
        blocks = sorted(by_block)
        strong_block = blocks[0]
        strong = by_block[strong_block][:2]
        weak = [by_block[b][0] for b in blocks[1:9]]
        filler = [by_block[b][1] for b in blocks[9:40]]
        rows = (
            [(i, "rare rare rare rare rare common") for i in strong]
            + [
                (i, "rare common " + " ".join(f"junk{i}x{j}" for j in range(10)))
                for i in weak
            ]
            + [(i, f"common filler{i}") for i in filler]
        )
        return (
            spark.createDataFrame(rows, "doc_id long, text string"),
            strong_block,
            set(strong),
        )

    def test_fewer_postings_scored_than_plain_maxscore(
        self, spark, block_skewed, monkeypatch
    ):
        import qurio_spark.operators.bm25 as bm25_mod
        from qurio_spark.operators.bm25 import term_block_max_impacts

        corpus, strong_block, strong_ids = block_skewed
        idx = build_index(corpus)
        # in-memory indexes skip Block-Max unless the sidecar is
        # attached (build_index leaves it None by design)
        idx.blockmax = term_block_max_impacts(idx)
        q = "rare common"
        want = self._topk(score_query(idx, q), 2)
        assert {d for d, _ in want} == strong_ids

        # plain MaxScore baseline: block pruning neutralized
        plain: dict = {}
        monkeypatch.setattr(bm25_mod, "_alive_blocks", lambda *a: None)
        got_plain = self._topk(score_query(idx, q, topk=2, prune_stats=plain), 2)
        monkeypatch.undo()
        assert got_plain == want

        bmw: dict = {}
        got = self._topk(score_query(idx, q, topk=2, prune_stats=bmw), 2)
        assert got == want  # lossless
        assert bmw["alive_blocks"] == [strong_block]
        assert bmw["postings_scored"] < plain["postings_scored"], (bmw, plain)

    def test_segmented_blockmax_additive_across_segments(
        self, spark, block_skewed, monkeypatch
    ):
        """The per-block (max_tf, min_dl) partials must merge across a
        segment split that separates the strong docs — pruning and
        scores identical to the unsplit run."""
        import qurio_spark.operators.bm25 as bm25_mod

        corpus, strong_block, strong_ids = block_skewed
        merged = merge_segments([
            build_segment(corpus.filter(F.col("doc_id") % 2 == 0)),
            build_segment(corpus.filter(F.col("doc_id") % 2 == 1)),
        ])
        q = "rare common"
        want = self._topk(score_query(merged, q), 2)

        plain: dict = {}
        monkeypatch.setattr(bm25_mod, "_alive_blocks", lambda *a: None)
        # and with no sidecar the bounds are never derived at all
        stripped = merge_segments([
            build_segment(corpus.filter(F.col("doc_id") % 2 == 0)),
            build_segment(corpus.filter(F.col("doc_id") % 2 == 1)),
        ])
        stripped.blockdf = None
        got_plain = self._topk(
            score_query(stripped, q, topk=2, prune_stats=plain), 2
        )
        monkeypatch.undo()
        assert got_plain == want
        assert plain["alive_blocks"] is None

        bmw: dict = {}
        got = self._topk(score_query(merged, q, topk=2, prune_stats=bmw), 2)
        assert got == want
        assert bmw["alive_blocks"] == [strong_block]
        assert bmw["postings_scored"] < plain["postings_scored"], (bmw, plain)

    def test_legacy_segment_without_blockdf_degrades_gracefully(
        self, spark, block_skewed
    ):
        """Merging one pre-sidecar segment poisons the additive bound,
        so the merge must drop to plain MaxScore — never a wrong UB."""
        corpus, _, _ = block_skewed
        old = build_segment(corpus.filter(F.col("doc_id") % 2 == 0))
        old.blockdf = None
        merged = merge_segments([
            old, build_segment(corpus.filter(F.col("doc_id") % 2 == 1)),
        ])
        assert merged.blockdf is None
        q = "rare common"
        stats: dict = {}
        got = self._topk(score_query(merged, q, topk=2, prune_stats=stats), 2)
        assert got == self._topk(score_query(merged, q), 2)
        assert stats["alive_blocks"] is None

    def test_persisted_index_roundtrips_blockmax(
        self, spark, block_skewed, tmp_path
    ):
        from qurio_spark.operators.bm25 import read_index, write_index

        corpus, strong_block, _ = block_skewed
        path = str(tmp_path / "bmw_idx")
        write_index(build_index(corpus), path)
        idx = read_index(spark, path)
        assert idx.blockmax is not None
        assert "doc_block" in idx.postings.columns
        q = "rare common"
        stats: dict = {}
        got = self._topk(score_query(idx, q, topk=2, prune_stats=stats), 2)
        assert got == self._topk(score_query(idx, q), 2)
        assert stats["alive_blocks"] == [strong_block]


class TestMaxScoreSliceCache:
    def test_slice_cache_attached_and_released(self, spark):
        """The top-k plan persists the query-term postings slice (its
        three consumers share no other subtree); the handle must ride
        the returned frame and release cleanly."""
        from qurio_spark.operators.cachectl import cached_frames, release_caches

        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma doc{i} alpha") for i in range(30)],
            "doc_id int, text string",
        )
        idx = build_index(docs)
        out = score_query(idx, "alpha doc1", topk=5)
        frames = cached_frames(out)
        assert len(frames) == 1  # exactly the filtered slice
        assert frames[0].storageLevel.useMemory  # actually persisted
        rows = {r["doc_id"]: r["bm25"] for r in out.collect()}
        assert rows  # scored something
        assert release_caches(out) == 1
        assert not frames[0].storageLevel.useMemory  # released
