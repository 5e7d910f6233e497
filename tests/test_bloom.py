"""operators/bloom.py: exact-result parity with the plain join at
several densities, false-positive-rate sanity, membership soundness
(no false negatives, by construction), and the codegen-only probe."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qurio_spark.operators.bloom import (
    bloom_build,
    bloom_might_contain,
    bloom_semi_join,
)


@pytest.mark.parametrize("step,how", [(97, "left_semi"), (7, "left_semi"), (97, "inner")])
def test_result_parity_with_plain_join(spark, step, how):
    probe = spark.range(0, 5000).withColumnRenamed("id", "k")
    build = spark.range(0, 5000, step).withColumnRenamed("id", "k")
    got = sorted(tuple(r) for r in bloom_semi_join(probe, build, "k", how=how).collect())
    want = sorted(tuple(r) for r in probe.join(build, "k", how).collect())
    assert got == want


def test_outer_join_how_rejected(spark):
    """A bloom pre-filter drops unmatched probe rows; outer joins must
    keep them — the guard refuses instead of silently corrupting."""
    probe = spark.range(10).withColumnRenamed("id", "k")
    build = spark.range(5).withColumnRenamed("id", "k")
    for how in ("left", "left_outer", "full", "right"):
        with pytest.raises(ValueError, match="semi/inner"):
            bloom_semi_join(probe, build, "k", how=how)


def test_zero_hashes_rejected(spark):
    """k_hashes=0 would AND zero bit tests: the SQL form parsed an
    empty ``()`` and the Column form accepted every key.  Both forms
    must refuse it."""
    for key in ("k", F.col("k")):
        with pytest.raises(ValueError, match="k_hashes"):
            bloom_might_contain(key, [0], m_bits=64, k_hashes=0)


def test_large_bitmap_routes_through_arrow_stage(spark, monkeypatch):
    """Past BLOOM_LITERAL_MAX_WORDS the pre-filter must not inline the
    bitmap as a codegen literal (py4j-per-word build cost + task-binary
    bloat): the Arrow membership stage takes over — positions still
    JVM-hashed — with results identical to the plain join."""
    import qurio_spark.operators.bloom as bmod
    from tools.plan_audit import audit

    probe = spark.range(0, 4000).withColumnRenamed("id", "k")
    build = spark.range(0, 4000, 61).withColumnRenamed("id", "k")
    want = sorted(r["k"] for r in probe.join(build, "k", "left_semi").collect())
    monkeypatch.setattr(bmod, "BLOOM_LITERAL_MAX_WORDS", 8)
    out = bloom_semi_join(probe, build, "k", m_bits=1 << 12)  # 64 words
    assert sorted(r["k"] for r in out.collect()) == want
    assert audit(out)["python_stages"] >= 1  # the Arrow path, not a literal
    # and the expression-level API refuses oversized bitmaps outright
    with pytest.raises(ValueError, match="literal ceiling"):
        bloom_might_contain("k", [0] * 9, m_bits=1 << 12)


def test_bitmap_with_sign_bit_word_parity(spark):
    """A build whose bitmap sets bit 63 of a word (negative long) must
    probe identically through the literal and Arrow paths."""
    from qurio_spark.operators.bloom import bloom_filter_rows

    probe = spark.range(0, 2000).withColumnRenamed("id", "k")
    build = spark.range(0, 2000, 13).withColumnRenamed("id", "k")
    m_bits, k_hashes = 1 << 10, 5
    bitmap = bloom_build(build.select("k"), "k", m_bits, k_hashes)
    assert any(w < 0 for w in bitmap)  # the sign-bit case is real
    lit = probe.filter(bloom_might_contain("k", bitmap, m_bits, k_hashes))
    arrow = bloom_filter_rows(probe, "k", bitmap, m_bits, k_hashes)
    assert sorted(r["k"] for r in lit.collect()) == sorted(
        r["k"] for r in arrow.collect()
    )


def test_no_false_negatives_and_fp_rate(spark):
    """Every build key must pass its own filter (soundness — the join
    result depends on it); the false-positive rate on non-members must
    be near the theoretical (1 - e^{-kn/m})^k ~ 0.2% for n=100,
    m=8192, k=5."""
    build = spark.range(0, 10000, 100).withColumnRenamed("id", "k")  # n=100
    bm = bloom_build(build, "k")
    members = build.filter(bloom_might_contain("k", bm)).count()
    assert members == build.count()  # zero false negatives

    non_members = spark.range(0, 10000).withColumnRenamed("id", "k").filter(
        (F.col("k") % 100) != 0
    )
    fp = non_members.filter(bloom_might_contain("k", bm)).count()
    assert fp / non_members.count() < 0.01  # theory ~0.002


def test_probe_filter_is_pure_codegen(spark):
    """The membership test compiles to whole-stage codegen — no join,
    no shuffle, no Python stage in the pre-filter."""
    from tools.plan_audit import audit

    build = spark.range(0, 1000, 50).withColumnRenamed("id", "k")
    bm = bloom_build(build, "k")
    probe = spark.range(0, 1000).withColumnRenamed("id", "k")
    a = audit(probe.filter(bloom_might_contain("k", bm)))
    assert a["shuffles"] == 0, a["plan"]
    assert a["python_stages"] == 0, a["plan"]
    assert a["smj"] == a["bhj"] == a["bnlj"] == 0, a["plan"]
    assert a["codegen_spans"] >= 1, a["plan"]


def test_build_is_distributed_and_deterministic(spark):
    """Same keys -> bit-identical bitmap regardless of partitioning
    (bit_or is order-insensitive), and the bitmap is the compact
    ceil(m/64)-word shape."""
    keys = spark.range(0, 500, 3).withColumnRenamed("id", "k")
    a = bloom_build(keys, "k", m_bits=1 << 10, k_hashes=4)
    b = bloom_build(keys.repartition(7), "k", m_bits=1 << 10, k_hashes=4)
    assert a == b
    assert len(a) == (1 << 10) // 64


def test_string_keys(spark):
    probe = spark.createDataFrame(
        [(f"url-{i}",) for i in range(300)], "k string"
    )
    build = spark.createDataFrame(
        [(f"url-{i}",) for i in range(0, 300, 30)], "k string"
    )
    got = sorted(r["k"] for r in bloom_semi_join(probe, build, "k").collect())
    want = sorted(r["k"] for r in probe.join(build, "k", "left_semi").collect())
    assert got == want
