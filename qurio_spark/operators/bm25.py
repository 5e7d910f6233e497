"""BM25 keyword scoring (half of operator Q2, hybrid search).

The reference delegates BM25 to Weaviate's inverted index
(internal/adapter/weaviate/store.go:105-236 builds the Hybrid query;
SURVEY §4 "Index structures").  Spark has no inverted index, so the
rebuild owns the semantics:

  score(d, q) = sum_{t in q}  idf(t) * tf(t,d)*(k1+1)
                              / (tf(t,d) + k1*(1 - b + b*dl(d)/avgdl))
  idf(t)      = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))   [Lucene form]
  k1 = 1.2, b = 0.75 (classic defaults, SURVEY §2 Q2)

Index layouts:
  - ``build_index`` -> :class:`BM25Index`, the monolithic index: a
    postings table (term, doc, tf, df, dl) with df and dl denormalized
    onto every row, plus a 1-row (n, avgdl) stats frame.
    ``write_index`` persists it partitioned by an md5 ``term_bucket``
    so a q-term query reads <= q of ``N_TERM_BUCKETS`` directories.
  - ``build_segment`` -> :class:`BM25SegmentedIndex`, the Lucene segment
    model: each ingest batch is an immutable segment with ADDITIVE
    per-term df and per-segment (n, sumdl) partials, so appending a
    batch never rewrites old postings.

One scorer, :func:`score_query`, serves both layouts.  It resolves the
query-term postings into one slice (id, term, tf, dl, df) plus a 1-row
(n, avgdl) stats frame and sums the per-posting impact (``_impact_expr``,
the only copy of the formula) per document.  Every variant is chosen by
its input, never by an option:
  - ``term_bucket`` is a column (a persisted layout) -> the driver
    hashes the query terms to bucket literals, so every scan is
    directory-pruned;
  - ``topk`` is given -> MaxScore (Turtle & Flood) prunes the postings
    that cannot reach the top-k, losslessly;
  - a bound sidecar exists (``blockmax`` on a persisted monolithic
    index, ``blockdf`` on segments) -> Block-Max (Ding & Suel) also
    discards whole doc-blocks under theta.
Per-query cost is O(sum df(t)), independent of corpus size.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from qurio_spark.functions.hashing import hash64, hash64_py
from qurio_spark.functions.text import tokenize

K1 = 1.2
B = 0.75

#: Hash-bucket count for the persisted postings layout.  Raw ``term``
#: as a partition key would mean |vocab| directories (millions of tiny
#: files at 100 TB); a 64-way md5 bucket keeps file counts sane while a
#: query touching q terms still prunes to <= q of 64 buckets.
N_TERM_BUCKETS = 64

#: Doc-block count for block-max pruning (Ding & Suel's Block-Max WAND
#: adapted to the batch shape): each term's postings are summarized per
#: doc-block, so theta can discard WHOLE blocks — pruning inside a long
#: postings list, where the global per-term bound cannot help.  Blocks
#: key on the engine-portable ``hash64(doc id)`` so the same block is
#: computable driver-side and across segments.
N_DOC_BLOCKS = 64


@dataclass
class BM25Index:
    """postings: (doc id cols..., term, tf, df, dl); doclen: (doc id,
    dl); stats: ONE-ROW frame (n, avgdl) kept lazy so building the index
    schedules no job — the scalars enter query plans via a broadcast
    cross join (scalar-subquery shape), not driver literals.

    ``blockmax``: (term, doc_block, block_max) — each term's maximum
    per-document BM25 contribution within each doc-block, the
    Block-Max bound sidecar; <= |vocab| x ``N_DOC_BLOCKS`` rows,
    materialized by ``write_index``."""

    postings: DataFrame
    doclen: DataFrame
    stats: DataFrame
    id_col: str
    blockmax: DataFrame | None = None

    @property
    def n_docs(self) -> int:
        return int(self.stats.collect()[0]["n"])


def tokenize_query(query: str) -> list[str]:
    """Driver-side tokenization of the query string — same contract as
    functions.text.tokenize (lowercase alnum runs)."""
    import re

    return [t for t in re.split(r"[^a-z0-9]+", query.lower()) if t]


def build_index(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> BM25Index:
    """Corpus -> BM25 index tables.  Build cost: three partial-agg
    shuffles (by (doc,term), by term, by doc) — paid once per corpus
    version.

    BOTH per-term df and per-doc dl are denormalized onto the postings
    rows (posting = term, doc, tf, df, dl — the classic inverted-index
    payload), precisely so query-time scoring is ONE pruned postings
    scan + one groupBy(doc): no stats join, no doclen join.

    ``blockmax`` deliberately stays None here: on an in-memory index a
    lazy blockmax would re-run the whole tokenize/join pipeline for one
    extra aggregation per query — costing more than the block pruning
    saves (measured ~2x on bm25_maxscore at sf0.1).  The sidecar is
    materialized once at write_index time; persisted indexes get
    Block-Max, throwaway in-memory ones get MaxScore."""
    toks = docs.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # document frequency (broadcast: |vocab| per-term rows are small
    # relative to postings)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    doclen = docs.select(
        F.col(id_col), F.size(tokenize(F.col(text_col))).alias("dl")
    )
    postings = tf.join(F.broadcast(df_), "term").join(doclen, id_col)
    stats = doclen.agg(
        F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    return BM25Index(postings, doclen, stats, id_col)


def _impact_expr() -> Column:
    """One posting's exact BM25 contribution — over columns (tf, dl,
    df, n, avgdl).  The only copy of the formula in the engine."""
    tf, dl = F.col("tf").cast("double"), F.col("dl").cast("double")
    df, n = F.col("df").cast("double"), F.col("n")
    idf = F.log(F.lit(1.0) + (n - df + 0.5) / (df + 0.5))
    return idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / F.col("avgdl")))


def doc_block(col: Column) -> Column:
    """Engine-portable doc -> block map (md5 ``hash64`` mod n, mirrored
    driver-side by :func:`doc_block_py` — the query planner needs the
    same block ids as literals)."""
    return F.pmod(hash64(col.cast("string")), F.lit(N_DOC_BLOCKS)).cast("int")


def doc_block_py(doc_id) -> int:
    return hash64_py(str(doc_id)) % N_DOC_BLOCKS


def _with_doc_block(postings: DataFrame, id_col: str) -> DataFrame:
    """Postings with a ``doc_block`` column — reuses the stored column
    on persisted indexes (where it is a sorted, stats-skippable scan
    predicate) and derives it on the fly for in-memory frames."""
    if "doc_block" in postings.columns:
        return postings
    return postings.withColumn("doc_block", doc_block(F.col(id_col)))


def term_block_max_impacts(index: BM25Index) -> DataFrame:
    """(term, doc_block, block_max): each term's maximum per-document
    BM25 contribution WITHIN each doc-block — the Block-Max WAND
    sidecar (Ding & Suel, SIGIR'11).  One partial-agg over postings,
    <= |vocab| x N_DOC_BLOCKS output rows; a query consults <= q x
    N_DOC_BLOCKS of them."""
    return (
        _with_doc_block(index.postings, index.id_col)
        .crossJoin(F.broadcast(index.stats))
        .select(F.col("term"), F.col("doc_block"), _impact_expr().alias("imp"))
        .groupBy("term", "doc_block")
        .agg(F.max("imp").alias("block_max"))
    )


def term_bucket(col: Column) -> Column:
    """Engine-portable term -> bucket map (md5-based ``hash64`` mod n,
    NOT Spark's murmur ``hash()``: the same bucket must be computable
    driver-side in ``term_bucket_py`` to build the pruning predicate)."""
    return F.pmod(hash64(col), F.lit(N_TERM_BUCKETS)).cast("int")


def term_bucket_py(term: str) -> int:
    return hash64_py(term) % N_TERM_BUCKETS


def filter_terms(frame: DataFrame, terms: list[str], columns: list[str]) -> DataFrame:
    """``frame``'s rows for the query ``terms``.  On a persisted layout
    (``term_bucket`` among ``columns``) the driver first hashes the
    terms to bucket literals, so the scan reads <= q of
    ``N_TERM_BUCKETS`` directories (directory-level partition pruning)
    before the pushed ``term IN`` row filter.  ``columns`` is passed in
    so callers read a frame's schema once."""
    if "term_bucket" in columns:
        buckets = sorted({term_bucket_py(t) for t in terms})
        frame = frame.filter(F.col("term_bucket").isin(buckets))
    return frame.filter(F.col("term").isin(terms))


def write_index(index: BM25Index, path: str) -> None:
    """Persist the index — the 'build once per corpus version' half of
    the scale design in the module doc.

    Layout: ``postings/`` parquet partitioned by ``term_bucket`` (query
    terms hash to buckets driver-side, so a q-term query reads <= q of
    ``N_TERM_BUCKETS`` directories — directory-level partition pruning,
    not just row-group skipping); ``doclen/`` and the 1-row ``stats/``
    alongside.  df/N/avgdl are frozen at write time, exactly the
    semantics of a Lucene-style segment snapshot."""
    # doc_block rides on the stored postings rows, sorted within each
    # term bucket, so a block-max ``doc_block IN (...)`` predicate
    # skips whole parquet row groups inside a hot term's list — the
    # on-disk analogue of BMW's block skipping
    (
        _with_doc_block(index.postings, index.id_col)
        .withColumn("term_bucket", term_bucket(F.col("term")))
        .repartition("term_bucket")
        .sortWithinPartitions("term", "doc_block")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(f"{path}/postings")
    )
    index.doclen.write.mode("overwrite").parquet(f"{path}/doclen")
    index.stats.write.mode("overwrite").parquet(f"{path}/stats")
    # per-(term, doc-block) bound sidecar — Block-Max refinement
    bm = (
        index.blockmax
        if index.blockmax is not None
        else term_block_max_impacts(index)
    )
    bm.withColumn("term_bucket", term_bucket(F.col("term"))).write.mode(
        "overwrite"
    ).partitionBy("term_bucket").parquet(f"{path}/blockmax")


def read_index(spark: SparkSession, path: str, id_col: str = "doc_id") -> BM25Index:
    """Open a persisted index; partition pruning on ``term_bucket``
    happens in ``score_query``'s filter.  Indexes persisted before the
    blockmax sidecar existed open with ``blockmax=None`` (plain
    MaxScore)."""
    import os as _os

    blockmax = None
    if _os.path.isdir(f"{path}/blockmax"):
        blockmax = spark.read.parquet(f"{path}/blockmax")
    return BM25Index(
        postings=spark.read.parquet(f"{path}/postings"),
        doclen=spark.read.parquet(f"{path}/doclen"),
        stats=spark.read.parquet(f"{path}/stats"),
        id_col=id_col,
        blockmax=blockmax,
    )


# -- incremental / segmented index maintenance ------------------------------
#
# The monolithic index above freezes df/N/avgdl at write time, so
# appending documents means a full rebuild — wrong at 100 TB where a
# daily delta is ~0.1% of the corpus.  The segmented layout is the
# Lucene segment model on parquet: each ingest batch becomes an
# immutable SEGMENT (postings WITHOUT denormalized df + a small
# per-term df sidecar + 1-row additive stats).  Global stats are
# ADDITIVE: df(t) = sum over segments, N = sum n, avgdl = sum dl / N —
# so a merge is a union plus two tiny aggregations at query time,
# never a rewrite of old postings.  Compaction (fold segments into
# one) is an offline maintenance job, same as plans/maintenance.py.


@dataclass
class BM25SegmentedIndex:
    """postings: (id, term, tf, dl) — segment-local df is deliberately
    NOT carried (it is meaningless after a merge); termdf: (term, df,
    max_tf, min_dl) additive partials (df sums, max_tf maxes, min_dl
    mins); stats: 1-row-per-segment (n, sumdl) additive partials;
    blockdf: (term, doc_block, max_tf, min_dl) — the same additive
    partials per doc-block, feeding Block-Max pruning (block ids hash
    on the doc id, so a doc keeps its block across segments and the
    per-block max/min partials merge exactly like termdf's).  A
    segment-local IMPACT would be meaningless after a merge (idf and
    avgdl are global), so bounds are derived at query time from these
    partials.  None on segments persisted before the sidecar existed
    (Block-Max then degrades to plain MaxScore)."""

    postings: DataFrame
    termdf: DataFrame
    stats: DataFrame
    id_col: str
    blockdf: DataFrame | None = None


def build_segment(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> BM25SegmentedIndex:
    """One ingest batch -> one immutable segment.  Cost is the batch's
    own two partial-agg shuffles; existing segments are not touched."""
    toks = docs.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    doclen = docs.select(
        F.col(id_col), F.size(tokenize(F.col(text_col))).alias("dl")
    )
    postings = tf.join(doclen, id_col)
    termdf = postings.groupBy("term").agg(
        F.count("*").alias("df"),
        F.max("tf").alias("max_tf"),
        F.min("dl").alias("min_dl"),
    )
    stats = doclen.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("dl").cast("double").alias("sumdl"),
    )
    blockdf = (
        _with_doc_block(postings, id_col)
        .groupBy("term", "doc_block")
        .agg(F.max("tf").alias("max_tf"), F.min("dl").alias("min_dl"))
    )
    return BM25SegmentedIndex(postings, termdf, stats, id_col, blockdf)


def merge_segments(segments: list[BM25SegmentedIndex]) -> BM25SegmentedIndex:
    """Union segments into one logical index — no shuffle, no rewrite;
    the additive stats are combined lazily at query time."""
    if not segments:
        raise ValueError("no segments")
    first = segments[0]
    postings = first.postings
    termdf = first.termdf
    stats = first.stats
    blockdf = first.blockdf
    for s in segments[1:]:
        postings = postings.unionByName(s.postings)
        termdf = termdf.unionByName(s.termdf)
        stats = stats.unionByName(s.stats)
        # one legacy segment without the sidecar poisons the merged
        # bound (a missing block row would UNDER-state the block UB) —
        # degrade the whole merge to plain MaxScore instead
        blockdf = (
            blockdf.unionByName(s.blockdf)
            if blockdf is not None and s.blockdf is not None
            else None
        )
    return BM25SegmentedIndex(postings, termdf, stats, first.id_col, blockdf)


def write_segment(seg: BM25SegmentedIndex, path: str, name: str) -> None:
    """Persist one segment under ``{path}/{name}/`` with the same
    term-bucket directory layout as ``write_index`` (query pruning
    composes per segment); appending a batch writes ONLY its own
    segment directory."""
    base = f"{path}/{name}"
    sidecars = {"postings": seg.postings, "termdf": seg.termdf}
    if seg.blockdf is not None:
        sidecars["blockdf"] = seg.blockdf
    for sub, frame in sidecars.items():
        frame.withColumn("term_bucket", term_bucket(F.col("term"))).write.mode(
            "overwrite"
        ).partitionBy("term_bucket").parquet(f"{base}/{sub}")
    seg.stats.write.mode("overwrite").parquet(f"{base}/stats")


def read_segments(
    spark: SparkSession, path: str, names: list[str], id_col: str = "doc_id"
) -> BM25SegmentedIndex:
    """Open persisted segments as one logical index."""
    import os as _os

    segs = [
        BM25SegmentedIndex(
            postings=spark.read.parquet(f"{path}/{n}/postings"),
            termdf=spark.read.parquet(f"{path}/{n}/termdf"),
            stats=spark.read.parquet(f"{path}/{n}/stats"),
            id_col=id_col,
            blockdf=(
                spark.read.parquet(f"{path}/{n}/blockdf")
                if _os.path.isdir(f"{path}/{n}/blockdf")
                else None
            ),
        )
        for n in names
    ]
    return merge_segments(segs)


def compact_segments(
    spark: SparkSession,
    path: str,
    names: list[str],
    out_name: str,
    id_col: str = "doc_id",
) -> None:
    """Offline maintenance: fold segments into one (re-aggregating the
    termdf partials; postings rows are immutable so the fold is a
    union + one termdf groupBy, NOT a corpus re-tokenization)."""
    merged = read_segments(spark, path, names, id_col)
    folded = BM25SegmentedIndex(
        postings=merged.postings.drop("term_bucket"),
        termdf=merged.termdf.drop("term_bucket")
        .groupBy("term")
        .agg(
            F.sum("df").alias("df"),
            F.max("max_tf").alias("max_tf"),
            F.min("min_dl").alias("min_dl"),
        ),
        stats=merged.stats.agg(
            F.sum("n").alias("n"), F.sum("sumdl").alias("sumdl")
        ),
        id_col=id_col,
        blockdf=(
            # a legacy input segment without the sidecar degrades live
            # queries to plain MaxScore (merge_segments), but compaction
            # is exactly the maintenance pass that should HEAL it: the
            # fold already reads every posting, so rebuild the bounds
            # the same way build_segment derives them
            _with_doc_block(merged.postings.drop("term_bucket"), id_col)
            .groupBy("term", "doc_block")
            .agg(F.max("tf").alias("max_tf"), F.min("dl").alias("min_dl"))
            if merged.blockdf is None
            else merged.blockdf.drop("term_bucket")
            .groupBy("term", "doc_block")
            .agg(F.max("max_tf").alias("max_tf"), F.min("min_dl").alias("min_dl"))
        ),
    )
    write_segment(folded, path, out_name)


# -- scoring ------------------------------------------------------------------


def _query_slice(
    index: BM25Index | BM25SegmentedIndex, terms: list[str]
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """-> (slice, stats, term_df): the query terms' postings as (id,
    term, tf, dl, df) rows, the 1-row (n, avgdl) frame, and — for a
    segmented index — the query terms' global (term, df).

    Monolithic: df and usually dl ride on the postings rows; the doclen
    join is the fallback for externally supplied postings without dl.
    Segmented: df(t) is summed over the segments' termdf partials (<= q
    x n_segments rows, broadcast back) and (n, avgdl) from the
    per-segment (n, sumdl) rows — identical scores to a monolithic
    build over the union'd corpus."""
    columns = index.postings.columns
    postings = filter_terms(index.postings, terms, columns)
    if isinstance(index, BM25SegmentedIndex):
        term_df = (
            filter_terms(index.termdf, terms, index.termdf.columns)
            .groupBy("term")
            .agg(F.sum("df").cast("double").alias("df"))
        )
        stats = index.stats.agg(
            F.sum("n").alias("n"), (F.sum("sumdl") / F.sum("n")).alias("avgdl")
        )
        return postings.join(F.broadcast(term_df), "term"), stats, term_df
    if "dl" not in columns:
        postings = postings.join(index.doclen, index.id_col)
    return postings, index.stats, None


def _sum_impacts(slice_: DataFrame, stats: DataFrame, id_col: str) -> DataFrame:
    """The exact body: 1-row stats attached by broadcast cross join,
    per-posting impact, one partial-aggregated groupBy(doc) — the only
    shuffle."""
    return (
        slice_.crossJoin(F.broadcast(stats))
        .withColumn("s", _impact_expr())
        .groupBy(id_col)
        .agg(F.sum("s").alias("bm25"))
    )


def score_query(
    index: BM25Index | BM25SegmentedIndex,
    query: str,
    topk: int | None = None,
    prune_stats: dict | None = None,
) -> DataFrame:
    """-> (id_col, bm25) for documents matching >= 1 query term, over a
    monolithic or a segmented index.

    Without ``topk`` every matched posting is scored.  With ``topk``
    the result holds at least every document of the true top-``topk``
    with EXACT scores (possibly plus lower-scored candidates — harmless
    to the caller's TakeOrdered); see :func:`_maxscore`.

    ``prune_stats`` (tests/diagnostics, ``topk`` only): filled with
    theta, the term split, the alive doc-blocks and matched-vs-scored
    posting counts (costs extra count jobs — leave None in
    production)."""
    terms = list(dict.fromkeys(tokenize_query(query)))
    if not terms:
        # empty query -> no keyword evidence
        return index.postings.select(index.id_col, F.lit(0.0).alias("bm25")).limit(0)
    flt, stats, term_df = _query_slice(index, terms)
    if topk is None:
        return _sum_impacts(flt, stats, index.id_col)
    return _maxscore(index, terms, flt, stats, term_df, topk, prune_stats)


# -- MaxScore / WAND top-k pruning -------------------------------------------
#
# Exhaustive scoring aggregates EVERY matched posting; for a query
# mixing one rare term with a stopword-class term (df ~ N) that is O(N)
# scoring work for a top-k answer the rare list almost determines.
# MaxScore (Turtle & Flood; the max-impact half of WAND) makes the
# hot-term work proportional to the CANDIDATES instead:
#
#   1. per-term upper bound UB(t) = max per-doc contribution;
#   2. a LOWER bound theta on the k-th best final score: the k-th best
#      exact partial impact on the highest-UB term's own postings (a
#      partial score is <= the doc's full score, so theta <= true kth);
#   3. term split: the largest low-UB prefix with sum(UB) < theta is
#      NON-ESSENTIAL — a doc containing only those terms provably
#      scores < theta and can never enter the top-k;
#   4. candidates = docs on the ESSENTIAL lists; hot non-essential
#      postings are semi-join-filtered to candidates BEFORE the
#      scoring aggregate.
#
# LOSSLESS for top-k: every returned score is exact and every doc with
# score >= theta survives — pinned against the unpruned scorer in
# tests/test_bm25_segments.py.  At 100 TB the win is the shape change:
# the groupBy(doc) shuffle carries O(sum df(essential) * q) rows, not
# O(df(stopword)).


def maxscore_split(
    ubs: dict[str, float], theta: float
) -> tuple[list[str], list[str]]:
    """(essential, non_essential): the largest ascending-UB prefix
    whose UB sum stays strictly under ``theta`` is non-essential."""
    order = sorted(ubs, key=lambda t: (ubs[t], t))
    non_essential: list[str] = []
    acc = 0.0
    for t in order:
        if acc + ubs[t] < theta:
            non_essential.append(t)
            acc += ubs[t]
        else:
            break
    ness = set(non_essential)
    return [t for t in ubs if t not in ness], non_essential


def _block_bounds(
    index: BM25Index | BM25SegmentedIndex,
    terms: list[str],
    term_df: DataFrame | None,
    stats: DataFrame,
) -> DataFrame | None:
    """(term, doc_block, block_max) for the query terms, or None when
    the index has no bound sidecar.  A monolithic index carries the
    frame (``write_index`` materializes it).  A segmented index derives
    it lazily from the additive ``blockdf`` partials: the impact at the
    cross-segment (max max_tf, min min_dl) pair under the query's
    global df and stats — tfnorm is increasing in tf and decreasing in
    dl, so that pair dominates every real posting in the block and the
    bound stays correct across any merge without touching old
    segments."""
    if isinstance(index, BM25Index):
        return index.blockmax
    if index.blockdf is None:
        return None
    return (
        filter_terms(index.blockdf, terms, index.blockdf.columns)
        .groupBy("term", "doc_block")
        .agg(F.max("max_tf").alias("tf"), F.min("min_dl").alias("dl"))
        .join(F.broadcast(term_df), "term")
        .crossJoin(F.broadcast(stats))
        .select("term", "doc_block", _impact_expr().alias("block_max"))
    )


def _alive_blocks(
    blockmax: DataFrame, terms: list[str], theta: float
) -> list[int] | None:
    """Doc-blocks that could still hold a top-k document: block B
    survives iff sum over query terms of block_max(t, B) >= theta (a
    doc's full score is bounded by its block's per-term maxima, so a
    failing block provably holds no doc scoring >= theta).  Driver-side
    cost is <= N_DOC_BLOCKS aggregated rows.  Returns None when every
    block survives (callers then skip the redundant filter)."""
    rows = (
        blockmax.filter(F.col("term").isin(terms))
        .groupBy("doc_block")
        .agg(F.sum("block_max").alias("ub"))
        .collect()
    )
    alive = sorted(int(r["doc_block"]) for r in rows if float(r["ub"]) >= theta)
    return None if len(alive) == len(rows) else alive


def _maxscore(
    index: BM25Index | BM25SegmentedIndex,
    terms: list[str],
    flt: DataFrame,
    stats: DataFrame,
    term_df: DataFrame | None,
    topk: int,
    prune_stats: dict | None,
) -> DataFrame:
    """The top-k plan over a query slice (both index kinds).  Driver
    work is bounded by the query length: <= q x topk impact values."""
    from pyspark.sql.window import Window

    from qurio_spark.operators.cachectl import attach_caches

    # The query-term postings SLICE is persisted once (r15): bounded by
    # the query's summed document frequencies — the per-query working
    # set, NOT the corpus — and consumed three times below (bounds
    # collect, essential branch, matched branch).  Without the cache
    # each consumer re-ran the whole tokenize/tf/df/doclen pipeline of
    # an in-memory index (3 full corpus passes per query); persisting
    # the FULL exploded postings instead was measured slower (2.76 vs
    # 2.06 s at sf0.1) because the corpus-sized cache build cost more
    # than the recompute it saved.  The bounds collect doubles as the
    # cache materialization; the handle rides the returned frame for
    # cachectl.release_caches.
    flt = flt.persist()

    # ONE bounded driver round trip for the bounds AND theta: the
    # per-term top-``topk`` exact impacts of the slice — rank <= topk
    # per term (WindowGroupLimit keeps it a partial top-k, never a full
    # per-term sort), <= q x topk rows collected.  Each term's rank-1
    # impact IS its exact max impact, and the topk-th impact of the
    # highest-bound term is theta.
    w = Window.partitionBy("term").orderBy(F.desc("imp"))
    top_rows = (
        flt.crossJoin(F.broadcast(stats))
        .select("term", _impact_expr().alias("imp"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= topk)
        .collect()
    )
    if not top_rows:  # no query term occurs in the corpus
        flt.unpersist()
        return index.postings.select(index.id_col, F.lit(0.0).alias("bm25")).limit(0)
    ubs: dict[str, float] = {}
    term_imps: dict[str, list[float]] = {}
    for r in top_rows:
        t, imp = r["term"], float(r["imp"])
        term_imps.setdefault(t, []).append(imp)
        if t not in ubs or imp > ubs[t]:
            ubs[t] = imp
    # theta from the highest-UB (typically rarest) term's own postings
    t_star = max(ubs, key=lambda t: (ubs[t], t))
    star_imps = sorted(term_imps[t_star], reverse=True)
    theta = star_imps[topk - 1] if len(star_imps) >= topk else float("-inf")
    essential, non_essential = maxscore_split(ubs, theta)

    # with no non-essential term, full scoring straight off the cached
    # slice — the same rows and expression as exhaustive scoring, with
    # the corpus pipeline not re-run
    matched, alive = flt, None
    if non_essential:
        # Block-Max refinement: discard whole doc-blocks whose summed
        # per-term block maxima cannot reach theta — this prunes INSIDE
        # the essential lists too (where the global split cannot), and
        # on persisted indexes the doc_block IN predicate skips row
        # groups.  Engaged only when a bound sidecar exists: computing
        # it from in-memory postings would re-scan the corpus pipeline
        # and cost more than the pruning saves.
        bounds = _block_bounds(index, terms, term_df, stats)
        if bounds is not None:
            alive = _alive_blocks(bounds, terms, theta)
        ess = flt.filter(F.col("term").isin(essential))
        if alive is not None:
            ess = _with_doc_block(ess, index.id_col).filter(
                F.col("doc_block").isin(alive)
            )
            matched = _with_doc_block(matched, index.id_col).filter(
                F.col("doc_block").isin(alive)
            )
        # candidates are SMALL by construction — they come from the
        # essential (high-impact, therefore rare) lists.  Broadcast
        # makes the hot-postings filter a map-side semi join instead of
        # shuffling the hot list.
        cand = ess.select(index.id_col).distinct()
        matched = matched.join(F.broadcast(cand), index.id_col, "left_semi")
    if prune_stats is not None:
        prune_stats.update(
            theta=theta,
            essential=essential,
            non_essential=non_essential,
            alive_blocks=alive,
            postings_matched=flt.count(),
            postings_scored=matched.count(),
        )
    return attach_caches(_sum_impacts(matched, stats, index.id_col), [flt])
