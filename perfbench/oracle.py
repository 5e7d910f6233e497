"""Correctness gates.  Each returns a list of problems (empty = pass);
every problem counts as one failed operation in ``failed_frac``.

- search replies against a DuckDB hybrid oracle (BM25 + cosine,
  min-max fused; the ``_hybrid_sql`` pattern of ``queries/oracles.py``)
  over the chunk files of the snapshot version the server read;
- ``qurio_read_page`` text against the chunk rows of that version
  stitched directly from its parquet files;
- ingested chunks against ``chunk_markdown`` per document, with each
  embedding recomputed by an independent hashing-TF embedder.

The oracles reimplement the contracts from their definitions and use
no engine code beyond the public ``chunk_markdown``.
"""

from __future__ import annotations

import hashlib
import math
import re

import duckdb

TOKEN_RE = re.compile(r"[^a-z0-9]+")
K1, B = 1.2, 0.75
EMBED_DIM = 64
DEFAULT_LIMIT = 10
#: fused scores closer than this are a tie the engines may order either way
TIE_EPS = 2e-6
_CODE_TYPES = ("code", "config", "cmd", "api")
_RESULT_RE = re.compile(r"^Result (\d+) \(Score: (-?[0-9.]+)\):\n", re.MULTILINE)
_TRAILER = '\nUse qurio_read_page(url="...") to read the full content of any result.\n'
_TOKS_SQL = "list_filter(regexp_split_to_array(lower(content), '[^a-z0-9]+'), x -> x <> '')"


def embed(text: str, dim: int = EMBED_DIM) -> list[float]:
    """Hashing-TF embedding: md5 bucket per lowercase alnum token, L2
    normalised (the engine's documented default embedder contract)."""
    v = [0.0] * dim
    for tok in TOKEN_RE.split((text or "").lower()):
        if tok:
            v[int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % dim] += 1.0
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v] if n > 0 else v


class ChunkStore:
    """DuckDB view of snapshot versions: version -> its chunk files."""

    def __init__(self):
        self.db = duckdb.connect()
        self._loaded: set[int] = set()
        self._pages: dict[int, dict[str, list[tuple]]] = {}

    def load(self, version: int, files: list[str]) -> None:
        if version in self._loaded:
            return
        t = f"v{version}"
        flist = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        self.db.execute(f"""
            CREATE TABLE {t} AS
            SELECT url || '#' || CAST(chunk_index AS VARCHAR) AS chunk_id, *
            FROM read_parquet([{flist}])""")
        self.db.execute(f"""
            CREATE TABLE {t}_tf AS
            SELECT chunk_id, source_id, term, count(*)::DOUBLE AS tf
            FROM (SELECT chunk_id, source_id, unnest({_TOKS_SQL}) AS term FROM {t})
            GROUP BY ALL""")
        self.db.execute(f"""
            CREATE TABLE {t}_dl AS
            SELECT chunk_id, source_id, len({_TOKS_SQL})::DOUBLE AS dl FROM {t}""")
        self._loaded.add(version)

    def rows(self, version: int, cols: str = "*") -> list[tuple]:
        return self.db.execute(f"SELECT {cols} FROM v{version}").fetchall()

    # -- search ---------------------------------------------------------

    def hybrid_topk(self, version: int, query: str, alpha: float,
                    source_id: str | None, k: int) -> list[dict]:
        """Oracle ranking: BM25 over the (filtered) candidate set, cosine
        against the hashing-TF query vector, each min-max normalised,
        fused ``alpha*vec + (1-alpha)*bm25``; ordered by the 6-digit
        rounded score desc, then chunk id."""
        t = f"v{version}"
        terms = sorted({x for x in TOKEN_RE.split(query.lower()) if x})
        where = "WHERE source_id = $src" if source_id else ""
        sql = f"""
WITH base AS (SELECT * FROM {t} {where}),
dl AS (SELECT chunk_id, dl FROM {t}_dl {where}),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT chunk_id, term, tf FROM {t}_tf
  WHERE list_contains($terms, term) {"AND source_id = $src" if source_id else ""}
),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
bm25_raw AS (
  SELECT tf.chunk_id,
         sum(ln(1 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS bm25
  FROM tf JOIN dfreq USING (term) JOIN dl USING (chunk_id) CROSS JOIN stats s
  GROUP BY 1
),
scored AS (
  SELECT b.*, coalesce(r.bm25, 0.0) AS bm25,
         CASE WHEN nb > 0 AND nq > 0 THEN d / (nb * nq) ELSE 0.0 END AS cos
  FROM (SELECT *,
          list_dot_product(embedding::DOUBLE[], $qv) AS d,
          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nb,
          sqrt(list_dot_product($qv, $qv)) AS nq
        FROM base) b
  LEFT JOIN bm25_raw r USING (chunk_id)
),
mm AS (SELECT min(bm25) AS bmn, max(bm25) AS bmx, min(cos) AS cmn, max(cos) AS cmx FROM scored),
fused AS (
  SELECT s.*,
    $alpha * (CASE WHEN cmx > cmn THEN (cos - cmn) / (cmx - cmn) ELSE 0.0 END)
    + (1 - $alpha) * (CASE WHEN bmx > bmn THEN (bm25 - bmn) / (bmx - bmn) ELSE 0.0 END)
    AS score
  FROM scored s CROSS JOIN mm
)
SELECT chunk_id, url, content, title, source_name, type, language, source_id, score
FROM fused
ORDER BY floor(score * 1000000.0 + 0.5) / 1000000.0 DESC, chunk_id
LIMIT {k}"""
        params = {"terms": terms, "qv": embed(query), "alpha": float(alpha)}
        if source_id:
            params["src"] = source_id
        cur = self.db.execute(sql, params)
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]

    # -- pages ------------------------------------------------------------

    def page_text(self, version: int, url: str) -> str:
        """``qurio_read_page`` contract: the page's chunks in
        chunk_index order (at most 1000), code-like chunks introduced by
        a ``--- Code (lang) ---`` header, joined by blank lines."""
        pages = self._pages.get(version)
        if pages is None:
            pages = {}
            for u, idx, content, typ, lang in self.db.execute(
                f"SELECT url, chunk_index, content, type, language FROM v{version}"
            ).fetchall():
                pages.setdefault(u, []).append((idx, content, typ, lang))
            for rows in pages.values():
                rows.sort(key=lambda r: r[0])
            self._pages[version] = pages
        parts = []
        for _, content, typ, lang in pages.get(url, [])[:1000]:
            if typ in _CODE_TYPES:
                parts.append(f"--- Code ({lang or typ}) ---\n{content}")
            else:
                parts.append(content)
        return "\n\n".join(parts)


def render_block(row: dict) -> str:
    """One result block of the ``qurio_search`` reply, minus its
    ``Result i (Score: s)`` header line."""
    out = ""
    for label, key in (("Title", "title"), ("Source", "source_name"), ("URL", "url"),
                       ("Type", "type"), ("Language", "language"),
                       ("SourceID", "source_id")):
        if row.get(key):
            out += f"{label}: {row[key]}\n"
    return out + f"Content:\n```\n{row['content']}\n```\n\n---\n"


def check_search(text: str | None, expected: list[dict], k: int) -> list[str]:
    """The reply must list min(k, candidates) results; each result
    must be the oracle's row at that rank (or a row tied with it within
    TIE_EPS) and print that row's score to two decimals."""
    if text is None:
        return ["no reply text"]
    if not expected:
        return [] if text == "No results found." else ["expected no results"]
    heads = list(_RESULT_RE.finditer(text))
    want = min(k, len(expected))
    if len(heads) != want:
        return [f"{len(heads)} results, expected {want}"]
    if not text.endswith(_TRAILER):
        return ["missing read_page trailer"]
    used: set[int] = set()
    problems = []
    for i, h in enumerate(heads):
        end = heads[i + 1].start() if i + 1 < len(heads) else len(text) - len(_TRAILER)
        body, printed = text[h.end():end], float(h.group(2))
        ref = expected[i]["score"]
        match = next(
            (j for j, row in enumerate(expected)
             if j not in used and abs(row["score"] - ref) <= TIE_EPS
             and render_block(row) == body
             and abs(printed - row["score"]) <= 0.005 + 1e-9),
            None,
        )
        if match is None:
            problems.append(f"rank {i + 1} differs from oracle")
        else:
            used.add(match)
    return problems


def check_chunks(rows: list[tuple], pages: list[dict], chunk_fn) -> list[str]:
    """``rows``: (url, chunk_index, content, type, language, title,
    source_name, embedding) of an ingested table.  Must equal
    ``chunk_fn`` (the pure chunker) applied per page, each embedding
    the hashing-TF of the contextual string the pipeline documents."""
    want = {}
    for p in pages:
        for i, c in enumerate(chunk_fn(p["content"])):
            want[(p["url"], i)] = (c.content, c.type, c.language, p)
    got = {(r[0], r[1]): r for r in rows}
    problems = []
    if set(got) != set(want):
        problems.append(
            f"chunk keys differ: {len(set(got) - set(want))} extra, "
            f"{len(set(want) - set(got))} missing"
        )
    for key in sorted(set(got) & set(want)):
        content, typ, lang, p = want[key]
        r = got[key]
        if (r[2], r[3], r[4]) != (content, typ, lang):
            problems.append(f"chunk {key} content/type differs")
            continue
        ctx = (f"Documentation: {p['source_id']}\nTitle: {p['title']}\n"
               f"Section: {p['path']}\n---\n{content}")
        if max(abs(a - b) for a, b in zip(r[7], embed(ctx))) > 1e-6:
            problems.append(f"chunk {key} embedding differs")
    return problems[:20]
