"""Seeded input generator for the serving/ingest benchmark.

Everything the program receives is built here from ``--seed`` and
nothing else, so one seed always yields byte-identical inputs
(``test_perfbench.py`` pins that):

- ``corpus``: markdown pages across 8 sources of skewed size, with
  headings, prose, fenced code, tables and noise lines the chunker
  must drop; one page carries a token planted for the
  batch→searchable check;
- ``query_stream``: per-client agent queries — half of them repeat
  an earlier query, picked Zipf-skewed, or none ever repeats;
- ``recrawl``: re-crawl micro-batches of the corpus with a stated mix
  of byte-identical, changed and new pages, each with a planted token;
- ``curation``: ``documents`` and ``embeddings`` rows built from the
  corpus, with planted exact and near duplicates, for the curation
  queries of the traced run.
"""

from __future__ import annotations

import random

N_SOURCES = 8
ALPHAS = (0.3, 0.5, 0.7)
#: re-crawl mix: byte-identical / changed / new pages per micro-batch
RECRAWL_MIX = (0.5, 0.4, 0.1)
#: planted duplicates in the curation corpus: exact / near copies, as
#: shares of the original documents
DUP_SHARES = (0.1, 0.1)
EMBED_DIM = 64

_TOPICS = (
    "spark index query vector hash chunk embed search page table join "
    "stream merge agent token score shuffle partition snapshot manifest "
    "ledger crawl source schema parquet arrow driver executor stage task "
    "cache filter rerank alpha fusion cosine postings bloom window commit"
).split()
_CODE_LANGS = ("python", "bash", "json", "yaml", "go", "sql")
_NOISE = (
    "[edit](https://example.com/edit)",
    "## Contents\n- [Intro](#intro)\n- [Usage](#usage)\n",
    "© 2024 Example Corp. All rights reserved.",
)


def _vocab(rng: random.Random, n: int = 1500) -> list[str]:
    """Topic words first (frequent under the Zipf draw), then seeded
    pseudo-words, so queries hit both common and rare terms."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = list(_TOPICS)
    seen = set(words)
    while len(words) < n:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(4, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


class _Words:
    """Zipf word draws from ``rng`` over the seed's vocabulary, which
    the corpus, the re-crawls and the queries share, so query terms
    occur in the pages."""

    def __init__(self, rng: random.Random, seed: int):
        self.rng = rng
        self.vocab = _vocab(random.Random(f"vocab:{seed}"))
        self.cum = _cumulative(_zipf_weights(len(self.vocab), 1.05))

    def draw(self, k: int) -> list[str]:
        return self.rng.choices(self.vocab, cum_weights=self.cum, k=k)


def _cumulative(weights: list[float]) -> list[float]:
    out, acc = [], 0.0
    for w in weights:
        acc += w
        out.append(acc)
    return out


def _page_body(words: _Words, title: str, extra: str = "") -> str:
    rng = words.rng
    parts = [f"# {title}"]
    if rng.random() < 0.3:
        parts.append(rng.choice(_NOISE))
    for s in range(rng.randint(2, 4)):
        parts.append(f"## {' '.join(words.draw(2)).title()} {s}")
        for _ in range(rng.randint(1, 3)):
            parts.append(" ".join(words.draw(rng.randint(25, 70))) + ".")
        r = rng.random()
        if r < 0.35:
            lang = rng.choice(_CODE_LANGS)
            lines = [
                f"{w}_{i} = {rng.randint(0, 999)}  # {' '.join(words.draw(3))}"
                for i, w in enumerate(words.draw(rng.randint(3, 10)))
            ]
            parts.append(f"```{lang}\n" + "\n".join(lines) + "\n```")
        elif r < 0.5:
            cols = words.draw(3)
            rows = [" | ".join(words.draw(3)) for _ in range(rng.randint(2, 5))]
            parts.append(
                "| " + " | ".join(cols) + " |\n|---|---|---|\n"
                + "\n".join(f"| {r} |" for r in rows)
            )
    if extra:
        parts.append(extra)
    return "\n\n".join(parts) + "\n"


def _source_sizes(rng: random.Random, n_pages: int) -> list[int]:
    """Skewed page counts per source (Zipf s=1, every source >= 1)."""
    w = _zipf_weights(N_SOURCES, 1.0)
    rng.shuffle(w)
    tot = sum(w)
    sizes = [max(1, int(n_pages * x / tot)) for x in w]
    sizes[sizes.index(max(sizes))] += n_pages - sum(sizes)
    return sizes


def planted_token(seed: int, batch: int) -> str:
    """A token no generated text contains (pseudo-words are letters
    only), unique per (seed, batch)."""
    return f"plant{seed}x{batch}q"


def page_row(source_id: str, url: str, title: str, body: str) -> dict:
    """One DOCUMENTS_RAW-shaped crawl result."""
    return {
        "source_id": source_id,
        "url": url,
        "title": title,
        "path": f"{source_id} > {title}",
        "content": body,
        "links": [],
        "depth": 0,
        "status": "success",
        "error": None,
        "metadata": {
            "author": "qurio",
            "created_at": "2024-01-01",
            "pages": 0,
            "language": "en",
        },
    }


def corpus(seed: int, n_pages: int) -> list[dict]:
    """Static corpus; page 0 of the largest source carries the
    batch-0 planted token."""
    rng = random.Random(f"corpus:{seed}")
    words = _Words(rng, seed)
    sizes = _source_sizes(rng, n_pages)
    big = sizes.index(max(sizes))
    rows = []
    for s, size in enumerate(sizes):
        for p in range(size):
            title = f"{' '.join(words.draw(2)).title()} {s}-{p}"
            extra = (
                f"Release note token {planted_token(seed, 0)}."
                if (s == big and p == 0) else ""
            )
            rows.append(page_row(
                f"src{s}", f"https://docs.example/{s}/p{p}", title,
                _page_body(words, title, extra),
            ))
    return rows


def recrawl(seed: int, pages: list[dict], batch: int, size: int) -> list[dict]:
    """Micro-batch ``batch`` (1-based) of re-crawled pages against the
    current page set ``pages``: RECRAWL_MIX of byte-identical, changed
    and new pages; one changed page carries the batch's planted
    token.  Pure in (seed, pages, batch, size)."""
    rng = random.Random(f"recrawl:{seed}:{batch}")
    words = _Words(rng, seed)
    n_same = int(size * RECRAWL_MIX[0])
    n_new = max(1, int(size * RECRAWL_MIX[2]))
    n_changed = size - n_same - n_new
    picked = rng.sample(range(len(pages)), n_same + n_changed)
    out = [dict(pages[i]) for i in picked[:n_same]]
    for j, i in enumerate(picked[n_same:]):
        old = pages[i]
        extra = (
            f"Release note token {planted_token(seed, batch)}." if j == 0 else ""
        )
        out.append(page_row(
            old["source_id"], old["url"], old["title"],
            _page_body(words, old["title"], extra),
        ))
    for j in range(n_new):
        s = rng.randrange(N_SOURCES)
        title = f"{' '.join(words.draw(2)).title()} b{batch}-{j}"
        out.append(page_row(
            f"src{s}", f"https://docs.example/{s}/b{batch}n{j}", title,
            _page_body(words, title),
        ))
    return out


def apply_recrawl(pages: list[dict], batch: list[dict]) -> list[dict]:
    """The page set after ``batch`` commits (url-keyed upsert), in a
    stable order."""
    by_url = {p["url"]: p for p in pages}
    for p in batch:
        by_url[p["url"]] = p
    return sorted(by_url.values(), key=lambda p: p["url"])


def query_stream(
    seed: int, n_clients: int, per_client: int, repeat: bool,
    stream: str = "agents",
) -> list[list[dict]]:
    """Per-client agent query lists, dealt round-robin from one
    sequence.  Fresh queries are stratified so every run sees the same
    mix: every third carries a ``source_id`` filter and alpha cycles
    through ALPHAS.  ``repeat=True`` makes every client's every second
    query repeat an earlier fresh one, picked Zipf-skewed (early
    queries are hot);
    ``repeat=False`` never repeats a query anywhere in the run.
    ``stream`` names an independent sequence (the warm-up round uses
    its own)."""
    rng = random.Random(f"queries:{seed}:{repeat}:{stream}")
    words = _Words(rng, seed)
    flat: list[dict] = []
    fresh: list[dict] = []
    seen: set[tuple] = set()
    while len(flat) < n_clients * per_client:
        if repeat and (len(flat) // n_clients) % 2 == 1:
            cum = _cumulative(_zipf_weights(len(fresh), 1.1))
            flat.append(dict(rng.choices(fresh, cum_weights=cum)[0]))
            continue
        m = len(fresh)
        q = {"query": " ".join(words.draw(rng.randint(2, 3))),
             "alpha": ALPHAS[(m // 3) % len(ALPHAS)]}
        if m % 3 == 2:
            q["source_id"] = f"src{rng.randrange(N_SOURCES)}"
        key = (q["query"], q["alpha"], q.get("source_id"))
        if key in seen:
            continue
        seen.add(key)
        fresh.append(q)
        flat.append(dict(q))
    return [flat[c::n_clients] for c in range(n_clients)]


def curation(seed: int, pages: list[dict]) -> tuple[list[dict], list[dict]]:
    """-> (``documents`` rows, ``embeddings`` rows) in the schema of the
    engine's query tables: one document per page, then planted exact
    copies (same text and vector, new id) and near copies (about one
    word in twenty replaced; vector plus small noise), each about
    DUP_SHARES of the originals.  Vectors are seeded Gaussians, so
    unrelated documents are near-orthogonal and the near-dup graph
    stays sparse; the label is the source's number."""
    rng = random.Random(f"curation:{seed}")
    docs: list[dict] = []
    vecs: list[dict] = []

    def add(text: str, source: str, vec: list[float]) -> None:
        i = len(docs)
        docs.append({"doc_id": i, "text": text, "lang": "en", "source": source,
                     "n_chars": len(text)})
        vecs.append({"vec_id": i, "embedding": vec, "label": int(source[3:])})

    for p in pages:
        add(p["content"], p["source_id"],
            [rng.gauss(0.0, 1.0) for _ in range(EMBED_DIM)])
    n_exact, n_near = (int(len(pages) * x) for x in DUP_SHARES)
    picked = rng.sample(range(len(pages)), n_exact + n_near)
    for i in picked[:n_exact]:
        add(docs[i]["text"], docs[i]["source"], list(vecs[i]["embedding"]))
    for i in picked[n_exact:]:
        words = docs[i]["text"].split(" ")
        for _ in range(max(1, len(words) // 20)):
            words[rng.randrange(len(words))] = rng.choice(_TOPICS)
        add(" ".join(words), docs[i]["source"],
            [x + rng.gauss(0.0, 0.2) for x in vecs[i]["embedding"]])
    return docs, vecs


def repeat_share(queries: list[dict]) -> float:
    """Share of queries whose (text, alpha, source) was already sent
    earlier in the list."""
    seen, rep = set(), 0
    for q in queries:
        key = (q["query"], q["alpha"], q.get("source_id"))
        rep += key in seen
        seen.add(key)
    return rep / len(queries) if queries else 0.0
