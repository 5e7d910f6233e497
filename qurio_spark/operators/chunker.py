"""Structural markdown chunker (operators T1-T4, filters F9-F10).

Semantics ported from the reference's pure-Go chunker
(``internal/text/chunker.go``):

  - ``clean_markdown_noise``  <- CleanMarkdownNoise (chunker.go:27-38)
  - ``is_noise_chunk``        <- IsNoiseChunk       (chunker.go:43-97)
  - ``chunk_markdown``        <- ChunkMarkdown      (chunker.go:113-188)
  - ``_chunk_prose``          <- chunkProse         (chunker.go:191-300)
  - ``_chunk_code``           <- chunkCode          (chunker.go:303-340)
  - ``_detect_chunk_type``    <- detectChunkType    (chunker.go:342-352)

Behavioral notes preserved on purpose (goldens depend on them):
  - tokens are estimated as ``len(content) // 4`` (chunker.go:154,197).
  - the ``overlap`` parameter is threaded through but NEVER used by the
    reference (chunker.go:191 takes it and ignores it) — chunks do not
    overlap.  We keep the parameter for signature parity.
  - code chunks produced by the line-splitter keep the accumulated
    trailing newline, so their content ends ``...\\n\\n``` `` — matches
    chunkCode's WriteString sequence (chunker.go:326-336).
  - fence info strings are matched as ``[a-zA-Z0-9_]+`` only; a fence
    like ```` ```c++ ```` is treated as language ``c`` only if the regex
    matches — it does not, so the whole fence falls through to prose,
    exactly as in Go.

Spark integration: ``chunk_documents`` runs ``chunk_markdown`` inside a
``mapInPandas`` iterator — Arrow-batched, one Python call per batch, no
per-row pickling.  The function is pure and per-row, so it parallelizes
embarrassingly — no shuffle; at 100 TB the chunk stage is a map-only
stage whose output is written partitioned by ``source_id``.  The
row-at-a-time ``chunk_udf`` survives only as the equivalence baseline.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import functions as F
from pyspark.sql import types as T

from qurio_spark.schemas import CHUNK_RESULT

PROSE = "prose"
CODE = "code"
API = "api"
CONFIG = "config"
CMD = "cmd"

#: chunker.go call site result_consumer.go:151 — maxTokens=512, overlap=50.
DEFAULT_MAX_TOKENS = 512
DEFAULT_OVERLAP = 50

_CHARS_PER_TOKEN = 4

# ASCII whitespace, matching Go's [[:space:]] / \s (Go regex is ASCII-only
# for these classes; Python's \s would also match unicode spaces).
_WS = r"[ \t\n\r\f\v]"

_FENCE_RE = re.compile(
    r"```([a-zA-Z0-9_]+)?" + _WS + r"*\n(.*?)\n" + _WS + r"*```", re.DOTALL
)
_EDIT_LINK_RE = re.compile(r"^\[edit[^\]]*\]\([^\)]+\)[ \t\r\f\v]*$", re.IGNORECASE | re.MULTILINE)
_TOC_RE = re.compile(
    r"^#{1,3}[ \t\r\f\v]*(?:table of )?contents?[ \t\r\f\v]*\n(?:[ \t\r\f\v]*[-*][ \t\r\f\v]*\[.*?\]\(#.*?\)[ \t\r\f\v]*\n)*",
    re.IGNORECASE | re.MULTILINE,
)
_INSTALL_RE = re.compile(
    r"^\s*(npm|pnpm|yarn|pip|cargo|brew|apt|go)\s+(install|add|get|i)\b",
    re.IGNORECASE,
)
_LINK_LINE_RE = re.compile(r"^\s*[-*]?\s*\[.*?\]\(.*?\)\s*$")
_HEADER_RE = re.compile(r"^#{1,6}[ \t\n\r\f\v]", re.MULTILINE)

_CONFIG_LANGS = {"yaml", "json", "toml"}
_CMD_LANGS = {"bash", "sh", "shell"}
_API_LANGS = {"http", "graphql", "openapi", "swagger"}


class ChunkResult(NamedTuple):
    content: str
    type: str
    language: str


def clean_markdown_noise(text: str) -> str:
    """Strip 'Edit this page' links and auto-TOC sections (chunker.go:27-38)."""
    text = _EDIT_LINK_RE.sub("", text)
    text = _TOC_RE.sub("", text)
    return text


def is_noise_chunk(content: str) -> bool:
    """Conservative low-value-chunk heuristics (chunker.go:43-97)."""
    trimmed = content.strip()
    if not trimmed:
        return True

    # Ultra-short labels ("Overview") — no code, few words, single line.
    words = trimmed.split()
    if len(trimmed) < 30 and len(words) <= 3 and "```" not in trimmed and "\n" not in trimmed:
        return True

    lines = trimmed.split("\n")
    non_empty = [l for l in lines if l.strip()]

    # 1-3 lines of pure install commands.
    if 0 < len(non_empty) <= 3 and all(_INSTALL_RE.search(l) for l in non_empty):
        return True

    # Pure navigation link lists (>70% of lines are markdown links).
    if len(non_empty) > 2:
        link_count = sum(1 for l in non_empty if _LINK_LINE_RE.match(l))
        if link_count / len(non_empty) > 0.7:
            return True

    # Short copyright/legal boilerplate.
    lower = trimmed.lower()
    if (
        "©" in lower
        or "all rights reserved" in lower
        or "terms of service" in lower
        or "privacy policy" in lower
    ) and len(trimmed) < 200:
        return True

    return False


def _detect_chunk_type(content: str) -> str:
    """Prose-vs-API heuristic (chunker.go:342-352)."""
    lower = content.lower()
    if "swagger" in lower or "openapi" in lower:
        return API
    if "endpoint" in lower and "method" in lower and ("url" in lower or "http" in lower):
        return API
    return PROSE


def _fence_type(lang: str) -> str:
    if lang in _CONFIG_LANGS:
        return CONFIG
    if lang in _CMD_LANGS:
        return CMD
    if lang in _API_LANGS:
        return API
    return CODE


def _chunk_prose(text: str, max_tokens: int, overlap: int) -> list[ChunkResult]:
    """Header -> paragraph -> line -> word cascade (chunker.go:191-300)."""
    if not text:
        return []
    max_chars = max_tokens * _CHARS_PER_TOKEN

    # 1. Split by headers (levels 1-6); each header starts a new section.
    sections: list[str] = []
    last = 0
    for m in _HEADER_RE.finditer(text):
        if m.start() > last:
            sections.append(text[last : m.start()])
        last = m.start()
    if last < len(text):
        sections.append(text[last:])

    chunks: list[ChunkResult] = []
    for section in sections:
        section = section.strip()
        if not section:
            continue
        if len(section) <= max_chars:
            chunks.append(ChunkResult(section, _detect_chunk_type(section), ""))
            continue

        # 2. Split by paragraphs, greedy re-pack.
        cur: list[str] = []
        cur_len = 0

        def flush() -> None:
            nonlocal cur, cur_len
            if cur_len > 0:
                s = "".join(cur)
                chunks.append(ChunkResult(s, _detect_chunk_type(s), ""))
                cur = []
                cur_len = 0

        def write(s: str) -> None:
            nonlocal cur_len
            cur.append(s)
            cur_len += len(s)

        for para in section.split("\n\n"):
            para = para.strip()
            if not para:
                continue
            if cur_len + len(para) + 2 <= max_chars:
                if cur_len > 0:
                    write("\n\n")
                write(para)
            else:
                flush()
                if len(para) > max_chars:
                    # 3. Split by lines.
                    for line in para.split("\n"):
                        if cur_len + len(line) + 1 <= max_chars:
                            if cur_len > 0:
                                write("\n")
                            write(line)
                        else:
                            flush()
                            if len(line) > max_chars:
                                # 4. Split by words (fallback).
                                for word in line.split():
                                    if cur_len + len(word) + 1 <= max_chars:
                                        if cur_len > 0:
                                            write(" ")
                                        write(word)
                                    else:
                                        flush()
                                        write(word)
                            else:
                                write(line)
                else:
                    write(para)
        flush()
    return chunks


def _chunk_code(content: str, lang: str, ctype: str, max_tokens: int) -> list[ChunkResult]:
    """Split an oversize code block by lines (chunker.go:303-340)."""
    max_chars = max_tokens * _CHARS_PER_TOKEN
    chunks: list[ChunkResult] = []
    cur: list[str] = []
    cur_len = 0
    for line in content.split("\n"):
        line_len = len(line) + 1
        if cur_len + line_len > max_chars and cur_len > 0:
            chunks.append(ChunkResult("```" + lang + "\n" + "".join(cur) + "\n```", ctype, lang))
            cur = []
            cur_len = 0
        cur.append(line + "\n")
        cur_len += line_len
    if cur_len > 0:
        chunks.append(ChunkResult("```" + lang + "\n" + "".join(cur) + "\n```", ctype, lang))
    return chunks


def chunk_markdown(
    text: str,
    max_tokens: int = DEFAULT_MAX_TOKENS,
    overlap: int = DEFAULT_OVERLAP,
) -> list[ChunkResult]:
    """Split markdown into typed chunks, preserving code fences
    (chunker.go:113-188).  ``overlap`` is accepted for signature parity
    but, as in the reference, unused.
    """
    text = clean_markdown_noise(text)
    results: list[ChunkResult] = []
    last = 0
    for m in _FENCE_RE.finditer(text):
        if m.start() > last:
            prose = text[last : m.start()].strip()
            if prose:
                results.extend(_chunk_prose(prose, max_tokens, overlap))
        lang = m.group(1) or ""
        content = m.group(2)
        ctype = _fence_type(lang)
        if len(content) // _CHARS_PER_TOKEN > max_tokens:
            results.extend(_chunk_code(content, lang, ctype, max_tokens))
        else:
            results.append(ChunkResult("```" + lang + "\n" + content + "\n```", ctype, lang))
        last = m.end()
    if last < len(text):
        prose = text[last:].strip()
        if prose:
            results.extend(_chunk_prose(prose, max_tokens, overlap))
    return [c for c in results if not is_noise_chunk(c.content)]


# -- Spark integration -------------------------------------------------------


@F.udf(returnType=T.ArrayType(CHUNK_RESULT))
def chunk_udf(text):
    """array<struct<content,type,language>> over a markdown column.

    Row-at-a-time legacy path — kept only as the equivalence baseline for
    the Arrow-batched default (tests assert identical output); prefer
    ``chunk_documents``.
    """
    if text is None:
        return []
    return [tuple(c) for c in chunk_markdown(text)]


def chunk_documents(
    df,
    content_col: str = "content",
    keep_cols: list[str] | None = None,
    impl: str = "arrow",
):
    """documents_raw -> exploded chunk rows with ``chunk_index``.

    Map-only: no shuffle.  The default ``impl='arrow'`` runs
    ``chunk_markdown`` inside a ``mapInPandas`` iterator — one Python
    invocation per Arrow batch instead of per row, so the hot ingest
    stage pays columnar (de)serialization, not per-row pickling.  The
    per-document chunk ordinal is the reference's ``chunkIndex``
    (result_consumer.go:149-192).

    ``impl='udf'`` is the row-at-a-time baseline used by the
    equivalence test.
    """
    keep = keep_cols if keep_cols is not None else [c for c in df.columns if c != content_col]
    if impl == "udf":
        return (
            df.withColumn("_chunks", chunk_udf(F.col(content_col)))
            .select(*keep, F.posexplode("_chunks").alias("chunk_index", "_c"))
            .select(
                *keep,
                F.col("chunk_index").cast("int").alias("chunk_index"),
                F.col("_c.content").alias("content"),
                F.col("_c.type").alias("type"),
                F.col("_c.language").alias("language"),
            )
        )

    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [in_fields[c] for c in keep]
        + [
            T.StructField("chunk_index", T.IntegerType()),
            T.StructField("content", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("language", T.StringType()),
        ]
    )
    out_cols = keep + ["chunk_index", "content", "type", "language"]

    def chunk_batches(batches):
        import pandas as pd

        for pdf in batches:
            texts = pdf[content_col].tolist()
            keep_vals = {c: pdf[c].tolist() for c in keep}
            out: dict[str, list] = {c: [] for c in out_cols}
            for i, text in enumerate(texts):
                chunks = chunk_markdown(text) if text is not None else []
                for j, ch in enumerate(chunks):
                    for c in keep:
                        out[c].append(keep_vals[c][i])
                    out["chunk_index"].append(j)
                    out["content"].append(ch.content)
                    out["type"].append(ch.type)
                    out["language"].append(ch.language)
            yield pd.DataFrame(out, columns=out_cols)

    return df.mapInPandas(chunk_batches, out_schema)
