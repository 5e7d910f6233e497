"""HTTP provider adapters (embedder + reranker) against a canned local
server — the httptest pattern the reference uses for its store adapter
(adapter/weaviate/store_test.go:92-223).  Covers happy paths, retry on
transient failures, timeout, permanent-error no-retry, payload shape
validation, and API-key hot-swap.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from qurio_spark.functions.providers import (
    ERR_PROVIDER_HTTP,
    ERR_PROVIDER_SHAPE,
    ERR_TIMEOUT,
    HttpEmbedder,
    HttpReranker,
    HttpTokenizer,
)
from qurio_spark.functions.resilience import IngestionError, RetryPolicy

#: zero-backoff policy so tests don't sleep
FAST = RetryPolicy(max_attempts=3, initial_delay_s=0.0, max_delay_s=0.0, multiplier=1.0)

STATE = {"requests": [], "flaky_left": 0}


class Handler(BaseHTTPRequestHandler):
    def log_message(self, *args):  # silence
        pass

    def do_POST(self):
        n = int(self.headers.get("Content-Length", 0))
        payload = json.loads(self.rfile.read(n) or b"{}")
        STATE["requests"].append(
            {
                "path": self.path,
                "payload": payload,
                "headers": {k.lower(): v for k, v in self.headers.items()},
            }
        )
        if self.path == "/embed":
            texts = payload["texts"]
            # deterministic fake: vector = [len(text), i, 0, ...]
            embs = [
                [float(len(t)), float(i)] + [0.0] * 2 for i, t in enumerate(texts)
            ]
            self._json({"embeddings": embs})
        elif self.path == "/embed-flaky":
            if STATE["flaky_left"] > 0:
                STATE["flaky_left"] -= 1
                self.send_error(503)
            else:
                texts = payload["texts"]
                self._json({"embeddings": [[1.0, 0.0, 0.0, 0.0] for _ in texts]})
        elif self.path == "/embed-slow":
            time.sleep(1.0)
            self._json({"embeddings": [[0.0] * 4 for _ in payload["texts"]]})
        elif self.path == "/embed-short":
            self._json({"embeddings": [[1.0]] * len(payload["texts"])})
        elif self.path == "/embed-bad":
            self.send_error(400)
        elif self.path == "/tokenize":
            # deterministic fake tokenizer: 2 tokens per whitespace word
            self._json({"counts": [2 * len(t.split()) for t in payload["texts"]]})
        elif self.path == "/tokenize-short":
            self._json({"counts": [1]})
        elif self.path == "/tokenize-bad-type":
            self._json({"counts": [1.5 for _ in payload["texts"]]})
        elif self.path == "/rerank":
            docs = payload["documents"]
            # score = position from the end -> reversed order
            self._json(
                {
                    "results": [
                        {"index": i, "relevance_score": float(i)}
                        for i in range(len(docs) - 1, -1, -1)
                    ]
                }
            )
        elif self.path == "/rerank-unsorted":
            # scores NOT in response order (allowed by the payload
            # shape): b=0.5 < c=9.0 > a=3.0 -> correct ranking [2,0,1]
            self._json(
                {
                    "results": [
                        {"index": 1, "relevance_score": 0.5},
                        {"index": 2, "relevance_score": 9.0},
                        {"index": 0, "relevance_score": 3.0},
                    ]
                }
            )
        elif self.path == "/rerank-partial":
            self._json({"results": [{"index": 2, "relevance_score": 9.0}]})
        elif self.path == "/rerank-flaky":
            if STATE["flaky_left"] > 0:
                STATE["flaky_left"] -= 1
                self.send_error(429)
            else:
                self._json({"results": [{"index": 0, "relevance_score": 1.0}]})
        elif self.path == "/ocr":
            docs = payload["documents"]
            import base64 as _b64

            texts = []
            for d in docs:
                blob = _b64.b64decode(d)
                # deterministic fake OCR: "recognizes" a fixed body
                # tagged with the blob size so tests can assert the
                # right bytes arrived
                texts.append(
                    {
                        "text": "# Scanned report\n\nThe zymurgy "
                        f"process description ({len(blob)} bytes).",
                        "pages": 1,
                    }
                )
            self._json({"results": texts})
        elif self.path == "/ocr-short":
            self._json({"results": [{"text": "only one"}]})
        elif self.path == "/ocr-null":
            self._json(
                {"results": [{"text": None} for _ in payload["documents"]]}
            )
        elif self.path == "/filter":
            # deterministic fake LLM filter: strips lines containing
            # the NAVNOISE marker and tags the output so tests can
            # tell filtered from deterministic markdown
            outs = []
            for d in payload["documents"]:
                kept = [
                    ln for ln in (d or "").splitlines()
                    if "NAVNOISE" not in ln
                ]
                outs.append({"text": "\n".join(kept).strip()})
            self._json({"results": outs})
        elif self.path == "/filter-empty":
            self._json(
                {"results": [{"text": ""} for _ in payload["documents"]]}
            )
        elif self.path == "/filter-bad":
            self.send_error(400)
        elif self.path == "/ocr-bad":
            self.send_error(400)
        elif self.path == "/ocr-failsecond":
            # first call OCRs fine, every later call is a permanent
            # 4xx — reproduces a mid-batch provider outage across the
            # caller's max_batch chunks
            STATE["ocr_calls"] = STATE.get("ocr_calls", 0) + 1
            if STATE["ocr_calls"] > 1:
                self.send_error(400)
            else:
                self._json(
                    {
                        "results": [
                            {"text": "chunk-one text", "pages": 1}
                            for _ in payload["documents"]
                        ]
                    }
                )
        elif self.path == "/ocr-flaky":
            if STATE["flaky_left"] > 0:
                STATE["flaky_left"] -= 1
                self.send_error(503)
            else:
                self._json(
                    {
                        "results": [
                            {"text": "ocr ok", "pages": 2}
                            for _ in payload["documents"]
                        ]
                    }
                )
        else:
            self.send_error(404)

    def _json(self, obj):
        body = json.dumps(obj).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


class TestHttpEmbedder:
    def test_batch_happy_path(self, server):
        e = HttpEmbedder(f"{server}/embed", dim=4, policy=FAST)
        vecs = e.embed_batch(["ab", "xyz"])
        assert vecs == [[2.0, 0.0, 0.0, 0.0], [3.0, 1.0, 0.0, 0.0]]
        assert e.embed_query("hello") == [5.0, 0.0, 0.0, 0.0]

    def test_chunking_respects_max_batch(self, server):
        STATE["requests"].clear()
        e = HttpEmbedder(f"{server}/embed", dim=4, policy=FAST, max_batch=2)
        out = e.embed_batch(["a", "b", "c", "d", "e"])
        assert len(out) == 5
        calls = [r for r in STATE["requests"] if r["path"] == "/embed"]
        assert [len(c["payload"]["texts"]) for c in calls] == [2, 2, 1]

    def test_transient_503_retries_then_succeeds(self, server):
        STATE["flaky_left"] = 2
        e = HttpEmbedder(f"{server}/embed-flaky", dim=4, policy=FAST)
        assert e.embed_batch(["x"]) == [[1.0, 0.0, 0.0, 0.0]]
        assert STATE["flaky_left"] == 0

    def test_timeout_is_transient_then_raises(self, server):
        e = HttpEmbedder(
            f"{server}/embed-slow",
            dim=4,
            timeout_s=0.2,
            policy=RetryPolicy(max_attempts=2, initial_delay_s=0.0),
        )
        with pytest.raises(IngestionError) as ei:
            e.embed_batch(["x"])
        assert ei.value.code == ERR_TIMEOUT

    def test_permanent_400_no_retry(self, server):
        STATE["requests"].clear()
        e = HttpEmbedder(f"{server}/embed-bad", dim=4, policy=FAST)
        with pytest.raises(IngestionError) as ei:
            e.embed_batch(["x"])
        assert ei.value.code == ERR_PROVIDER_HTTP
        assert len([r for r in STATE["requests"] if r["path"] == "/embed-bad"]) == 1

    def test_shape_validation(self, server):
        e = HttpEmbedder(f"{server}/embed-short", dim=4, policy=FAST)
        with pytest.raises(IngestionError) as ei:
            e.embed_batch(["x"])
        assert ei.value.code == ERR_PROVIDER_SHAPE

    def test_api_key_hot_swap(self, server):
        STATE["requests"].clear()
        key = {"v": "key-one"}
        e = HttpEmbedder(
            f"{server}/embed", dim=4, policy=FAST, key_provider=lambda: key["v"]
        )
        e.embed_batch(["x"])
        key["v"] = "key-two"  # settings change, no restart
        e.embed_batch(["y"])
        sent = [
            r["headers"].get("x-goog-api-key")
            for r in STATE["requests"]
            if r["path"] == "/embed"
        ]
        assert sent == ["key-one", "key-two"]

    def test_udf_runs_in_executors(self, server, spark):
        """The pandas UDF path: executors call the endpoint per Arrow
        batch and the vectors land as array<float> rows."""
        from pyspark.sql import functions as F

        e = HttpEmbedder(f"{server}/embed", dim=4, policy=FAST)
        df = spark.createDataFrame([("ab",), ("wxyz",)], ["text"]).repartition(1)
        rows = {
            r["text"]: r["emb"]
            for r in df.withColumn("emb", e.udf()(F.col("text"))).collect()
        }
        assert rows["ab"][0] == 2.0 and rows["wxyz"][0] == 4.0


class TestHttpReranker:
    def test_reorders_by_provider_scores(self, server):
        r = HttpReranker(f"{server}/rerank", policy=FAST)
        assert r.rerank("q", ["a", "b", "c"]) == [2, 1, 0]

    def test_unsorted_provider_results_are_sorted_by_score(self, server):
        r = HttpReranker(f"{server}/rerank-unsorted", policy=FAST)
        assert r.rerank("q", ["a", "b", "c"]) == [2, 0, 1]

    def test_partial_results_keep_tail_order(self, server):
        r = HttpReranker(f"{server}/rerank-partial", policy=FAST)
        assert r.rerank("q", ["a", "b", "c", "d"]) == [2, 0, 1, 3]

    def test_429_retries(self, server):
        STATE["flaky_left"] = 1
        r = HttpReranker(f"{server}/rerank-flaky", policy=FAST)
        assert r.rerank("q", ["only"]) == [0]

    def test_empty_contents(self, server):
        assert HttpReranker(f"{server}/rerank", policy=FAST).rerank("q", []) == []

    def test_drops_into_apply_rerank(self, server):
        from qurio_spark.operators.rerank import apply_rerank

        rows = [{"content": "a"}, {"content": "b"}, {"content": "c"}]
        out = apply_rerank(rows, "q", HttpReranker(f"{server}/rerank", policy=FAST))
        assert [r["content"] for r in out] == ["c", "b", "a"]

    def test_bearer_key_hot_swap(self, server):
        STATE["requests"].clear()
        key = {"v": "k1"}
        r = HttpReranker(
            f"{server}/rerank", policy=FAST, key_provider=lambda: key["v"]
        )
        r.rerank("q", ["a"])
        key["v"] = "k2"
        r.rerank("q", ["a"])
        sent = [
            req["headers"].get("authorization")
            for req in STATE["requests"]
            if req["path"] == "/rerank"
        ]
        assert sent == ["Bearer k1", "Bearer k2"]


class TestProviderIntegration:
    def test_http_embedder_drives_the_chunk_pipeline(self, server, spark):
        """The remote-shaped embedder drops into build_chunks unchanged
        (Embedder protocol): chunks come back with provider vectors."""
        from qurio_spark.plans.pipeline import build_chunks
        from qurio_spark.schemas import DOCUMENTS_RAW

        docs = spark.createDataFrame(
            [(
                "s1", "u/a", "T", "p",
                "# Title\n\nEnough prose content to survive the noise filter here.",
                [], 0, "success", None, None,
            )],
            DOCUMENTS_RAW,
        )
        e = HttpEmbedder(f"{server}/embed", dim=4, policy=FAST)
        rows = build_chunks(docs, embedder=e).collect()
        assert rows
        for r in rows:
            # fake server returns [len(text), idx, 0, 0]
            assert len(r["embedding"]) == 4 and r["embedding"][0] > 0

    def test_http_reranker_drives_engine_search(self, server, spark):
        """Engine.search with the HTTP reranker: provider order (our
        fake reverses) is applied to the collected top-k."""
        from qurio_spark.api import Engine
        from qurio_spark.plans.pipeline import build_chunks
        from qurio_spark.schemas import DOCUMENTS_RAW

        docs = spark.createDataFrame(
            [
                ("s1", "u/a", "A", "p",
                 "# Spark joins\n\nBroadcast and shuffle joins compared in detail.",
                 [], 0, "success", None, None),
                ("s1", "u/b", "B", "p",
                 "# Spark shuffles\n\nHow shuffle partitions and skew behave.",
                 [], 0, "success", None, None),
            ],
            DOCUMENTS_RAW,
        )
        chunks = build_chunks(docs)
        base = Engine(chunks=chunks).search("spark shuffle", alpha=0.0, limit=5)
        rr = Engine(
            chunks=chunks, reranker=HttpReranker(f"{server}/rerank", policy=FAST)
        ).search("spark shuffle", alpha=0.0, limit=5)
        assert [r["chunk_id"] for r in rr] == [r["chunk_id"] for r in base][::-1]


class TestHttpTokenizer:
    def test_batch_happy_path(self, server):
        t = HttpTokenizer(f"{server}/tokenize", policy=FAST)
        assert t.count_batch(["one two", "a b c", ""]) == [4, 6, 0]

    def test_count_mismatch_is_shape_error(self, server):
        t = HttpTokenizer(f"{server}/tokenize-short", policy=FAST)
        with pytest.raises(IngestionError) as e:
            t.count_batch(["a", "b"])
        assert e.value.code == ERR_PROVIDER_SHAPE

    def test_non_int_counts_are_shape_error(self, server):
        t = HttpTokenizer(f"{server}/tokenize-bad-type", policy=FAST)
        with pytest.raises(IngestionError) as e:
            t.count_batch(["a"])
        assert e.value.code == ERR_PROVIDER_SHAPE

    def test_bearer_key_header(self, server):
        STATE["requests"].clear()
        t = HttpTokenizer(
            f"{server}/tokenize", key_provider=lambda: "tok-key", policy=FAST
        )
        t.count_batch(["x"])
        assert (
            STATE["requests"][-1]["headers"]["authorization"]
            == "Bearer tok-key"
        )

    def test_udf_overrides_pack_shards_budget(self, server, spark):
        """The production-faithful path: pack_shards budgets on the
        provider's counts (2x the hermetic whitespace count via the
        fake), so shard boundaries move vs the default estimate."""
        from qurio_spark.operators.sharding import pack_shards

        docs = spark.createDataFrame(
            [("s", i, "w " * 10) for i in range(6)],
            "source string, doc_id int, text string",
        )
        t = HttpTokenizer(f"{server}/tokenize", policy=FAST)
        default = pack_shards(docs, token_budget=40)
        custom = pack_shards(docs, token_budget=40, token_count=t.udf())
        # hermetic: 10 tokens/doc -> 4 docs per 40-token shard;
        # provider: 20 tokens/doc -> 2 docs per shard
        assert [r["shard_id"] for r in default.orderBy("doc_id").collect()] \
            == [0, 0, 0, 0, 1, 1]
        assert [r["n_tokens"] for r in custom.orderBy("doc_id").collect()] \
            == [20] * 6
        assert [r["shard_id"] for r in custom.orderBy("doc_id").collect()] \
            == [0, 0, 1, 1, 2, 2]

    def test_export_packs_under_custom_count(self, server, spark, tmp_path):
        from qurio_spark.operators.sharding import export_jsonl_shards

        docs = spark.createDataFrame(
            [("s", i, "w " * 10) for i in range(4)],
            "source string, doc_id int, text string",
        )
        t = HttpTokenizer(f"{server}/tokenize", policy=FAST)
        m = export_jsonl_shards(
            docs, str(tmp_path), token_budget=40, token_count=t.udf()
        ).orderBy("shard").collect()
        assert [(r["shard"], r["n_docs"], r["n_tokens"]) for r in m] == [
            ("s-0", 2, 40),
            ("s-1", 2, 40),
        ]


class TestHttpOcrProvider:
    def test_batch_happy_path(self, server):
        from qurio_spark.functions.providers import HttpOcrProvider

        o = HttpOcrProvider(f"{server}/ocr", policy=FAST)
        res = o.ocr_batch([b"abc", b"defgh"])
        assert len(res) == 2
        assert "(3 bytes)" in res[0]["text"]
        assert "(5 bytes)" in res[1]["text"]
        assert res[0]["pages"] == 1

    def test_count_mismatch_is_shape_error(self, server):
        from qurio_spark.functions.providers import HttpOcrProvider

        o = HttpOcrProvider(f"{server}/ocr-short", policy=FAST)
        with pytest.raises(IngestionError) as ei:
            o.ocr_batch([b"a", b"b"])
        assert ei.value.code == ERR_PROVIDER_SHAPE

    def test_permanent_http_error_no_retry(self, server):
        from qurio_spark.functions.providers import HttpOcrProvider

        STATE["requests"].clear()
        o = HttpOcrProvider(f"{server}/ocr-bad", policy=FAST)
        with pytest.raises(IngestionError) as ei:
            o.ocr_batch([b"a"])
        assert ei.value.code == ERR_PROVIDER_HTTP
        assert len(STATE["requests"]) == 1  # 4xx never retries

    def test_transient_retries_then_succeeds(self, server):
        from qurio_spark.functions.providers import HttpOcrProvider

        STATE["flaky_left"] = 2
        o = HttpOcrProvider(f"{server}/ocr-flaky", policy=FAST)
        res = o.ocr_batch([b"a"])
        assert res[0]["text"] == "ocr ok" and res[0]["pages"] == 2


class TestOcrConvertPipeline:
    """The reference-gap e2e: scanned PDF (image-only, no text
    operators) -> hermetic quarantine without a provider -> with the
    fake OCR provider: convert -> chunk -> BM25 search finds the
    recognized text."""

    def _scanned_pdf(self) -> bytes:
        from tests.pdf_fixture import make_image_pdf

        px = bytes(range(48)) * 4  # 8x8 RGB raw samples
        return make_image_pdf(8, 8, px)

    def test_absent_provider_keeps_quarantine(self, spark):
        from qurio_spark.sources.multimodal import convert_files

        df = spark.createDataFrame(
            [("up/scan.pdf", bytearray(self._scanned_pdf()))],
            "path string, content binary",
        )
        row = convert_files(df).collect()[0]
        assert row["status"] == "failed"
        assert row["error"] == "ERR_CONVERSION_STUBBED"

    def test_ocr_to_chunk_to_search(self, spark, server):
        from qurio_spark.functions.providers import HttpOcrProvider
        from qurio_spark.operators.bm25 import build_index, score_query
        from qurio_spark.plans.pipeline import build_chunks
        from qurio_spark.sources.multimodal import (
            convert_files,
            uploads_to_docs_raw,
        )
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [
                ("up/scan.pdf", bytearray(self._scanned_pdf())),
                ("up/notes.md", bytearray(b"# Notes\n\nplain markdown")),
            ],
            "path string, content binary",
        )
        ocr = HttpOcrProvider(f"{server}/ocr", policy=FAST)
        converted = convert_files(df, ocr=ocr)
        rows = {r["path"]: r for r in converted.collect()}
        assert rows["up/scan.pdf"]["status"] == "success"
        assert "zymurgy" in rows["up/scan.pdf"]["content"]
        assert rows["up/scan.pdf"]["pages"] == 1
        assert rows["up/notes.md"]["status"] == "success"  # untouched

        docs = uploads_to_docs_raw(converted, "uploads")
        chunks = build_chunks(docs)
        hits = score_query(
            build_index(
                chunks.select(
                    F.concat_ws("#", "url", "chunk_index").alias("doc_id"),
                    F.col("content").alias("text"),
                )
            ),
            "zymurgy process",
        ).filter(F.col("bm25") > 0).collect()
        assert any(h["doc_id"].startswith("up/scan.pdf") for h in hits)

    def test_provider_failure_quarantines_slice(self, spark, server):
        from qurio_spark.functions.providers import HttpOcrProvider
        from qurio_spark.sources.multimodal import convert_files

        df = spark.createDataFrame(
            [("up/scan.pdf", bytearray(self._scanned_pdf()))],
            "path string, content binary",
        )
        ocr = HttpOcrProvider(f"{server}/ocr-bad", policy=FAST)
        row = convert_files(df, ocr=ocr).collect()[0]
        assert row["status"] == "failed"
        assert row["error"] == ERR_PROVIDER_HTTP

    def test_late_chunk_failure_keeps_earlier_chunk_results(self, spark, server):
        """ADVICE r10: a terminal failure in a LATER provider chunk
        must not discard the OCR texts the earlier chunks already
        returned — only the failed chunk's rows quarantine."""
        from qurio_spark.functions.providers import HttpOcrProvider
        from qurio_spark.sources.multimodal import convert_files

        STATE["ocr_calls"] = 0
        df = spark.createDataFrame(
            [
                ("up/a.pdf", bytearray(self._scanned_pdf())),
                ("up/b.pdf", bytearray(self._scanned_pdf())),
                ("up/c.pdf", bytearray(self._scanned_pdf())),
            ],
            "path string, content binary",
        ).coalesce(1)  # one Arrow batch -> chunks split inside it
        ocr = HttpOcrProvider(
            f"{server}/ocr-failsecond", policy=FAST, max_batch=2
        )
        rows = {r["path"]: r for r in convert_files(df, ocr=ocr).collect()}
        # chunk 1 (a, b) succeeded and MUST keep its texts
        assert rows["up/a.pdf"]["status"] == "success"
        assert rows["up/a.pdf"]["content"] == "chunk-one text"
        assert rows["up/b.pdf"]["status"] == "success"
        # chunk 2 (c) failed permanently -> quarantined under the code
        assert rows["up/c.pdf"]["status"] == "failed"
        assert rows["up/c.pdf"]["error"] == ERR_PROVIDER_HTTP

    def test_null_ocr_text_keeps_quarantine(self, spark, server):
        from qurio_spark.functions.providers import HttpOcrProvider
        from qurio_spark.sources.multimodal import convert_files

        df = spark.createDataFrame(
            [("up/scan.pdf", bytearray(self._scanned_pdf()))],
            "path string, content binary",
        )
        ocr = HttpOcrProvider(f"{server}/ocr-null", policy=FAST)
        row = convert_files(df, ocr=ocr).collect()[0]
        assert row["status"] == "failed"
        assert row["error"] == "ERR_CONVERSION_STUBBED"


class TestHttpContentFilter:
    """S2 closing adapter: the gemini-flash-shaped LLM boilerplate
    filter with the reference's 3-failure/5-min circuit breaker
    (handlers/web.py:28-84) — always falling back to the deterministic
    markdown, never failing a page."""

    def test_filter_batch_happy_path_and_payload_shape(self, server):
        from qurio_spark.functions.providers import (
            CONTENT_FILTER_INSTRUCTION,
            HttpContentFilter,
        )

        STATE["requests"].clear()
        f = HttpContentFilter(
            f"{server}/filter", policy=FAST,
            key_provider=lambda: "sk-123",
        )
        out = f.filter_batch(["keep me\nNAVNOISE menu\nand me", "solo"])
        assert out == ["keep me\nand me", "solo"]
        req = STATE["requests"][-1]
        assert req["payload"]["instruction"] == CONTENT_FILTER_INSTRUCTION
        assert req["headers"]["authorization"] == "Bearer sk-123"

    def test_terminal_failure_returns_none_and_opens_breaker(self, server):
        from qurio_spark.functions.providers import HttpContentFilter

        STATE["requests"].clear()
        f = HttpContentFilter(f"{server}/filter-bad", policy=FAST)
        # three consecutive chunk failures open the breaker...
        for _ in range(3):
            assert f.filter_batch(["x"]) == [None]
        assert f.breaker.is_open()
        n = len(STATE["requests"])
        # ...after which calls bypass WITHOUT hitting the provider
        assert f.filter_batch(["y", "z"]) == [None, None]
        assert len(STATE["requests"]) == n

    def test_empty_filter_output_is_failure_and_falls_back(self, server):
        from qurio_spark.functions.providers import HttpContentFilter

        f = HttpContentFilter(f"{server}/filter-empty", policy=FAST)
        assert f.filter_batch(["some page"]) == [None]
        assert f.breaker._consecutive == 1  # counted toward opening

    def test_success_resets_breaker(self, server):
        from qurio_spark.functions.providers import HttpContentFilter

        f = HttpContentFilter(f"{server}/filter", policy=FAST)
        f.breaker.record_failure()
        f.breaker.record_failure()
        assert f.filter_batch(["ok"]) == ["ok"]
        assert f.breaker._consecutive == 0

    def test_convert_html_column_with_filter_and_txt_bypass(
        self, spark, server
    ):
        from qurio_spark.functions.htmlmd import convert_html_column
        from qurio_spark.functions.providers import HttpContentFilter

        STATE["requests"].clear()
        html = (
            "<html><body><p>real content</p>"
            "<p>NAVNOISE cookie banner</p></body></html>"
        )
        df = spark.createDataFrame(
            [
                ("https://d.io/guide", html),
                ("https://d.io/llms.txt", html),
            ],
            "url string, html string",
        ).coalesce(1)
        f = HttpContentFilter(f"{server}/filter", policy=FAST)
        rows = {
            r["url"]: r["markdown"]
            for r in convert_html_column(
                df, content_filter=f, url_col="url"
            ).collect()
        }
        assert "NAVNOISE" not in rows["https://d.io/guide"]
        assert "real content" in rows["https://d.io/guide"]
        # text-file bypass: llms.txt keeps deterministic markdown
        assert "NAVNOISE" in rows["https://d.io/llms.txt"]
        sent = [
            d
            for req in STATE["requests"]
            for d in req["payload"]["documents"]
        ]
        assert len(sent) == 1  # only the non-.txt page reached the provider

    def test_convert_html_column_filter_failure_keeps_deterministic(
        self, spark, server
    ):
        from qurio_spark.functions.htmlmd import convert_html_column
        from qurio_spark.functions.providers import HttpContentFilter

        df = spark.createDataFrame(
            [("<html><body><p>page text</p></body></html>",)], "html string"
        )
        f = HttpContentFilter(f"{server}/filter-bad", policy=FAST)
        row = convert_html_column(df, content_filter=f).collect()[0]
        assert "page text" in row["markdown"]

    def test_crawl_fetch_wrapper_filters_and_bypasses(self, server):
        from qurio_spark.functions.providers import HttpContentFilter
        from qurio_spark.operators.crawl import with_content_filter

        def fake_fetch(task):
            return {
                "content": "body line\nNAVNOISE footer",
                "links": ["https://d.io/a"],
                "title": "T",
            }

        f = HttpContentFilter(f"{server}/filter", policy=FAST)
        fetch = with_content_filter(fake_fetch, f)
        page = fetch({"url": "https://d.io/p", "source_id": "s", "depth": 0})
        assert page["content"] == "body line"
        assert page["links"] == ["https://d.io/a"]  # link discovery untouched
        # .txt bypass
        page = fetch({"url": "https://d.io/llms.txt"})
        assert "NAVNOISE" in page["content"]
        # ...and a query string / fragment must not defeat the bypass
        # (ADVICE r11: the check runs on the URL path)
        for u in (
            "https://d.io/llms.txt?v=2",
            "https://d.io/notes.txt#sec",
        ):
            page = fetch({"url": u})
            assert "NAVNOISE" in page["content"], u

    def test_failed_and_empty_fetches_never_reach_the_filter(self):
        """A site outage must neither spend LLM calls nor poison the
        filter's breaker with crawl failures (the reference only
        filters successfully fetched markdown, web.py:244-276) — and a
        provider response to an empty doc must not overwrite a failed
        page's content."""
        from qurio_spark.operators.crawl import with_content_filter

        class MustNotBeCalled:
            def filter_batch(self, texts):
                raise AssertionError(
                    f"filter called on unfit fetch: {texts!r}"
                )

        fetch = with_content_filter(
            lambda t: {
                "status": "failed", "content": None,
                "error": "ERR_CRAWL_TIMEOUT",
            },
            MustNotBeCalled(),
        )
        page = fetch({"url": "https://d.io/down", "source_id": "s"})
        assert page["status"] == "failed" and page["content"] is None

        fetch = with_content_filter(
            lambda t: {"status": "success", "content": "   \n"},
            MustNotBeCalled(),
        )
        page = fetch({"url": "https://d.io/empty", "source_id": "s"})
        assert page["content"] == "   \n"  # untouched

    def test_worker_shared_is_one_instance_per_config(self, server):
        """worker_shared: config-identical copies (what each task
        deserializes) resolve to ONE instance per process, so breaker
        state accumulates across tasks; a different endpoint is a
        different slot."""
        from qurio_spark.functions.providers import (
            HttpContentFilter,
            worker_shared,
        )

        a = HttpContentFilter(f"{server}/filter", policy=FAST)
        b = HttpContentFilter(f"{server}/filter", policy=FAST)
        other = HttpContentFilter(f"{server}/filter-bad", policy=FAST)
        assert worker_shared(a) is worker_shared(b)
        assert worker_shared(a) is not worker_shared(other)
        # breaker mutations through either handle land on the shared one
        worker_shared(b).breaker.record_failure()
        assert worker_shared(a).breaker._consecutive == 1

    def test_worker_shared_keys_on_full_config(self, server):
        """ADVICE r11: providers sharing endpoint+model but differing
        in key_provider / timeout_s / retry policy must NOT collapse to
        one slot — that silently used the wrong credentials/timeouts
        for later tasks in the same worker."""
        from qurio_spark.functions.providers import (
            HttpEmbedder,
            RetryPolicy,
            worker_shared,
        )

        def key_a():
            return "key-a"

        def key_b():
            return "key-b"

        base = dict(endpoint=f"{server}/embed", dim=4)
        e1 = HttpEmbedder(key_provider=key_a, **base)
        e2 = HttpEmbedder(key_provider=key_b, **base)
        assert worker_shared(e1) is not worker_shared(e2)
        t1 = HttpEmbedder(timeout_s=1.0, **base)
        t2 = HttpEmbedder(timeout_s=9.0, **base)
        assert worker_shared(t1) is not worker_shared(t2)
        p1 = HttpEmbedder(policy=RetryPolicy(max_attempts=1), **base)
        p2 = HttpEmbedder(policy=RetryPolicy(max_attempts=5), **base)
        assert worker_shared(p1) is not worker_shared(p2)
        # ...while genuinely identical config still shares one slot
        s1 = HttpEmbedder(key_provider=key_a, timeout_s=2.0, **base)
        s2 = HttpEmbedder(key_provider=key_a, timeout_s=2.0, **base)
        assert worker_shared(s1) is worker_shared(s2)
        # an explicit cache_key pins identity outright
        c1 = HttpEmbedder(timeout_s=1.0, **base)
        c2 = HttpEmbedder(timeout_s=9.0, **base)
        c1.cache_key = c2.cache_key = "pinned"
        assert worker_shared(c1) is worker_shared(c2)

    def test_crawl_e2e_breaker_open_bypasses_to_deterministic(self, server):
        """The done-criterion e2e: crawl with a DEAD filter endpoint —
        after 3 failures the breaker opens and every later page keeps
        its deterministic markdown; the crawl itself never fails."""
        from pyspark.sql import SparkSession

        from qurio_spark.functions.providers import HttpContentFilter
        from qurio_spark.operators.crawl import run_crawl, with_content_filter

        spark = SparkSession.getActiveSession()
        pages_payload = {
            f"https://d.io/p{i}": {
                "content": f"page {i} body",
                "links": [],
                "title": f"P{i}",
            }
            for i in range(5)
        }

        def fake_fetch(task):
            return dict(pages_payload[task["url"]])

        f = HttpContentFilter(f"{server}/filter-bad", policy=FAST)
        wrapped = with_content_filter(fake_fetch, f)

        def batch_fetch(tasks):
            return [
                {**t, "status": "success", **wrapped(t)} for t in tasks
            ]

        seeds = spark.createDataFrame(
            [("s", u) for u in pages_payload], "source_id string, url string"
        )
        STATE["requests"].clear()
        pages, docs = run_crawl(spark, seeds, batch_fetch, max_depth=0)
        got = {r["url"]: r["content"] for r in docs.collect()}
        assert got == {u: p["content"] for u, p in pages_payload.items()}
        # breaker opened after 3 terminal failures -> at most 3 calls
        # (x FAST retries is 3 exactly: 4xx never retries)
        assert len(STATE["requests"]) == 3
        assert f.breaker.is_open()
